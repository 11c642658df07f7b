"""LLM-data-pipeline queries vs DuckDB oracles (documents / embeddings).

The minhash/simhash/fingerprint hash families are deterministic integer
arithmetic (no RNG library), so the oracles replay them exactly in SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llmdata import (BruteForceKNNJoin, ConnectedComponents,
                       DocumentFingerprinter, EmbeddingCosineDeduplicator,
                       ExactDeduplicator, IncrementalMinHashDeduplicator,
                       LanguageIdentifier, MinHashLSHDeduplicator,
                       MinHashSignature, NGramJaccardDeduplicator,
                       SimHashDeduplicator, TextQualityScorer, TokenCounter)
from ..llmdata.dedup import MINHASH_PRIME, _hash_family, shingles
from ..llmdata.textanalysis import LANG_MARKERS
from . import SQL_Q4, load, q4

# shared SQL fragments -------------------------------------------------------

_SPAN_K = 16  # window length: catches copied passages in the short testdocs


def _span_removal_ctes(k: int, rel: str, extra: str = "") -> str:
    """The shared DuckDB replay of DuplicateSpanRemover over relation
    ``rel`` (must expose doc_id, text[, extra]): CTE chain ending in
    ``kept(doc_id{extra}, ot, kt)`` where ``kt`` is the surviving token
    list.  Used by dup_span_removal and llm_prep_pipeline_v6 so a fix to
    the replay lands in both oracles."""
    from ..llmdata.dedup import SPAN_MULT
    return f"""d AS (SELECT doc_id{extra},
                  list_filter(string_split(text, ' '), t -> t <> '') AS ot
           FROM {rel}),
th AS (SELECT doc_id{extra}, ot,
              list_transform(ot, s -> {TOKHASH.format(t='lower(s)')}) AS h
       FROM d),
ph AS (SELECT doc_id, unnest(range(1, len(h) - {k} + 2)) AS pos, h
       FROM th WHERE len(h) >= {k}),
sp AS (SELECT doc_id, pos,
              list_reduce(h[pos:pos+{k}-1],
                          (a, b) -> (a * {SPAN_MULT} + b) % {MINHASH_PRIME})
              AS sh
       FROM ph),
idx AS (SELECT sh, min(doc_id) AS owner FROM sp GROUP BY sh
        HAVING count(DISTINCT doc_id) >= 2),
cov AS (SELECT doc_id, list(DISTINCT pos) AS starts
        FROM sp JOIN idx USING (sh) WHERE doc_id <> owner
        GROUP BY doc_id),
kept AS (SELECT doc_id{extra}, ot,
                CASE WHEN c.starts IS NULL THEN ot
                     ELSE list_filter(ot, (t, i) ->
                       len(list_filter(c.starts,
                                       s -> s <= i AND i < s + {k})) = 0)
                END AS kt
         FROM th LEFT JOIN cov c USING (doc_id))"""


TOKS = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
TOKHASH = ("list_reduce(list_transform(range(1, length({t}) + 1), "
           "i -> CAST(ascii(substr({t}, CAST(i AS INT), 1)) AS BIGINT)), "
           f"(a, b) -> (a * 31 + b) % {MINHASH_PRIME})")


def _shingle_sql(n: int) -> str:
    """Distinct word n-gram shingles of text (matches dedup.shingles)."""
    return (f"list_distinct(CASE WHEN len({TOKS}) >= {n} THEN "
            f"list_transform(range(1, len({TOKS}) - {n} + 2), "
            f"i -> array_to_string(({TOKS})[i:i+{n}-1], ' ')) "
            f"ELSE [array_to_string({TOKS}, ' ')] END)")


# --- benchmark decontamination ----------------------------------------------
# stand-in eval set: every 97th document; a training doc is contaminated
# iff it shares any 5-gram with the eval set

def decontamination(spark, sf_dir):
    from ..llmdata import Decontaminator
    docs = load(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 97 != 0)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    clean, contam = Decontaminator(idCol="doc_id", textCol="text",
                                   shingleSize=5).transform(train, bench)
    return (clean.select("doc_id", F.lit(0).alias("contaminated"))
            .unionAll(contam.select("doc_id", F.lit(1).alias("contaminated"))))


DECONTAMINATION_SQL = f"""
WITH bg AS (
  SELECT DISTINCT unnest({_shingle_sql(5)}) AS g
  FROM documents WHERE doc_id % 97 = 0),
tg AS (
  SELECT doc_id, unnest({_shingle_sql(5)}) AS g
  FROM documents WHERE doc_id % 97 <> 0),
hit AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (g))
SELECT d.doc_id,
       CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS INT) AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
LEFT JOIN hit h ON d.doc_id = h.doc_id
"""


def contamination_score(spark, sf_dir):
    """Graded decontamination: fraction of each training document's
    distinct 5-grams appearing in the benchmark split — the PaLM-style
    partial-contamination signal (thresholding left to policy)."""
    from ..llmdata import ContaminationScorer
    docs = load(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 97 != 0)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    out = ContaminationScorer(idCol="doc_id", textCol="text",
                              shingleSize=5).transform(train, bench)[0]
    return out.select("doc_id", "n_grams", "n_matched",
                      q4(F.col("overlap")).alias("overlap_q4"))


CONTAMINATION_SCORE_SQL = f"""
WITH bg AS (
  SELECT DISTINCT unnest({_shingle_sql(5)}) AS g
  FROM documents WHERE doc_id % 97 = 0),
tg AS (
  SELECT doc_id, g FROM (
    SELECT doc_id, unnest({_shingle_sql(5)}) AS g
    FROM documents WHERE doc_id % 97 <> 0)
  WHERE g IS NOT NULL),
stats AS (
  SELECT tg.doc_id, count(*) AS n_grams,
         sum(CASE WHEN bg.g IS NOT NULL THEN 1 ELSE 0 END) AS n_matched
  FROM tg LEFT JOIN bg USING (g) GROUP BY tg.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(s.n_grams, 0) AS INT) AS n_grams,
       CAST(COALESCE(s.n_matched, 0) AS INT) AS n_matched,
       {SQL_Q4.format('COALESCE(s.n_matched * 1.0 / NULLIF(s.n_grams, 0), 0.0)')} AS overlap_q4
FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
LEFT JOIN stats s USING (doc_id)
"""


# --- exact dedup ------------------------------------------------------------

def exact_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    d = ExactDeduplicator(inputCol="text").set_(idCol="doc_id")
    return d.transform(docs)[0].select("doc_id")


EXACT_DEDUP_SQL = """
SELECT doc_id FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
"""

# --- corpus snapshot diff ---------------------------------------------------
# simulated refresh: yesterday = docs minus the %7 block, with the %5
# block truncated to 40 chars (edits); today = docs minus the %11==3
# block (deletions).  Diff classifies added / removed / changed; docs
# whose text is already <= 40 chars land unchanged — the comparison is
# on content, not on which block the id fell in.

def snapshot_diff(spark, sf_dir):
    from ..llmdata import SnapshotDiff
    docs = load(spark, sf_dir, "documents")
    old = (docs.where(F.col("doc_id") % 7 != 0)
           .withColumn("text", F.when(F.col("doc_id") % 5 == 0,
                                      F.substring("text", 1, 40))
                       .otherwise(F.col("text"))))
    new = docs.where(F.col("doc_id") % 11 != 3)
    out = SnapshotDiff(idCol="doc_id", contentCol="text").transform(old, new)[0]
    return out.select("doc_id", "status")


SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN substr(text, 1, 40) ELSE text END AS text
  FROM documents WHERE doc_id % 7 <> 0),
new AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 3)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
WHERE o.doc_id IS NULL OR n.doc_id IS NULL
   OR o.text IS DISTINCT FROM n.text
"""

# --- minhash signature ------------------------------------------------------

N_HASHES, SEED = 16, 42


def minhash_signature(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id",
                       shingles(F.col("text"), 3).alias("sh"))
    sig = MinHashSignature(inputCol="sh", outputCol="sig",
                           numHashes=N_HASHES, seed=SEED).transform(base)[0]
    # posexplode_outer: the plain posexplode's implicit size>0 filter gets
    # pushed below the scan-fanout Exchange and re-evaluates the signature
    # UDF twice (measured 3x query time); signatures are never empty, so
    # outer explode emits identical rows with ONE evaluation
    return sig.select("doc_id", F.posexplode_outer("sig").alias("h", "v"))


def _minhash_sql() -> str:
    fam = _hash_family(N_HASHES, SEED)
    sh = _shingle_sql(3)
    hashes = f"list_transform({sh}, s -> {TOKHASH.format(t='s')})"
    return (f"WITH hashed AS (SELECT doc_id, {hashes} AS hs FROM documents)\n"
            + " UNION ALL ".join(
                f"SELECT doc_id, {i} AS h, "
                f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {MINHASH_PRIME})) AS v "
                "FROM hashed" for i, (a, b) in enumerate(fam)))


MINHASH_SQL = _minhash_sql()

# --- minhash-LSH near-dup pairs --------------------------------------------

def minhash_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    d = MinHashLSHDeduplicator(idCol="doc_id", textCol="text", shingleSize=3,
                               numHashes=16, bandSize=4, threshold=0.4, seed=SEED)
    out = d.transform(docs)[0]
    return out.select("id_a", "id_b", q4(F.col("jaccard")).alias("jaccard"))


def minhash_join_skewsafe(spark, sf_dir):
    """Skew-safe LSH similarity join: over-cap (hot) band buckets are NOT
    dropped — their pairs come from a blocked self-join whose join key
    extends to the block pair, so a df-D bucket spreads its D² candidate
    work over numBlocks(numBlocks+1)/2 join groups instead of serializing
    onto one task.  Exact recall (same oracle as the uncapped join) at
    ~numBlocks× replication of hot-bucket rows only — the strategy for
    corpora where degenerate buckets carry real duplicates rather than
    droppable boilerplate."""
    docs = load(spark, sf_dir, "documents")
    d = MinHashLSHDeduplicator(idCol="doc_id", textCol="text", shingleSize=3,
                               numHashes=16, bandSize=4, threshold=0.4,
                               seed=SEED).set_(maxBandDocFreq=8,
                                               hotBucketStrategy="block",
                                               numBlocks=4)
    out = d.transform(docs)[0]
    return out.select("id_a", "id_b", q4(F.col("jaccard")).alias("jaccard"))


def _minhash_dedup_sql() -> str:
    fam = _hash_family(16, SEED)
    sh = _shingle_sql(3)
    hashes = f"list_transform(sh, s -> {TOKHASH.format(t='s')})"
    sig_items = ", ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {MINHASH_PRIME}))"
        for a, b in fam)
    n_bands = 16 // 4
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band, "
        f"array_to_string(sig[{b * 4 + 1}:{b * 4 + 4}], '_') AS bsig FROM sigs"
        for b in range(n_bands))
    return f"""
WITH base AS (SELECT doc_id, {sh} AS sh FROM documents),
hashed AS (SELECT doc_id, sh, {hashes} AS hs FROM base),
sigs AS (SELECT doc_id, sh, [{sig_items}] AS sig FROM hashed),
bands AS ({band_rows}),
pairs AS (
  SELECT DISTINCT a.doc_id id_a, b.doc_id id_b, a.sh sh_a, b.sh sh_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
  WHERE a.doc_id < b.doc_id),
scored AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
           / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS j
  FROM pairs)
SELECT id_a, id_b, {SQL_Q4.format('j')} AS jaccard FROM scored WHERE j >= 0.4
"""


MINHASH_DEDUP_SQL = _minhash_dedup_sql()

# --- incremental dedup vs a persisted signature store -----------------------
# store = signatures of docs with doc_id % 5 != 0 (the "historical corpus"),
# new batch = doc_id % 5 == 0; matches are scored by the MinHash estimator
# (fraction of equal signature positions) since the store keeps no text


def incremental_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    store = (MinHashSignature(inputCol="sh", outputCol="sig",
                              numHashes=N_HASHES, seed=SEED)
             .transform(old.select("doc_id",
                                   shingles(F.col("text"), 3).alias("sh")))[0]
             .select("doc_id", "sig"))
    d = IncrementalMinHashDeduplicator(
        idCol="doc_id", textCol="text", shingleSize=3, numHashes=N_HASHES,
        bandSize=4, threshold=0.5, seed=SEED)
    matches, _updated = d.transform(new, store)
    return matches.select("id", "match_id",
                          q4(F.col("est_jaccard")).alias("est_jaccard"))


def incremental_dedup_bucketed(spark, sf_dir):
    """The incremental path's 100 TB layout made mechanical: the store's
    LSH band relation is PERSISTED BUCKETED on (band, bsig)
    (io.write_bucketed) and re-read from the catalog, so the candidate
    join's corpus-sized store side satisfies its hash distribution from
    the scan — zero Exchange (plan-asserted in tests/test_io.py); only
    the small new batch shuffles.  Same matches as incremental_dedup
    (same oracle)."""
    from ..io import read_table, write_bucketed
    docs = load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    store = (MinHashSignature(inputCol="sh", outputCol="sig",
                              numHashes=N_HASHES, seed=SEED)
             .transform(old.select("doc_id",
                                   shingles(F.col("text"), 3).alias("sh")))[0]
             .select("doc_id", "sig"))
    d = IncrementalMinHashDeduplicator(
        idCol="doc_id", textCol="text", shingleSize=3, numHashes=N_HASHES,
        bandSize=4, threshold=0.5, seed=SEED)
    write_bucketed(d.store_band_relation(store), "incr_store_bands_q",
                   ["band", "bsig"], 8)
    bands = read_table(spark, "incr_store_bands_q")
    matches, _updated = d.transform(new, store, bands)
    return matches.select("id", "match_id",
                          q4(F.col("est_jaccard")).alias("est_jaccard"))


def _incremental_dedup_sql(src: str = "documents") -> str:
    fam = _hash_family(N_HASHES, SEED)
    sh = _shingle_sql(3)
    hashes = f"list_transform(sh, s -> {TOKHASH.format(t='s')})"
    sig_items = ", ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {MINHASH_PRIME}))"
        for a, b in fam)
    n_bands = N_HASHES // 4
    def band_rows(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            f"array_to_string(sig[{b * 4 + 1}:{b * 4 + 4}], '_') AS bsig "
            f"FROM {src}" for b in range(n_bands))
    n_eq = " + ".join(
        f"CASE WHEN na.sig[{i}] = ob.sig[{i}] THEN 1 ELSE 0 END"
        for i in range(1, N_HASHES + 1))
    return f"""
WITH base AS (SELECT doc_id, {sh} AS sh FROM {src}),
hashed AS (SELECT doc_id, {hashes} AS hs FROM base),
sigs AS (SELECT doc_id, [{sig_items}] AS sig FROM hashed),
newb AS (SELECT * FROM sigs WHERE doc_id % 5 = 0),
oldb AS (SELECT * FROM sigs WHERE doc_id % 5 <> 0),
nbands AS ({band_rows('newb')}),
obands AS ({band_rows('oldb')}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id, b.doc_id AS match_id
  FROM nbands a JOIN obands b ON a.band = b.band AND a.bsig = b.bsig),
scored AS (
  SELECT p.id, p.match_id, ({n_eq}) / {float(N_HASHES)} AS ej
  FROM pairs p
  JOIN newb na ON p.id = na.doc_id
  JOIN oldb ob ON p.match_id = ob.doc_id)
SELECT id, match_id, {SQL_Q4.format('ej')} AS est_jaccard
FROM scored WHERE ej >= 0.5
"""


INCREMENTAL_DEDUP_SQL = _incremental_dedup_sql()

# --- duplicate-cluster labels (connected components over pairs) -------------

def dup_clusters(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    d = MinHashLSHDeduplicator(idCol="doc_id", textCol="text", shingleSize=3,
                               numHashes=16, bandSize=4, threshold=0.4, seed=SEED)
    pairs = d.transform(docs)[0]
    cc = ConnectedComponents(srcCol="id_a", dstCol="id_b")
    return cc.transform(pairs)[0].select("id", "component")


def _dup_clusters_sql() -> str:
    # the minhash pair relation, then min-reachable-id per node via a
    # recursive closure (components are tiny, so the closure is cheap)
    pairs_sql = _minhash_dedup_sql().strip().rstrip()
    return f"""
WITH RECURSIVE pairrel AS ({pairs_sql}),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairrel
  UNION
  SELECT id_b, id_a FROM pairrel),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, m) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.src, r.m FROM edges e JOIN reach r ON e.dst = r.id)
SELECT id, min(m) AS component FROM reach GROUP BY id
"""


DUP_CLUSTERS_SQL = _dup_clusters_sql()

# --- duplicate RESOLUTION: keep the best copy per cluster -------------------

def dup_keep_best(spark, sf_dir):
    """Detection vs resolution: the same near-dup pair relation as
    dup_clusters, but the surviving copy per cluster is the
    highest-quality one (longest text, ties to smallest id) instead of
    the arbitrary min-id — the policy production pipelines actually
    want.  Unclustered documents pass through."""
    from ..llmdata import DuplicateResolver
    docs = load(spark, sf_dir, "documents")
    d = MinHashLSHDeduplicator(idCol="doc_id", textCol="text", shingleSize=3,
                               numHashes=16, bandSize=4, threshold=0.4,
                               seed=SEED)
    pairs = d.transform(docs)[0]
    scored = docs.withColumn("qual", F.length("text").cast("int"))
    r = DuplicateResolver(idCol="doc_id", scoreCol="qual")
    kept = r.transform(scored, pairs)[0]
    return kept.select("doc_id", "qual")


def _dup_keep_best_sql() -> str:
    pairs_sql = _minhash_dedup_sql().strip()
    return f"""
WITH RECURSIVE pairrel AS MATERIALIZED ({pairs_sql}),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairrel
  UNION
  SELECT id_b, id_a FROM pairrel),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, m) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.src, r.m FROM edges e JOIN reach r ON e.dst = r.id),
comp AS (SELECT id, min(m) AS component FROM reach GROUP BY id),
scored AS (
  SELECT c.id, c.component, length(d.text) AS qual
  FROM comp c JOIN documents d ON d.doc_id = c.id),
winners AS (
  SELECT id FROM scored
  QUALIFY row_number() OVER (PARTITION BY component
                             ORDER BY qual DESC, id) = 1)
SELECT doc_id, CAST(length(text) AS INT) AS qual FROM documents
WHERE doc_id NOT IN (SELECT id FROM comp)
   OR doc_id IN (SELECT id FROM winners)
"""


DUP_KEEP_BEST_SQL = _dup_keep_best_sql()

# --- n-gram Jaccard all-pairs ----------------------------------------------

def ngram_jaccard_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    d = NGramJaccardDeduplicator(idCol="doc_id", textCol="text",
                                 shingleSize=3).set_(threshold=0.3)
    out = d.transform(docs)[0]
    return out.select("id_a", "id_b", q4(F.col("jaccard")).alias("jaccard"))


def _ngram_jaccard_sql(threshold: float) -> str:
    return f"""
WITH sh AS (SELECT doc_id, {_shingle_sql(3)} AS s FROM documents),
post AS (SELECT doc_id, unnest(s) AS g FROM sh),
sizes AS (SELECT doc_id, len(s) AS n FROM sh),
shared AS (
  SELECT a.doc_id id_a, b.doc_id id_b, CAST(count(*) AS DOUBLE) inter
  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
scored AS (
  SELECT id_a, id_b, inter / (sa.n + sb.n - inter) AS j
  FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)
SELECT id_a, id_b, {SQL_Q4.format('j')} AS jaccard FROM scored WHERE j >= {threshold}
"""


NGRAM_JACCARD_SQL = _ngram_jaccard_sql(0.3)

def dedup_recall(spark, sf_dir):
    """Dedup quality measurement as a first-class query (the ann_recall
    analogue for the near-dup family): pair precision/recall of the
    MinHash-LSH similarity join against exact n-gram-Jaccard ground
    truth at the same threshold.  Truth comes from the postings-join
    deduplicator (exact, distributed, no BNLJ), so the measurement
    itself runs at corpus scale; both pair relations are independently
    oracle-verified (minhash_dedup, ngram_jaccard_dedup).  Expected
    shape: precision 1.0 (candidates are exact-Jaccard-filtered),
    recall = the probability a >=threshold pair agrees on at least one
    of the 4 bands — the banding S-curve made measurable.  At 100 TB
    the truth side (exact postings join) is the cost: run the metric on
    a deterministic hash-sample of the corpus (id % K == 0) — recall is
    a per-pair probability, so a sample estimates it unbiasedly without
    the full O(shared-shingle pairs) join."""
    from ..llmdata import MinHashLSHDeduplicator, NGramJaccardDeduplicator
    docs = load(spark, sf_dir, "documents")
    truth = (NGramJaccardDeduplicator(idCol="doc_id", textCol="text",
                                      shingleSize=3).set_(threshold=0.4)
             .transform(docs)[0].select("id_a", "id_b"))
    found = (MinHashLSHDeduplicator(idCol="doc_id", textCol="text",
                                    shingleSize=3, numHashes=16, bandSize=4,
                                    threshold=0.4, seed=SEED)
             .transform(docs)[0].select("id_a", "id_b"))
    hit = truth.join(found, ["id_a", "id_b"])
    # one tagged union + conditional-sum agg: a single row with zero
    # joins between the three counts (no 1x1 BNLJ in the plan)
    u = (truth.withColumn("k", F.lit("t"))
         .unionAll(found.withColumn("k", F.lit("f")))
         .unionAll(hit.withColumn("k", F.lit("h"))))
    cnt = lambda tag: F.sum(F.when(F.col("k") == tag, 1)  # noqa: E731
                            .otherwise(0)).cast("long")
    agg = u.agg(cnt("t").alias("n_truth"), cnt("f").alias("n_found"),
                cnt("h").alias("n_hit"))
    return agg.select(
        "n_truth", "n_found", "n_hit",
        q4(F.col("n_hit") / F.nullif(F.col("n_found"), F.lit(0)))
        .alias("precision_q4"),
        q4(F.col("n_hit") / F.nullif(F.col("n_truth"), F.lit(0)))
        .alias("recall_q4"))


def _dedup_recall_sql() -> str:
    return f"""
WITH truth AS (SELECT id_a, id_b FROM ({_ngram_jaccard_sql(0.4)})),
found AS (SELECT id_a, id_b FROM ({_minhash_dedup_sql()})),
hit AS (SELECT id_a, id_b FROM truth INTERSECT SELECT id_a, id_b FROM found),
c AS (SELECT (SELECT count(*) FROM truth) AS n_truth,
             (SELECT count(*) FROM found) AS n_found,
             (SELECT count(*) FROM hit) AS n_hit)
SELECT CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_found AS BIGINT) AS n_found,
       CAST(n_hit AS BIGINT) AS n_hit,
       {SQL_Q4.format('n_hit * 1.0 / NULLIF(n_found, 0)')} AS precision_q4,
       {SQL_Q4.format('n_hit * 1.0 / NULLIF(n_truth, 0)')} AS recall_q4
FROM c
"""


DEDUP_RECALL_SQL = _dedup_recall_sql()


# --- simhash ---------------------------------------------------------------

def simhash_dedup(spark, sf_dir):
    # numPieces=4 is the explicit approximation knob: exact recall to
    # hamming 3, best-effort to 16 — deriving 17 pieces from maxDistance
    # would make 2-3-bit pieces and a near-quadratic candidate join (the
    # oracle replays the same 4-piece candidate scheme)
    docs = load(spark, sf_dir, "documents")
    d = SimHashDeduplicator(idCol="doc_id", textCol="text",
                            bits=48).set_(maxDistance=16, numPieces=4)
    return d.transform(docs)[0].select("id_a", "id_b", "hamming")


SIMHASH_BITS = 48  # ≤63: the fingerprint must fit a signed 64-bit int


def _simhash_sql() -> str:
    tok_h = f"list_transform({TOKS}, s -> {TOKHASH.format(t='s')})"
    w = SIMHASH_BITS // 4
    mask = (1 << w) - 1
    # per-bit random affine hash (a_b·h + b_b) mod P — must match
    # SimHashDeduplicator.fingerprint's family (seed 7, the param default);
    # a·h ≤ P² ≈ 4.2e18 stays inside DuckDB's signed BIGINT
    ab = _hash_family(SIMHASH_BITS, 7)
    bit_terms = " + ".join(
        f"(CASE WHEN list_aggregate(list_transform(hs, h -> CASE WHEN "
        f"((h * {a} + {bb}) % {MINHASH_PRIME}) % 2 = 1 THEN 1 ELSE -1 END), 'sum') > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b, (a, bb) in enumerate(ab))
    quarters = " UNION ALL ".join(
        f"SELECT doc_id, fp, {q} AS q, (fp >> {q * w}) & {mask} AS qv FROM fp"
        for q in range(4))
    return f"""
WITH h AS (SELECT doc_id, {tok_h} AS hs FROM documents),
fp AS (SELECT doc_id, {bit_terms} AS fp FROM h),
quarters AS ({quarters}),
pairs AS (
  SELECT DISTINCT a.doc_id id_a, b.doc_id id_b, a.fp fp_a, b.fp fp_b
  FROM quarters a JOIN quarters b ON a.q = b.q AND a.qv = b.qv
  WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, bit_count(xor(fp_a, fp_b)) AS hamming
FROM pairs WHERE bit_count(xor(fp_a, fp_b)) <= 16
"""


SIMHASH_SQL = _simhash_sql()

# --- embedding cosine dedup + brute-force ANN ------------------------------

def embedding_dedup(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    d = EmbeddingCosineDeduplicator(idCol="vec_id", vecCol="embedding") \
        .set_(threshold=0.3)
    out = d.transform(emb)[0]
    return out.select("id_a", "id_b", q4(F.col("cosine")).alias("cosine"))


EMBEDDING_DEDUP_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
pairs AS (
  SELECT a.vec_id id_a, b.vec_id id_b,
         list_inner_product(a.v, b.v)
           / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS c
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, {SQL_Q4.format('c')} AS cosine FROM pairs WHERE c >= 0.3
"""

def embedding_drift(spark, sf_dir):
    """Embedding-space drift between two snapshot slices: per label,
    cosine of OLD vs NEW centroid + mean-norm ratio.  One zero-shuffle
    Arrow partial pass per side (n, Σx, Σ‖x‖ per partition×group);
    no embedding shuffles."""
    from ..llmdata import EmbeddingDriftProfiler
    emb = load(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 3 != 0)
    new = emb.filter(F.col("vec_id") % 3 != 1)
    out = EmbeddingDriftProfiler(inputCol="embedding", byCol="label") \
        .transform(old, new)[0]
    return out.select("label", "n_old", "n_new",
                      q4(F.col("centroid_cos")).alias("centroid_cos"),
                      q4(F.col("norm_ratio")).alias("norm_ratio"))


EMBEDDING_DRIFT_SQL = f"""
WITH old AS (SELECT label, CAST(embedding AS DOUBLE[]) v FROM embeddings
             WHERE vec_id % 3 <> 0 AND label IS NOT NULL),
new AS (SELECT label, CAST(embedding AS DOUBLE[]) v FROM embeddings
        WHERE vec_id % 3 <> 1 AND label IS NOT NULL),
og AS (SELECT label, COUNT(*) AS n,
              AVG(sqrt(list_inner_product(v, v))) AS mnrm FROM old
       GROUP BY label),
ng AS (SELECT label, COUNT(*) AS n,
              AVG(sqrt(list_inner_product(v, v))) AS mnrm FROM new
       GROUP BY label),
oc AS (SELECT label, i, SUM(x) AS s FROM
         (SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS x
          FROM old) GROUP BY label, i),
nc AS (SELECT label, i, SUM(x) AS s FROM
         (SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS x
          FROM new) GROUP BY label, i),
dots AS (SELECT o.label,
                SUM((o.s / og.n) * (n.s / ng.n)) AS dot,
                SUM(pow(o.s / og.n, 2)) AS a2,
                SUM(pow(n.s / ng.n, 2)) AS b2
         FROM oc o JOIN nc n USING (label, i)
         JOIN og ON og.label = o.label JOIN ng ON ng.label = o.label
         GROUP BY o.label)
SELECT d.label, og.n AS n_old, ng.n AS n_new,
       {SQL_Q4.format('d.dot / (sqrt(d.a2) * sqrt(d.b2))')} AS centroid_cos,
       {SQL_Q4.format('ng.mnrm / og.mnrm')} AS norm_ratio
FROM dots d JOIN og ON og.label = d.label JOIN ng ON ng.label = d.label
"""


# --- real-codec media pipeline ---------------------------------------------
# Synthesizes solid-color 8x8 BMPs from doc_id, then runs the REAL decode →
# nearest-resize → re-encode → decode → color-layout features path
# (llmdata/codecs.py, pure numpy).  Solid colors make the block-mean
# features closed-form: (doc_id % 256)/255 etc. — an exact SQL oracle for
# an end-to-end binary-payload kernel chain.

def media_codec_pipeline(spark, sf_dir):
    """REAL image decode → resize → feature chain, rotating the five
    bundled containers per row (doc_id % 5 → BMP / PNG / baseline
    JPEG / Adam7-interlaced PNG / GIF89a): the synth image is a solid
    color derived from doc_id, so expected cell means are ALGEBRAIC and
    container-independent — one oracle verifies all five codecs
    end-to-end, plus the decoded flag (must be a real decode for every
    row, never the hash stub).  The JPEG leg is exactly-gated too: a
    solid 8x8 block is DC-only, and the q90 round-trip reproduces every
    (d%256, 2d%256, 3d%256) color bit-exactly (verified exhaustively
    over the full 256-color cycle in tests/test_multimodal.py); the
    interlaced leg exercises the 7-pass scatter decode (codecs.py
    _ADAM7) and the GIF leg the palette + variable-width LZW path."""
    import numpy as np
    import pandas as pd
    from ..llmdata import ImageResizer, MediaFeatureExtractor

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from ..llmdata.codecs import (encode_bmp, encode_gif, encode_jpeg,
                                      encode_png)
        enc = [encode_bmp, encode_png,
               lambda img: encode_jpeg(img, quality=90),
               lambda img: encode_png(img, interlace=True),
               encode_gif]
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                rgb = np.array([d % 256, (2 * d) % 256, (3 * d) % 256],
                               dtype=np.uint8)
                img = np.ascontiguousarray(np.broadcast_to(rgb, (8, 8, 3)))
                payloads.append(enc[d % 5](img))
            yield pdf.assign(payload=payloads)

    media = docs.mapInPandas(synth, "doc_id long, payload binary") \
        .withColumn("width", F.lit(8)).withColumn("height", F.lit(8))
    resized = ImageResizer(mode="decode", targetWidth=4, targetHeight=4) \
        .transform(media)[0]
    feat = MediaFeatureExtractor(featureDim=3).set_(kernel="auto") \
        .transform(resized)[0]
    f = F.col("media_features")
    return feat.select("doc_id", "width",
                       F.col("media_features_decoded").cast("int")
                       .alias("decoded"),
                       q4(F.element_at(f, 1)).alias("r"),
                       q4(F.element_at(f, 2)).alias("g"),
                       q4(F.element_at(f, 3)).alias("b"))


MEDIA_CODEC_SQL = f"""
SELECT doc_id, 4 AS width, 1 AS decoded,
       {SQL_Q4.format('(doc_id % 256) / 255.0')} AS r,
       {SQL_Q4.format('((2 * doc_id) % 256) / 255.0')} AS g,
       {SQL_Q4.format('((3 * doc_id) % 256) / 255.0')} AS b
FROM documents
"""

LSH_DEDUP_SEED, LSH_DEDUP_PLANES, LSH_DEDUP_TABLES = 42, 8, 4


def embedding_dedup_lsh(spark, sf_dir):
    """Hyperplane-LSH bucketed near-dup path (exact=0): candidates agree on
    a full sign bucket in ≥1 of the tables; ids-only band join."""
    emb = load(spark, sf_dir, "embeddings")
    d = EmbeddingCosineDeduplicator(idCol="vec_id", vecCol="embedding",
                                    seed=LSH_DEDUP_SEED) \
        .set_(threshold=0.3, exact=0, numPlanes=LSH_DEDUP_PLANES,
              numTables=LSH_DEDUP_TABLES)
    out = d.transform(emb)[0]
    return out.select("id_a", "id_b", q4(F.col("cosine")).alias("cosine"))


def _embedding_dedup_lsh_sql(dim: int = 64) -> str:
    # replay the seeded hyperplanes (np.random.RandomState(seed + t).randn)
    import numpy as np
    tables = []
    for t in range(LSH_DEDUP_TABLES):
        planes = np.random.RandomState(LSH_DEDUP_SEED + t).randn(
            LSH_DEDUP_PLANES, dim)
        bits = " + ".join(
            f"(CASE WHEN list_inner_product(v, "
            f"[{', '.join(repr(float(x)) for x in planes[i])}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(LSH_DEDUP_PLANES))
        tables.append(f"SELECT vec_id, {t} AS t, ({bits}) AS b FROM e")
    exploded = " UNION ALL ".join(tables)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
x AS ({exploded}),
cand AS (SELECT DISTINCT a.vec_id id_a, b.vec_id id_b
         FROM x a JOIN x b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
pairs AS (
  SELECT id_a, id_b,
         list_inner_product(ea.v, eb.v)
           / (sqrt(list_inner_product(ea.v, ea.v))
              * sqrt(list_inner_product(eb.v, eb.v))) AS c
  FROM cand JOIN e ea ON cand.id_a = ea.vec_id
            JOIN e eb ON cand.id_b = eb.vec_id)
SELECT id_a, id_b, {SQL_Q4.format('c')} AS cosine FROM pairs WHERE c >= 0.3
"""


EMBEDDING_DEDUP_LSH_SQL = _embedding_dedup_lsh_sql()

ANN_K = 5


def ann_bruteforce(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    j = BruteForceKNNJoin(queryIdCol="query_id", corpusIdCol="corpus_id",
                          vecCol="embedding", k=ANN_K)
    out = j.transform(queries, corpus)[0]
    return out.select("query_id", "corpus_id", q4(F.col("cosine")).alias("cosine"),
                      "rank")


ANN_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
scored AS (
  SELECT query_id, e.vec_id AS corpus_id,
         list_inner_product(qv, e.v)
           / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(e.v, e.v))) AS c,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY list_inner_product(qv, e.v)
           / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(e.v, e.v))) DESC,
                            e.vec_id ASC) AS rank
  FROM q CROSS JOIN e)
SELECT query_id, corpus_id, {SQL_Q4.format('c')} AS cosine, CAST(rank AS INT) AS rank
FROM scored WHERE rank <= {ANN_K}
"""

# --- text analysis ---------------------------------------------------------

def language_id(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    t = LanguageIdentifier(inputCol="text", outputCol="lang_pred")
    return t.transform(docs)[0].select("doc_id", "lang_pred")


def _langid_sql() -> str:
    cases = []
    for lang in sorted(LANG_MARKERS):
        lit = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        cases.append(
            f"len(list_filter({TOKS}, t -> t IN ({lit}))) AS hit_{lang}")
    langs = sorted(LANG_MARKERS)
    pairs = ", ".join(f"{{'neg': -hit_{l}, 'lang': '{l}'}}" for l in langs)
    return f"""
WITH hits AS (SELECT doc_id, {', '.join(cases)} FROM documents),
best AS (SELECT doc_id, list_min([{pairs}]) AS b FROM hits)
SELECT doc_id, CASE WHEN b['neg'] < 0 THEN b['lang'] ELSE 'und' END AS lang_pred
FROM best
"""


LANGUAGE_ID_SQL = _langid_sql()


def text_quality(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    t = TextQualityScorer(inputCol="text")
    out = t.transform(docs)[0]
    return out.select("doc_id",
                      q4(F.col("q_mean_word_len")).alias("mean_wl"),
                      q4(F.col("q_stopword_ratio")).alias("stop_ratio"),
                      q4(F.col("quality_score")).alias("score"))


def _quality_exprs() -> dict[str, str]:
    stop_lit = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    mean_wl = f"CASE WHEN len({TOKS}) > 0 THEN CAST(list_sum(list_transform({TOKS}, t -> length(t))) AS DOUBLE) / len({TOKS}) ELSE 0.0 END"
    stop_ratio = f"CASE WHEN len({TOKS}) > 0 THEN CAST(len(list_filter({TOKS}, t -> t IN ({stop_lit}))) AS DOUBLE) / len({TOKS}) ELSE 0.0 END"
    digit_ratio = "CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END"
    score = (f"(CASE WHEN ({mean_wl}) >= 3 AND ({mean_wl}) <= 10 THEN 0.4 ELSE 0.0 END"
             f" + CASE WHEN ({stop_ratio}) >= 0.05 THEN 0.3 ELSE 0.0 END"
             f" + CASE WHEN ({digit_ratio}) <= 0.2 THEN 0.2 ELSE 0.0 END"
             f" + CASE WHEN len({TOKS}) >= 10 THEN 0.1 ELSE 0.0 END)")
    return {"mean_wl": mean_wl, "stop_ratio": stop_ratio,
            "digit_ratio": digit_ratio, "score": score}


def _quality_sql() -> str:
    ex = _quality_exprs()
    mean_wl, stop_ratio, score = ex["mean_wl"], ex["stop_ratio"], ex["score"]
    return f"""
SELECT doc_id,
       {SQL_Q4.format(mean_wl)} AS mean_wl,
       {SQL_Q4.format(stop_ratio)} AS stop_ratio,
       {SQL_Q4.format(score)} AS score
FROM documents
"""


TEXT_QUALITY_SQL = _quality_sql()


def char_entropy(spark, sf_dir):
    """Character-distribution gate: per-doc Shannon entropy + distinct-
    char ratio, zero-shuffle codegen'd expressions."""
    from ..llmdata import CharEntropyScorer
    docs = load(spark, sf_dir, "documents")
    out = CharEntropyScorer(inputCol="text")._transform(docs)
    return out.select("doc_id", q4(F.col("char_entropy")).alias("ent_q4"),
                      q4(F.col("distinct_char_ratio")).alias("dcr_q4"))


CHAR_ENTROPY_SQL = """
WITH c AS (SELECT doc_id,
                  list_filter(string_split(text, ''), x -> x <> '') AS ch
           FROM documents),
e AS (SELECT doc_id, len(ch) AS n,
             list_transform(list_distinct(ch),
                            d -> len(list_filter(ch, x -> x = d))) AS cnts
      FROM c)
SELECT doc_id,
       CAST(ROUND((CASE WHEN n > 0 THEN -list_aggregate(
              list_transform(cnts, k -> (k * 1.0 / n) * log2(k * 1.0 / n)),
              'sum') ELSE 0.0 END) * 10000) AS BIGINT) AS ent_q4,
       CAST(ROUND((CASE WHEN n > 0 THEN len(cnts) * 1.0 / n
                   ELSE 0.0 END) * 10000) AS BIGINT) AS dcr_q4
FROM e
"""


def gopher_filter(spark, sf_dir):
    """Gopher-rule document filter (Rae et al. 2021 App. A1.1) at its
    published thresholds — pure-expression zero-shuffle row gate."""
    from ..llmdata import GopherQualityFilter
    docs = load(spark, sf_dir, "documents")
    out = GopherQualityFilter(inputCol="text").transform(docs)[0]
    flags = ["r_word_count", "r_mean_word_len", "r_symbol_ratio",
             "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
             "r_stopwords", "keep"]
    return out.select("doc_id", "n_words",
                      *[F.col(c).cast("int").alias(c) for c in flags])


def _gopher_rules(min_words: int = 50, min_stop: int = 2) -> dict[str, str]:
    from ..llmdata.textanalysis import GOPHER_STOPWORDS
    n = f"len({TOKS})"
    mean_wl = (f"CASE WHEN {n} > 0 THEN CAST(list_sum(list_transform("
               f"{TOKS}, t -> length(t))) AS DOUBLE) / {n} ELSE 0.0 END")
    sym = ("(length(text) - length(replace(text, '#', ''))"
           " + (length(text) - length(replace(text, '...', ''))) / 3"
           " + (length(text) - length(replace(text, '…', ''))))")
    sym_ratio = f"CASE WHEN {n} > 0 THEN {sym} * 1.0 / {n} ELSE 0.0 END"
    lines = "string_split(text, chr(10))"
    bullet = (f"len(list_filter({lines}, l -> "
              f"regexp_matches(ltrim(l), '^[-*•]')))")
    ell_end = (f"len(list_filter({lines}, l -> "
               f"regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))")
    alpha = f"len(list_filter({TOKS}, t -> regexp_matches(t, '[a-z]')))"
    alpha_ratio = f"CASE WHEN {n} > 0 THEN {alpha} * 1.0 / {n} ELSE 0.0 END"
    stop_hits = " + ".join(
        f"CASE WHEN list_contains({TOKS}, '{w}') THEN 1 ELSE 0 END"
        for w in GOPHER_STOPWORDS)
    rules = {
        "r_word_count": f"{n} >= {min_words} AND {n} <= 100000",
        "r_mean_word_len": f"({mean_wl}) >= 3.0 AND ({mean_wl}) <= 10.0",
        "r_symbol_ratio": f"({sym_ratio}) <= 0.1",
        "r_bullet_lines": f"{bullet} * 1.0 / len({lines}) <= 0.9",
        "r_ellipsis_lines": f"{ell_end} * 1.0 / len({lines}) <= 0.3",
        "r_alpha_words": f"({alpha_ratio}) >= 0.8",
        "r_stopwords": f"({stop_hits}) >= {min_stop}",
    }
    return rules


def _gopher_sql(min_words: int = 50) -> str:
    rules = _gopher_rules(min_words)
    n = f"len({TOKS})"
    cols = ", ".join(f"CAST(({c}) AS INT) AS {k}" for k, c in rules.items())
    keep = " AND ".join(f"({c})" for c in rules.values())
    return (f"SELECT doc_id, CAST({n} AS INT) AS n_words, {cols}, "
            f"CAST(({keep}) AS INT) AS keep FROM documents")


def _gopher_keep_sql(min_words: int, min_stop: int = 2) -> str:
    """Just the keep conjunction (WHERE clause for composed pipelines)."""
    return " AND ".join(
        f"({c})" for c in _gopher_rules(min_words, min_stop).values())


GOPHER_FILTER_SQL = _gopher_sql()


def _quality_frame(docs):
    """(doc_id, features, label) for the learned quality model: labels
    from the Gopher heuristic gate; features = cheap zero-shuffle text
    statistics (bounded word count, char count, mean word length, bias),
    O(1)-scaled.  Shared by quality_classifier and llm_prep_pipeline_v5."""
    from ..llmdata import GopherQualityFilter
    from ..llmdata.textanalysis import _tokens
    # relaxed thresholds (as in llm_prep v3/v4): the defaults gate out
    # every short synthetic doc, leaving the model a degenerate
    # single-class fit
    labeled = GopherQualityFilter(inputCol="text", minWords=30,
                                  minRequiredStopwords=1).transform(docs)[0]
    toks = _tokens(F.coalesce(F.col("text"), F.lit("")))
    n = F.size(toks)
    nd = n.cast("double")
    mean_wl = F.when(n > 0, F.aggregate(
        toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double") / nd) \
        .otherwise(0.0)
    return labeled.select(
        "doc_id",
        F.array(F.least(nd, F.lit(400.0)) / 200,
                F.col("n_chars").cast("double") / 1000,
                mean_wl / 10, F.lit(1.0)).alias("features"),
        F.col("keep").cast("double").alias("label"))


def _fit_quality_model(frame):
    from ..classification import LogisticRegression
    return LogisticRegression(maxIter=10, learningRate=0.5, tol=0.0,
                              globalBatchSize=1 << 40,
                              weightRounding=12).fit(frame)


def quality_classifier(spark, sf_dir):
    """Model-in-the-loop corpus filtering (public literature: CCNet's
    learned LM filter, Wenzek et al. 2020; the LLaMA quality classifier,
    Touvron et al. 2023 §2): train a logistic-regression quality model
    whose LABELS come from the Gopher heuristic gate, then score every
    document with the calibrated keep-probability — the standard upgrade
    from a brittle boolean rule set to a smooth, thresholdable ranking.
    Fit is the same deterministic full-batch GD as the learner queries
    (weightRounding snaps both engines' trajectories), so the DuckDB
    oracle replays the ENTIRE train-then-score loop as a recursive CTE.
    At 100 TB: one scan producing 4 doubles/row + dim+1-sized driver
    aggregates per round, then zero-shuffle scoring."""
    docs = load(spark, sf_dir, "documents")
    frame = _quality_frame(docs)
    out = _fit_quality_model(frame).transform(frame)[0]
    return out.select("doc_id",
                      q4(F.element_at("rawPrediction", 2)).alias("q_score"))


def _quality_gd_ctes() -> tuple[str, str]:
    """(CTE body, prob expression) of the recursive-GD quality-model
    replay — composable into larger WITH RECURSIVE oracles."""
    n = f"len({TOKS})"
    mean_wl = (f"CASE WHEN {n} > 0 THEN CAST(list_sum(list_transform("
               f"{TOKS}, t -> length(t))) AS DOUBLE) / {n} ELSE 0.0 END")
    feats = [f"least(CAST({n} AS DOUBLE), 400.0) / 200",
             "n_chars / 1000.0", f"({mean_wl}) / 10", "1.0"]
    feat_cols = ", ".join(f"({f}) AS x{i}" for i, f in enumerate(feats))
    label = f"CASE WHEN {_gopher_keep_sql(30, 1)} THEN 1.0 ELSE 0.0 END"
    margin = " + ".join(f"w{j} * x{j}" for j in range(4))
    res = f"1.0/(1.0 + exp(-({margin}))) - y"
    grads = ", ".join(
        f"round(w{j} - 0.5 * (SELECT avg(({res}) * x{j}) FROM data), 12)"
        for j in range(4))
    ctes = f"""data AS (
  SELECT doc_id, {feat_cols}, {label} AS y FROM documents),
it(i, w0, w1, w2, w3) AS (
  SELECT 0, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
         CAST(0 AS DOUBLE)
  UNION ALL
  SELECT i + 1, {grads} FROM it WHERE i < 10),
w AS (SELECT w0, w1, w2, w3 FROM it ORDER BY i DESC LIMIT 1)"""
    return ctes, f"1.0/(1.0 + exp(-({margin})))"


def _quality_classifier_sql() -> str:
    ctes, prob = _quality_gd_ctes()
    return (f"WITH RECURSIVE {ctes}\n"
            f"SELECT doc_id, {SQL_Q4.format(prob)} AS q_score FROM data, w")


QUALITY_CLASSIFIER_SQL = _quality_classifier_sql()


def unigram_lm_score(spark, sf_dir):
    """CCNet-style corpus-LM quality ranking with a self-contained
    unigram model: fit = one token-count aggregation (top-k vocab),
    score = zero-shuffle Arrow UDF carrying the model-sized vocab."""
    from ..llmdata import UnigramLMScorer
    docs = load(spark, sf_dir, "documents")
    m = UnigramLMScorer(inputCol="text", outputCol="lm_score",
                        vocabSize=50_000).fit(docs)
    out = m.transform(docs)[0]
    return out.select("doc_id", q4(F.col("lm_score")).alias("lm_score_q4"))


UNIGRAM_LM_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({TOKS}) AS t FROM documents),
cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
konst AS (SELECT sum(c) AS total, count(*) AS v FROM cnt),
vocab AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 50000),
scored AS (
  SELECT tk.doc_id,
         avg(ln(COALESCE(vb.c + 1, 1) * 1.0
                / (k.total + least(k.v, 50000) + 1))) AS lm_score
  FROM toks tk LEFT JOIN vocab vb USING (t), konst k
  GROUP BY tk.doc_id)
SELECT d.doc_id,
       {SQL_Q4.format('COALESCE(s.lm_score, 0.0)')} AS lm_score_q4
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def bigram_lm_score(spark, sf_dir):
    """Interpolated bigram corpus-LM ranking (Jelinek-Mercer backoff to
    the add-one unigram): fit = one typed-key count shuffle, score =
    zero-shuffle Arrow UDF carrying the model-sized tables."""
    from ..llmdata import BigramLMScorer
    docs = load(spark, sf_dir, "documents")
    m = BigramLMScorer(inputCol="text", outputCol="lm2",
                       vocabSize=50_000, bigramSize=200_000,
                       interpolation=0.7).fit(docs)
    out = m.transform(docs)[0]
    return out.select("doc_id", q4(F.col("lm2")).alias("bigram_lm_q4"))


def _bigram_lm_sql(v: int = 50_000, bsz: int = 200_000,
                   lam: float = 0.7, src: str = "documents",
                   raw: bool = False) -> str:
    pu = ("(COALESCE({vb}.c + 1, 1) * 1.0 / (k.total + least(k.v, %d) + 1))"
          % v)
    return f"""
WITH toks AS (SELECT doc_id, unnest({TOKS}) AS t FROM {src}),
cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
konst AS (SELECT sum(c) AS total, count(*) AS v FROM cnt),
vocab AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT {v}),
docl AS (SELECT doc_id, {TOKS} AS l FROM {src}),
bg_pairs AS (
  SELECT doc_id, p.a AS a, p.b AS b FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(l)),
                          i -> struct_pack(a := l[i], b := l[i+1]))) AS p
    FROM docl WHERE len(l) >= 2)),
bcnt AS (SELECT a, b, count(*) AS c FROM bg_pairs GROUP BY a, b),
ctx AS (SELECT a, sum(c) AS ctx FROM bcnt GROUP BY a),
btop AS (SELECT a, b, c FROM bcnt ORDER BY c DESC, a, b LIMIT {bsz}),
bmodel AS (SELECT bt.a, bt.b, bt.c, ctx.ctx FROM btop bt JOIN ctx USING (a)),
fscore AS (
  SELECT f.doc_id, ln({pu.format(vb='vb')}) AS s
  FROM (SELECT doc_id, l[1] AS t FROM docl WHERE len(l) >= 1) f
  LEFT JOIN vocab vb USING (t), konst k),
bscore AS (
  SELECT bp.doc_id,
         sum(ln({lam} * COALESCE(bm.c * 1.0 / bm.ctx, 0.0)
                + {1 - lam} * {pu.format(vb='vb')})) AS s
  FROM bg_pairs bp
  LEFT JOIN bmodel bm ON bp.a = bm.a AND bp.b = bm.b
  LEFT JOIN vocab vb ON bp.b = vb.t, konst k
  GROUP BY bp.doc_id),
scored AS (
  SELECT d.doc_id,
         CASE WHEN len(d.l) > 0
              THEN (COALESCE(f.s, 0) + COALESCE(b.s, 0)) / len(d.l)
              ELSE 0.0 END AS sc
  FROM docl d
  LEFT JOIN fscore f USING (doc_id)
  LEFT JOIN bscore b USING (doc_id))
SELECT doc_id, {"sc" if raw else SQL_Q4.format('sc') + " AS bigram_lm_q4"} FROM scored
"""


BIGRAM_LM_SQL = _bigram_lm_sql()


def token_count(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    t = TokenCounter(inputCol="text")
    return t.transform(docs)[0].select("doc_id", "n_tokens_ws", "n_tokens_bpe")


TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       CAST(len({TOKS}) AS INT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]'))
            AS INT) AS n_tokens_bpe
FROM documents
"""


def fingerprint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    t = DocumentFingerprinter(inputCol="text", outputCol="fp")
    return t.transform(docs)[0].select("doc_id", "fp")


FINGERPRINT_SQL = f"""
WITH h AS (SELECT doc_id, list_transform({TOKS}, s -> {TOKHASH.format(t='s')}) AS hs
           FROM documents)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                   (a, b) -> (a * 1000003 + b) % {MINHASH_PRIME}) AS fp
FROM h
"""


# --- repetition signals (Gopher-style) --------------------------------------

def repetition_quality(spark, sf_dir):
    from ..llmdata import RepetitionScorer
    docs = load(spark, sf_dir, "documents")
    out = RepetitionScorer(inputCol="text").transform(docs)[0]
    return out.select("doc_id",
                      q4(F.col("rep_top_word_frac")).alias("top_word_frac"),
                      q4(F.col("rep_top_bigram_frac")).alias("top_bigram_frac"),
                      q4(F.col("rep_dup_line_frac")).alias("dup_line_frac"))


REPETITION_SQL = f"""
WITH t AS (SELECT doc_id, text, {TOKS} AS toks FROM documents),
b AS (SELECT doc_id, text, toks,
             list_transform(range(1, len(toks)),
                            i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]) AS bis,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
      FROM t)
SELECT doc_id,
       {SQL_Q4.format("CASE WHEN len(toks) > 0 THEN CAST(list_aggregate(list_transform(list_distinct(toks), d -> len(list_filter(toks, x -> x = d))), 'max') AS DOUBLE) / len(toks) ELSE 0.0 END")} AS top_word_frac,
       {SQL_Q4.format("CASE WHEN len(bis) > 0 THEN CAST(list_aggregate(list_transform(list_distinct(bis), d -> len(list_filter(bis, x -> x = d))), 'max') AS DOUBLE) / len(bis) ELSE 0.0 END")} AS top_bigram_frac,
       {SQL_Q4.format("CASE WHEN len(lines) > 0 THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) ELSE 0.0 END")} AS dup_line_frac
FROM b
"""


# --- PII redaction -----------------------------------------------------------

def pii_redaction(spark, sf_dir):
    from ..llmdata import PIIRedactor
    docs = load(spark, sf_dir, "documents")
    # inject deterministic synthetic PII so the redaction paths actually fire
    injected = docs.withColumn("pii_text", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" contact user"), F.col("doc_id"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit(" from host 10.0.0.1 port 80")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit(" call +555 867 5309 now")).otherwise(F.lit(""))))
    out = PIIRedactor(inputCol="pii_text", outputCol="redacted") \
        .transform(injected)[0]
    return out.select("doc_id", "pii_email_count", "pii_ipv4_count",
                      "pii_phone_count", F.md5("redacted").alias("red_md5"))


def _pii_sql() -> str:
    from ..llmdata.textanalysis import PII_PATTERNS
    (em_pat, em_tok), (ip_pat, ip_tok), (ph_pat, ph_tok) = \
        [(p, t) for _, p, t in PII_PATTERNS]
    # DuckDB '…' literals keep backslashes verbatim — only quotes escape
    e = lambda s: s.replace("'", "''")
    return f"""
WITH inj AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' from host 10.0.0.1 port 80' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' call +555 867 5309 now' ELSE '' END AS t
  FROM documents),
r1 AS (SELECT doc_id, len(regexp_extract_all(t, '{e(em_pat)}')) AS n_email,
              regexp_replace(t, '{e(em_pat)}', '{em_tok}', 'g') AS t FROM inj),
r2 AS (SELECT doc_id, n_email, len(regexp_extract_all(t, '{e(ip_pat)}')) AS n_ip,
              regexp_replace(t, '{e(ip_pat)}', '{ip_tok}', 'g') AS t FROM r1),
r3 AS (SELECT doc_id, n_email, n_ip, len(regexp_extract_all(t, '{e(ph_pat)}')) AS n_phone,
              regexp_replace(t, '{e(ph_pat)}', '{ph_tok}', 'g') AS t FROM r2)
SELECT doc_id, n_email AS pii_email_count, n_ip AS pii_ipv4_count,
       n_phone AS pii_phone_count, md5(t) AS red_md5
FROM r3
"""


PII_SQL = _pii_sql()


def pii_ccnum(spark, sf_dir):
    """Luhn-VALIDATED card-number redaction (detectCardNumbers=True):
    checksum-valid 13-19-digit candidates redact to <CCNUM>, a
    Luhn-invalid lookalike survives verbatim, and cards redact BEFORE
    the phone pattern can eat their segments.  Expression-only (one
    regexp_extract_all + a literal replace fold); the oracle replays the
    checksum digit-by-digit in SQL."""
    from ..llmdata import PIIRedactor
    docs = load(spark, sf_dir, "documents")
    injected = docs.withColumn("pii_text", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0,
               F.lit(" card 4111 1111 1111 1111 thanks"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 6 == 0,
               F.lit(" ref 4111111111111112 kept")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 9 == 0,
               F.lit(" amex 378282246310005 ok")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit(" call +555 867 5309 or 4012-8888-8888-1881"))
        .otherwise(F.lit(""))))
    out = PIIRedactor(inputCol="pii_text", outputCol="redacted") \
        .set_(detectCardNumbers=True).transform(injected)[0]
    return out.select("doc_id", "pii_ccnum_count", "pii_phone_count",
                      F.md5("redacted").alias("red_md5"))


def _pii_ccnum_sql() -> str:
    from ..llmdata.textanalysis import CC_CANDIDATE, PII_PATTERNS
    (em_pat, em_tok), (ip_pat, ip_tok), (ph_pat, ph_tok) = \
        [(p, t) for _, p, t in PII_PATTERNS]
    e = lambda s: s.replace("'", "''")
    d = "regexp_replace(c, '[^0-9]', '', 'g')"
    digit = f"CAST(substr({d}, CAST(i AS INT), 1) AS INT)"
    luhn = (f"length({d}) BETWEEN 13 AND 19 AND "
            f"list_sum(list_transform(range(1, length({d}) + 1), "
            f"i -> CASE WHEN (length({d}) - i) % 2 = 1 THEN "
            f"CASE WHEN {digit} * 2 > 9 THEN {digit} * 2 - 9 "
            f"ELSE {digit} * 2 END ELSE {digit} END)) % 10 = 0")
    return f"""
WITH inj AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 4 = 0 THEN ' card 4111 1111 1111 1111 thanks' ELSE '' END
    || CASE WHEN doc_id % 6 = 0 THEN ' ref 4111111111111112 kept' ELSE '' END
    || CASE WHEN doc_id % 9 = 0 THEN ' amex 378282246310005 ok' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' call +555 867 5309 or 4012-8888-8888-1881' ELSE '' END AS t
  FROM documents),
r1 AS (SELECT doc_id, regexp_replace(t, '{e(em_pat)}', '{em_tok}', 'g') AS t
       FROM inj),
cc AS (SELECT doc_id, t,
              list_filter(regexp_extract_all(t, '{e(CC_CANDIDATE)}'),
                          c -> {luhn}) AS valid
       FROM r1),
r2 AS (SELECT doc_id, len(valid) AS n_cc,
              list_reduce(list_prepend(t, list_distinct(valid)),
                          (acc, c) -> replace(acc, c, '<CCNUM>')) AS t
       FROM cc),
r3 AS (SELECT doc_id, n_cc,
              regexp_replace(t, '{e(ip_pat)}', '{ip_tok}', 'g') AS t
       FROM r2),
r4 AS (SELECT doc_id, n_cc,
              len(regexp_extract_all(t, '{e(ph_pat)}')) AS n_phone,
              regexp_replace(t, '{e(ph_pat)}', '{ph_tok}', 'g') AS t
       FROM r3)
SELECT doc_id, n_cc AS pii_ccnum_count, n_phone AS pii_phone_count,
       md5(t) AS red_md5
FROM r4
"""


PII_CCNUM_SQL = _pii_ccnum_sql()


# --- text normalization ------------------------------------------------------

def text_normalize(spark, sf_dir):
    from ..llmdata import TextNormalizer
    docs = load(spark, sf_dir, "documents")
    # deterministically dirty the text so every cleanup path fires
    messy = docs.withColumn("messy", F.concat(
        F.lit("\t  "), F.upper(F.col("text")), F.lit(" \x01 trailing  \n")))
    out = TextNormalizer(inputCol="messy", outputCol="norm") \
        ._transform(messy)
    return out.select("doc_id", F.md5("norm").alias("norm_md5"),
                      F.length("norm").alias("norm_len"))


TEXT_NORMALIZE_SQL = r"""
WITH messy AS (
  SELECT doc_id, chr(9) || '  ' || upper(text) || ' ' || chr(1) || ' trailing  ' || chr(10) AS m
  FROM documents),
norm AS (
  SELECT doc_id,
         lower(trim(regexp_replace(regexp_replace(m, '[\x00-\x1F\x7F]', ' ', 'g'),
                                   '\s+', ' ', 'g'))) AS n
  FROM messy)
SELECT doc_id, md5(n) AS norm_md5, length(n) AS norm_len FROM norm
"""


# --- corpus composition report ----------------------------------------------

def corpus_stats(spark, sf_dir):
    from ..llmdata import TextQualityScorer as _TQS
    docs = load(spark, sf_dir, "documents")
    scored = _TQS(inputCol="text")._transform(docs)
    counted = TokenCounter(inputCol="text")._transform(scored)
    # sums, not avgs — and quantize BEFORE summing: per-doc scores are
    # multiples of 0.1 so q4() yields exact integers, and an integer sum
    # is FP-order-independent (a quantize-after-sum can land on a q4
    # half-step and round differently per engine summation order)
    return (counted.groupBy("source", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens_ws").alias("total_tokens"),
                 F.sum(q4(F.col("quality_score"))).alias("sum_quality"),
                 F.sum(F.length("text").cast("long")).alias("total_chars")))


def _corpus_stats_sql() -> str:
    ex = _quality_exprs()
    return f"""
WITH per_doc AS (
  SELECT source, lang, len({TOKS}) AS n_tok, length(text) AS n_ch,
         {ex['score']} AS score
  FROM documents)
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum({SQL_Q4.format('score')}) AS BIGINT) AS sum_quality,
       CAST(sum(n_ch) AS BIGINT) AS total_chars
FROM per_doc GROUP BY source, lang
"""


CORPUS_STATS_SQL = _corpus_stats_sql()


# --- weighted domain-mixture sampling ---------------------------------------

MIX_RATES = {"src0": 0.25, "src1": 0.5}


def domain_mixture(spark, sf_dir):
    from ..llmdata import DomainMixtureSampler
    docs = load(spark, sf_dir, "documents")
    s = DomainMixtureSampler(idCol="doc_id", domainCol="source",
                             rates=MIX_RATES, defaultRate=0.75)
    return s.transform(docs)[0].select("doc_id", "source")


def stratified_budget(spark, sf_dir):
    """Exact per-domain document budgets (hard caps, not keep-rates):
    deterministic hash-order top-k per source via ``top_k_per_key``,
    whose partial window-group limit keeps one hot domain from funneling
    through a single task."""
    from ..llmdata import StratifiedBudgetSampler
    docs = load(spark, sf_dir, "documents")
    s = StratifiedBudgetSampler(idCol="doc_id", domainCol="source",
                                budgets={"src0": 10, "src1": 15},
                                defaultBudget=12)
    return s.transform(docs)[0].select("doc_id", "source")


STRATIFIED_BUDGET_SQL = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ((doc_id % 2147483648) * 2654435761 + 7) % 2147483648,
                    doc_id) AS rnk
  FROM documents)
WHERE rnk <= CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 15 ELSE 12 END
"""


DOMAIN_MIXTURE_SQL = """
SELECT doc_id, source FROM documents
WHERE CAST(((doc_id % 2147483648) * 2654435761 + 7) % 2147483648 AS DOUBLE)
      / 2147483648.0
      < CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.5 ELSE 0.75 END
"""


def token_drift(spark, sf_dir):
    """Token-distribution drift between two corpus snapshots (overlapping
    id-hash slices of documents): top-50 tokens by Jeffreys
    (symmetrized-KL) contribution (p_new−p_old)·ln(p_new/p_old) under
    add-0.5 smoothing over the union vocabulary — symmetric so vanished
    tokens surface as loudly as flooding ones.  ONE token-count shuffle
    (side-tagged union, single groupBy), top-k in
    TakeOrderedAndProject."""
    from ..llmdata import TokenDriftProfiler
    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 != 1)
    out = TokenDriftProfiler(inputCol="text", k=50, smoothing=0.5) \
        .transform(old, new)[0]
    # j terms live at the 1e-4 scale: quantize 8 decimals (q4 of 1e4*x)
    return out.select("token", "n_old", "n_new",
                      q4(F.col("j_term") * 10000).alias("j_q8"),
                      q4(F.col("log_ratio")).alias("log_ratio"))


TOKEN_DRIFT_SQL = f"""
WITH old AS (SELECT text FROM documents WHERE doc_id % 3 <> 0),
new AS (SELECT text FROM documents WHERE doc_id % 3 <> 1),
cnt AS (SELECT token, CAST(SUM(1 - side) AS BIGINT) AS n_old,
               CAST(SUM(side) AS BIGINT) AS n_new FROM (
          SELECT unnest({TOKS}) AS token, 0 AS side FROM old
          UNION ALL
          SELECT unnest({TOKS}) AS token, 1 AS side FROM new)
        GROUP BY token),
tot AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new, COUNT(*) AS v
        FROM cnt),
jf AS (SELECT token, n_old, n_new,
              ln(((n_new + 0.5) / (t_new + 0.5 * v)) /
                 ((n_old + 0.5) / (t_old + 0.5 * v))) AS log_ratio,
              (((n_new + 0.5) / (t_new + 0.5 * v)) -
               ((n_old + 0.5) / (t_old + 0.5 * v))) *
              ln(((n_new + 0.5) / (t_new + 0.5 * v)) /
                 ((n_old + 0.5) / (t_old + 0.5 * v))) AS j_term
       FROM cnt, tot)
SELECT token, n_old, n_new, {SQL_Q4.format('j_term * 10000')} AS j_q8,
       {SQL_Q4.format('log_ratio')} AS log_ratio
FROM jf ORDER BY j_term DESC, token LIMIT 50
"""


def dsir_select(spark, sf_dir):
    """DSIR-style data selection via importance resampling (Xie et al.
    2023): fit hashed-unigram target vs raw distributions (two
    bucket-count aggs — the model is numBuckets floats regardless of
    corpus size), score each raw doc with its log importance weight in
    one zero-shuffle Arrow pass, Gumbel-perturb with the deterministic
    per-id hash, and keep the top-50 keys — Gumbel-top-k sampling
    without replacement from the importance distribution, replayed
    exactly by the oracle."""
    from ..llmdata import ImportanceResampler
    docs = load(spark, sf_dir, "documents")
    tgt = (F.col("lang") == "en") & F.col("source").isin(
        "src0", "src1", "src2")
    est = ImportanceResampler(idCol="doc_id", inputCol="text",
                              numBuckets=512, smoothing=1.0, salt=7)
    model = est.fit(docs.filter(~tgt), docs.filter(tgt))
    out = model.transform(docs.filter(~tgt))[0]
    return (out.orderBy(F.col("dsir_key").desc(), "doc_id").limit(50)
            .select("doc_id", q4(F.col("dsir_logw")).alias("logw"),
                    q4(F.col("dsir_key")).alias("skey")))


def _dsir_ctes(b: int = 512, ngram_max: int = 1) -> str:
    """Shared DuckDB replay of ImportanceResampler (fit + score + Gumbel
    key) over documents: CTE chain ending in ``keyed(doc_id, logw,
    skey)`` for the raw (non-target) side.  Used by dsir_select /
    dsir_bigram / llm_prep_pipeline_v7 so a fix to the replay lands in
    every oracle.  Features for n ≥ 2 are NON-distinct n-gram windows of
    docs with ≥ n tokens (matching _bucket_bincount's contract)."""
    tgt = "lang = 'en' AND source IN ('src0', 'src1', 'src2')"
    gum = ("ln(-ln(((((doc_id % 2147483648) + 2147483648) % 2147483648 "
           "* 2654435761 + 7) % 2147483648 + 0.5) / 2147483648.0))")

    def grams(n: int) -> str:
        if n == 1:
            return f"unnest({TOKS})"
        return (f"unnest(CASE WHEN len({TOKS}) >= {n} THEN "
                f"list_transform(range(1, len({TOKS}) - {n} + 2), "
                f"i -> array_to_string(({TOKS})[i:i+{n}-1], ' ')) "
                "ELSE [] END)")

    def feats(rel: str, with_id: bool) -> str:
        idc = "doc_id, " if with_id else ""
        return " UNION ALL ".join(
            f"SELECT {idc}{TOKHASH.format(t='t')} % {b} AS b "
            f"FROM (SELECT {idc}{grams(n)} AS t FROM {rel})"
            for n in range(1, ngram_max + 1))

    return f"""tgt AS (SELECT * FROM documents WHERE {tgt}),
raw AS (SELECT * FROM documents WHERE NOT ({tgt})),
rb AS ({feats('raw', True)}),
tb AS ({feats('tgt', False)}),
qc AS (SELECT b, COUNT(*) AS c FROM rb GROUP BY b),
pc AS (SELECT b, COUNT(*) AS c FROM tb GROUP BY b),
tot AS (SELECT (SELECT COUNT(*) FROM rb) AS qn,
               (SELECT COUNT(*) FROM tb) AS pn),
lrt AS (SELECT g.range AS b,
               ln((COALESCE(pc.c, 0) + 1.0) / (tot.pn + {b}.0))
             - ln((COALESCE(qc.c, 0) + 1.0) / (tot.qn + {b}.0)) AS lr
        FROM range({b}) g
        LEFT JOIN pc ON pc.b = g.range
        LEFT JOIN qc ON qc.b = g.range, tot),
lw AS (SELECT r.doc_id, COALESCE(SUM(l.lr), 0.0) AS logw
       FROM raw r LEFT JOIN rb ON rb.doc_id = r.doc_id
       LEFT JOIN lrt l ON l.b = rb.b
       GROUP BY r.doc_id),
keyed AS (SELECT doc_id, logw, logw - {gum} AS skey FROM lw)"""


DSIR_SELECT_SQL = f"""
WITH {_dsir_ctes()}
SELECT doc_id, {SQL_Q4.format('logw')} AS logw,
       {SQL_Q4.format('skey')} AS skey
FROM keyed ORDER BY skey DESC, doc_id LIMIT 50
"""


def dsir_bigram(spark, sf_dir):
    """DSIR with the paper's full feature set — hashed unigrams AND
    bigrams (Xie et al. 2023 §3 uses hashed n-gram bags).  Bigram hashes
    assemble from per-token hashes via the compositional poly fold
    (np_shingle_hashes) — no bigram string ever materializes; fit stays
    ONE Arrow partial-bincount pass per corpus."""
    from ..llmdata import ImportanceResampler
    docs = load(spark, sf_dir, "documents")
    tgt = (F.col("lang") == "en") & F.col("source").isin(
        "src0", "src1", "src2")
    est = ImportanceResampler(idCol="doc_id", inputCol="text",
                              numBuckets=512, ngramMax=2,
                              smoothing=1.0, salt=7)
    model = est.fit(docs.filter(~tgt), docs.filter(tgt))
    out = model.transform(docs.filter(~tgt))[0]
    return (out.orderBy(F.col("dsir_key").desc(), "doc_id").limit(50)
            .select("doc_id", q4(F.col("dsir_logw")).alias("logw"),
                    q4(F.col("dsir_key")).alias("skey")))


DSIR_BIGRAM_SQL = f"""
WITH {_dsir_ctes(ngram_max=2)}
SELECT doc_id, {SQL_Q4.format('logw')} AS logw,
       {SQL_Q4.format('skey')} AS skey
FROM keyed ORDER BY skey DESC, doc_id LIMIT 50
"""


def llm_prep_pipeline_v7(spark, sf_dir):
    """The DATA-SELECTION recipe (Xie et al. 2023 DSIR): instead of
    gating on intrinsic quality rules (v1/v3) or a learned quality model
    (v5), select raw documents BY RESEMBLANCE TO A TRUSTED TARGET corpus
    — fit hashed-unigram importance weights on (raw, target), take the
    top-150 Gumbel keys (importance resampling without replacement),
    exact-dedup the selection (min-id winner), and report the per-source
    doc/token budget the selection implies.  At 100 TB: the DSIR model
    is numBuckets floats, scoring is a zero-shuffle Arrow pass, top-k is
    TakeOrdered, and dedup shuffles 32-byte digests — no stage carries
    corpus text."""
    from ..llmdata import ExactDeduplicator, ImportanceResampler
    docs = load(spark, sf_dir, "documents")
    tgt = (F.col("lang") == "en") & F.col("source").isin(
        "src0", "src1", "src2")
    raw = docs.filter(~tgt)
    model = ImportanceResampler(idCol="doc_id", inputCol="text",
                                numBuckets=512, smoothing=1.0, salt=7) \
        .fit(raw, docs.filter(tgt))
    sel = (model.transform(raw)[0]
           .orderBy(F.col("dsir_key").desc(), "doc_id").limit(150)
           .select("doc_id", "source", "text"))
    uniq = ExactDeduplicator(inputCol="text").set_(idCol="doc_id") \
        .transform(sel)[0]
    counted = TokenCounter(inputCol="text")._transform(uniq)
    return (counted.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens_ws").alias("n_tokens")))


LLM_PREP_V7_SQL = f"""
WITH {_dsir_ctes()},
sel AS (SELECT d.doc_id, d.source, d.text
        FROM documents d JOIN (SELECT doc_id FROM keyed
                               ORDER BY skey DESC, doc_id LIMIT 150) s
        USING (doc_id)),
uniq AS (SELECT * FROM sel
         WHERE doc_id IN (SELECT min(doc_id) FROM sel GROUP BY text))
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len({TOKS})) AS BIGINT) AS n_tokens
FROM uniq GROUP BY source
"""


def bpe_tokenize(spark, sf_dir):
    """BPE tokenizer training + encoding (Sennrich et al. 2016): fit =
    ONE distributed word-count aggregation (the only corpus-sized work)
    + driver-side merge learning on the capped frequency table, encode =
    zero-shuffle Arrow UDF carrying the merge ranks.  Rows-only: greedy
    iterative merge learning is not SQL-expressible."""
    from ..llmdata import BpeTokenizerTrainer
    docs = load(spark, sf_dir, "documents")
    m = BpeTokenizerTrainer(inputCol="text", outputCol="toks",
                            numMerges=200, minWordFreq=2).fit(docs)
    out = m.transform(docs)[0]
    return out.select("doc_id", F.size("toks").alias("n_subwords"),
                      # scalar column (registry convention: the driver's
                      # hash canonicalizer cannot sort array cells)
                      F.concat_ws(" ", F.slice("toks", 1, 8))
                       .alias("head_toks"))


# Pinned literal merge table for bpe_encode — trained ONCE on sf0.001
# (BpeTokenizerTrainer, numMerges=24, minWordFreq=2) and frozen so the
# Spark encoder and the DuckDB oracle replay the IDENTICAL ranks.  The
# list is hierarchical on purpose (scan/column/window/order build from
# earlier merges) so the greedy lowest-rank loop is actually exercised.
BPE_MERGES = [
    ["e", "r</w>"], ["o", "w</w>"], ["o", "r"], ["l", "u"], ["i", "n"],
    ["a", "r"], ["p", "ar"], ["e", "r"], ["a", "s"], ["t", "o"],
    ["a", "t"], ["a", "n</w>"], ["c", "an</w>"], ["s", "can</w>"],
    ["c", "o"], ["co", "lu"], ["colu", "m"], ["colum", "n</w>"],
    ["d", "ow</w>"], ["in", "dow</w>"], ["w", "indow</w>"],
    ["d", "er</w>"], ["or", "der</w>"], ["or", "t</w>"],
]


def bpe_encode(spark, sf_dir):
    """Value-level gate for the BPE ENCODE path (the trainer's merge
    learning is not SQL-expressible — bpe_tokenize stays rows-only —
    but greedy lowest-rank merge APPLICATION is: the oracle replays it
    as a recursive CTE over the pinned literal merge table).  Output:
    per-doc subword count + md5 of the space-joined subword stream."""
    from ..llmdata.bpe import BpeTokenizerModel
    docs = load(spark, sf_dir, "documents")
    m = BpeTokenizerModel(inputCol="text", outputCol="toks")
    m.model_data = {"merges": [list(p) for p in BPE_MERGES]}
    out = m.transform(docs)[0]
    return out.select("doc_id",
                      F.size("toks").alias("n_subwords"),
                      F.md5(F.concat_ws(" ", "toks")).alias("enc_md5"))


def _bpe_encode_sql() -> str:
    """DuckDB replay of greedy BPE encoding: per DISTINCT word, start
    from characters + '</w>' and repeatedly merge the leftmost
    occurrence of the lowest-rank adjacent pair (exactly
    bpe._encode_word's loop), via a recursive CTE; encoded words then
    join back into per-doc streams by position."""
    keys = ", ".join("'" + a + " " + b + "'" for a, b in BPE_MERGES)
    # rank*100000 + position packs (rank, leftmost) into one argmin;
    # nullif: DuckDB's list_position returns 0 (not NULL) for a missing
    # element, which would read as the lowest rank
    best = ("list_min(list_transform(range(1, len(sym)), "
            f"i -> CAST(coalesce(nullif(list_position([{keys}], "
            "sym[i] || ' ' || sym[i+1]), 0), 999999) AS BIGINT) "
            "* 100000 + i))")
    return f"""
WITH RECURSIVE
tok AS (SELECT doc_id,
               list_filter(string_split_regex(lower(text),
                           '[ \\t\\n\\x0b\\f\\r]'), x -> x <> '') AS ws
        FROM documents),
dw AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS ord
       FROM tok),
w0 AS (SELECT w,
              list_append(list_transform(range(1, length(w)),
                                         i -> w[i]),
                          w[length(w)] || '</w>') AS sym
       FROM (SELECT DISTINCT w FROM dw)),
enc AS (
  SELECT w, sym FROM w0
  UNION ALL
  SELECT w,
         sym[1:(best % 100000) - 1]
           || [sym[best % 100000] || sym[best % 100000 + 1]]
           || sym[best % 100000 + 2:]
  FROM (SELECT w, sym, {best} AS best FROM enc
        WHERE len(sym) > 1) s
  WHERE best // 100000 < 999999),
encoded AS (
  SELECT w, sym FROM enc
  WHERE len(sym) = 1 OR {best} // 100000 = 999999),
docenc AS (
  SELECT d.doc_id, flatten(list(e.sym ORDER BY d.ord)) AS toks
  FROM dw d JOIN encoded e ON d.w = e.w
  GROUP BY d.doc_id)
SELECT t.doc_id,
       CAST(coalesce(len(x.toks), 0) AS INT) AS n_subwords,
       md5(coalesce(array_to_string(x.toks, ' '), '')) AS enc_md5
FROM tok t LEFT JOIN docenc x ON t.doc_id = x.doc_id
"""


BPE_ENCODE_SQL = _bpe_encode_sql()


def corpus_shuffle(spark, sf_dir):
    """Epoch-keyed deterministic training-order shuffle: reproducible
    pseudo-random (shard, order_key) layout, zero shuffles in the
    labeling; the one-shuffle physical reorder is the consumer's write."""
    from ..llmdata import CorpusShuffler
    docs = load(spark, sf_dir, "documents")
    s = CorpusShuffler(idCol="doc_id", numShards=8, epoch=1, salt=13)
    return s.transform(docs)[0].select("doc_id", "shard", "order_key")


CORPUS_SHUFFLE_SQL = """
WITH keyed AS (
  SELECT doc_id,
         xor((((doc_id % 2147483648) + 2147483648) % 2147483648
              * 2654435761 + 13) % 2147483648,
             506952113) AS order_key
  FROM documents)
SELECT doc_id, CAST(order_key % 8 AS INT) AS shard, order_key FROM keyed
"""


def curriculum_order(spark, sf_dir):
    """Curriculum data ordering (Bengio et al. 2009 applied to corpus
    prep): easy-first difficulty buckets from the corpus-LM score
    (bucket = ⌊−avg-logprob⌋ — smaller = more predictable = easier),
    with CorpusShuffler's epoch-keyed pseudo-random order WITHIN each
    bucket.  A sharded writer consuming (bucket, shard, order_key)
    emits a reproducible curriculum: all zero-shuffle labeling — the
    one physical reorder belongs to the consumer's write, exactly as in
    corpus_shuffle."""
    from ..llmdata import CorpusShuffler, UnigramLMScorer
    docs = load(spark, sf_dir, "documents")
    lm = UnigramLMScorer(inputCol="text", outputCol="lm_score",
                         vocabSize=50_000).fit(docs)
    scored = lm.transform(docs)[0]
    keyed = CorpusShuffler(idCol="doc_id", numShards=8, epoch=1,
                           salt=13).transform(scored)[0]
    return keyed.select(
        "doc_id",
        F.floor(-F.col("lm_score")).cast("int").alias("bucket"),
        "shard", "order_key")


CURRICULUM_ORDER_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({TOKS}) AS t FROM documents),
cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
konst AS (SELECT sum(c) AS total, count(*) AS v FROM cnt),
vocab AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 50000),
lmscored AS (
  SELECT tk.doc_id,
         avg(ln(COALESCE(vb.c + 1, 1) * 1.0
                / (k.total + least(k.v, 50000) + 1))) AS lm_score
  FROM toks tk LEFT JOIN vocab vb USING (t), konst k
  GROUP BY tk.doc_id),
keyed AS (
  SELECT d.doc_id,
         CAST(floor(-COALESCE(s.lm_score, 0.0)) AS INT) AS bucket,
         xor((((d.doc_id % 2147483648) + 2147483648) % 2147483648
              * 2654435761 + 13) % 2147483648,
             2654435761 % 2147483648) AS order_key
  FROM documents d LEFT JOIN lmscored s USING (doc_id))
SELECT doc_id, bucket, CAST(order_key % 8 AS INT) AS shard, order_key
FROM keyed
"""


def llm_prep_pipeline_v3(spark, sf_dir):
    """Round-3 corpus-prep flagship composing the new gates in at-scale
    order — cheapest first: Gopher rule filter (zero-shuffle) →
    UnigramLMScorer corpus-LM quality score (one fit agg + zero-shuffle
    scoring) → TemperatureMixtureSampler alpha-balancing over a skewed
    derived domain (one count agg + narrow filter) → token accounting.
    Everything before the two small fit aggregations is a pure row gate,
    which is exactly how a 100 TB pipeline keeps its expensive stages
    (dedup, embedding) fed with the minimum surviving rows."""
    from ..llmdata import (GopherQualityFilter, TemperatureMixtureSampler,
                           UnigramLMScorer)
    docs = load(spark, sf_dir, "documents").withColumn(
        "domain", F.when(F.col("doc_id") % 10 < 7, "web")
                   .when(F.col("doc_id") % 10 < 9, "books")
                   .otherwise("code"))
    g = (GopherQualityFilter(inputCol="text", minWords=30,
                             minRequiredStopwords=1)
         .transform(docs)[0].where(F.col("keep"))
         .select("doc_id", "domain", "text"))
    lm = UnigramLMScorer(inputCol="text", outputCol="lm_score",
                         vocabSize=50_000).fit(g)
    mix = TemperatureMixtureSampler(idCol="doc_id", domainCol="domain",
                                    alpha=0.5).fit(g)
    kept = mix.transform(lm.transform(g)[0])[0]
    counted = TokenCounter(inputCol="text")._transform(kept)
    return counted.select("doc_id", "domain", "n_tokens_ws",
                          q4(F.col("lm_score")).alias("lm_score_q4"))


LLM_PREP_V3_SQL = f"""
WITH d AS (SELECT doc_id, text,
                  CASE WHEN doc_id % 10 < 7 THEN 'web'
                       WHEN doc_id % 10 < 9 THEN 'books'
                       ELSE 'code' END AS domain
           FROM documents),
g AS (SELECT * FROM d WHERE {_gopher_keep_sql(30, 1)}),
toks AS (SELECT doc_id, unnest({TOKS}) AS t FROM g),
cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
konst AS (SELECT sum(c) AS total, count(*) AS v FROM cnt),
vocab AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 50000),
scored AS (
  SELECT tk.doc_id,
         avg(ln(COALESCE(vb.c + 1, 1) * 1.0
                / (k.total + least(k.v, 50000) + 1))) AS lm_score
  FROM toks tk LEFT JOIN vocab vb USING (t), konst k
  GROUP BY tk.doc_id),
cntd AS (SELECT domain, count(*) AS n FROM g GROUP BY domain),
r AS (SELECT domain, pow(n * 1.0 / (SELECT min(n) FROM cntd), -0.5) AS rate
      FROM cntd)
SELECT g.doc_id, g.domain, CAST(len({TOKS}) AS INT) AS n_tokens_ws,
       {SQL_Q4.format('COALESCE(s.lm_score, 0.0)')} AS lm_score_q4
FROM g JOIN r USING (domain) LEFT JOIN scored s ON s.doc_id = g.doc_id
WHERE CAST(((g.doc_id % 2147483648) * 2654435761 + 7) % 2147483648 AS DOUBLE)
      / 2147483648.0 < r.rate
"""


def llm_prep_pipeline_v5(spark, sf_dir):
    """Round-4 corpus-prep flagship: the LEARNED-GATE recipe.  A
    logistic-regression quality model is trained on the Gopher
    heuristic's labels (quality_classifier — the CCNet/LLaMA trick) and
    its calibrated keep-probability replaces the rule set as the gate;
    survivors flow through SKEW-SAFE MinHash near-dedup (hot buckets
    blocked, exact recall — dedup keeps the min-id copy per detected
    pair) → temperature mixture balancing over sources (fit on the
    deduped survivors) → token accounting.  The whole train-gate-dedup-
    balance loop is replayed by one recursive-CTE oracle.  At 100 TB:
    the model fit is dim+1 doubles/round to the driver, the gate is a
    zero-shuffle scan, and only gated survivors reach the band join."""
    from ..llmdata import (MinHashLSHDeduplicator, TemperatureMixtureSampler)
    docs = load(spark, sf_dir, "documents")
    frame = _quality_frame(docs)
    probs = _fit_quality_model(frame).transform(frame)[0]
    # relative cut (CCNet buckets by corpus-relative perplexity, not an
    # absolute number): keep the top half by learned quality, compared on
    # 4-decimal-quantized scores so the cut is engine-exact
    scored = probs.select(
        "doc_id", q4(F.element_at("rawPrediction", 2)).alias("q"))
    # the cut is ONE number (model-sized) — collect it rather than
    # cross-joining a 1-row aggregate (which plans a BNLJ)
    med = scored.agg(F.expr("percentile(q, 0.5)")).first()[0]
    keep_ids = scored.filter(F.col("q") > F.lit(float(med))) \
        .select("doc_id")
    gated = docs.join(keep_ids, "doc_id", "left_semi") \
        .select("doc_id", "source", "text")
    pairs = MinHashLSHDeduplicator(
        idCol="doc_id", textCol="text", shingleSize=3, numHashes=N_HASHES,
        bandSize=4, threshold=0.4, seed=SEED) \
        .set_(maxBandDocFreq=8, hotBucketStrategy="block", numBlocks=4) \
        .transform(gated)[0]
    uniq = gated.join(pairs.select(F.col("id_b").alias("doc_id")).distinct(),
                      "doc_id", "left_anti")
    mix = TemperatureMixtureSampler(idCol="doc_id", domainCol="source",
                                    alpha=0.5).fit(uniq)
    kept = mix.transform(uniq)[0]
    counted = TokenCounter(inputCol="text")._transform(kept)
    return counted.select("doc_id", "source", "n_tokens_ws")


def _llm_prep_v5_sql() -> str:
    ctes, prob = _quality_gd_ctes()
    fam = _hash_family(N_HASHES, SEED)
    sh = _shingle_sql(3)
    hashes = f"list_transform(sh, s -> {TOKHASH.format(t='s')})"
    sig_items = ", ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {MINHASH_PRIME}))"
        for a, b in fam)
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band, "
        f"array_to_string(sig[{b * 4 + 1}:{b * 4 + 4}], '_') AS bsig "
        f"FROM msigs" for b in range(N_HASHES // 4))
    inter = "len(list_intersect(sh_a, sh_b))"
    return f"""
WITH RECURSIVE {ctes},
qscored AS MATERIALIZED (
  SELECT doc_id, {SQL_Q4.format(prob)} AS q FROM data, w),
med AS (SELECT quantile_cont(q, 0.5) AS m FROM qscored),
keepids AS MATERIALIZED (SELECT doc_id FROM qscored, med WHERE q > m),
g AS MATERIALIZED (
  SELECT doc_id, source, text FROM documents
  WHERE doc_id IN (SELECT doc_id FROM keepids)),
mbase AS (SELECT doc_id, {sh} AS sh FROM g),
mh AS (SELECT doc_id, sh, {hashes} AS hs FROM mbase),
msigs AS MATERIALIZED (SELECT doc_id, sh, [{sig_items}] AS sig FROM mh),
mbands AS ({band_rows}),
dup_b AS MATERIALIZED (
  SELECT DISTINCT b.doc_id AS id_b
  FROM mbands a JOIN mbands b ON a.band = b.band AND a.bsig = b.bsig
  WHERE a.doc_id < b.doc_id
    AND CAST({inter.replace('sh_a', 'a.sh').replace('sh_b', 'b.sh')} AS DOUBLE)
        / (len(a.sh) + len(b.sh)
           - {inter.replace('sh_a', 'a.sh').replace('sh_b', 'b.sh')}) >= 0.4),
uniq AS MATERIALIZED (
  SELECT * FROM g WHERE doc_id NOT IN (SELECT id_b FROM dup_b)),
cntd AS (SELECT source, count(*) AS n FROM uniq GROUP BY source),
r AS (SELECT source, pow(n * 1.0 / (SELECT min(n) FROM cntd), -0.5) AS rate
      FROM cntd)
SELECT u.doc_id, u.source, CAST(len({TOKS}) AS INT) AS n_tokens_ws
FROM uniq u JOIN r USING (source)
WHERE CAST(((u.doc_id % 2147483648) * 2654435761 + 7) % 2147483648 AS DOUBLE)
      / 2147483648.0 < r.rate
"""


LLM_PREP_V5_SQL = _llm_prep_v5_sql()


def llm_prep_pipeline_v6(spark, sf_dir):
    """Round-4 composed recipe — the SURGICAL corpus-prep variant: cheap
    char-entropy gate (drops gibberish/boilerplate-char docs, zero
    shuffle) → duplicate-span REMOVAL (cut cross-doc boilerplate
    passages, min-id owner keeps one copy — content-level dedup instead
    of document-level drops) → min-length floor on the cleaned text →
    exact per-domain document budgets (deterministic hash-order top-k).
    At 100 TB: the gate and floor are narrow scans, span removal shuffles
    fixed-width (id, pos, hash) triples only, and the budget rank is
    one per-domain top-k — no stage carries text except the one id-keyed
    join that rewrites it."""
    from ..llmdata import (CharEntropyScorer, DuplicateSpanRemover,
                           StratifiedBudgetSampler, TokenCounter)
    docs = load(spark, sf_dir, "documents")
    ent = CharEntropyScorer(inputCol="text")._transform(docs)
    # engine-exact threshold on the 4-decimal-quantized entropy; the
    # gated corpus materializes ONCE (the staged-pipeline shape — each
    # stage's output is what a production run would persist) so the
    # remover's three DAG branches don't re-run the entropy scan
    gated = ent.filter(q4(F.col("char_entropy")) >= 40000) \
        .select("doc_id", "source", "text").localCheckpoint(eager=True)
    # materialize the cleaned text as a plain string column: the keep/
    # exists rewrite is a large expression tree, and substituting it into
    # TokenCounter's tokenizers would re-evaluate (and re-codegen) it per
    # downstream use
    cleaned = DuplicateSpanRemover(
        idCol="doc_id", textCol="text", spanTokens=_SPAN_K, minDocFreq=2,
        outputCol="clean").transform(gated)[0] \
        .select("doc_id", "source", "clean").localCheckpoint(eager=True)
    counted = TokenCounter(inputCol="clean")._transform(cleaned)
    kept = counted.filter(F.col("n_tokens_ws") >= 20) \
        .select("doc_id", "source", "clean", "n_tokens_ws")
    # rank budgets on the narrow (id, domain) pair; text rejoins by id
    ids = StratifiedBudgetSampler(
        idCol="doc_id", domainCol="source", budgets={"src0": 5, "src1": 8},
        defaultBudget=10) \
        .transform(kept.select("doc_id", "source"))[0]
    final = kept.join(ids.select("doc_id"), "doc_id", "left_semi")
    return final.select("doc_id", "source",
                        F.col("n_tokens_ws").cast("long").alias("n_tokens_ws"),
                        F.md5("clean").alias("clean_md5"))


def _llm_prep_v6_sql() -> str:
    ent = ("-list_aggregate(list_transform(cnts, "
           "q -> (q * 1.0 / n) * log2(q * 1.0 / n)), 'sum')")
    return f"""
WITH ch AS (SELECT doc_id,
                   list_filter(string_split(text, ''), x -> x <> '') AS cl
            FROM documents),
e AS (SELECT doc_id, len(cl) AS n,
             list_transform(list_distinct(cl),
                            d -> len(list_filter(cl, x -> x = d))) AS cnts
      FROM ch),
g AS MATERIALIZED (
  SELECT d.doc_id, d.source, d.text FROM documents d JOIN e USING (doc_id)
  WHERE e.n > 0 AND {SQL_Q4.format(ent)} >= 40000),
{_span_removal_ctes(_SPAN_K, 'g', ', source')},
fin AS (SELECT doc_id, source, len(kt) AS n_tokens_ws,
               md5(coalesce(array_to_string(kt, ' '), '')) AS clean_md5
        FROM kept WHERE len(kt) >= 20),
ranked AS (SELECT *, row_number() OVER (
             PARTITION BY source
             ORDER BY ((doc_id % 2147483648) * 2654435761 + 7) % 2147483648,
                      doc_id) AS rnk
           FROM fin)
SELECT doc_id, source, CAST(n_tokens_ws AS BIGINT) AS n_tokens_ws, clean_md5
FROM ranked
WHERE rnk <= CASE source WHEN 'src0' THEN 5 WHEN 'src1' THEN 8 ELSE 10 END
"""


LLM_PREP_V6_SQL = _llm_prep_v6_sql()


def llm_prep_pipeline_v4(spark, sf_dir):
    """This round's corpus-prep flagship: the incremental-corpus shape.
    Cheapest-first gates (Gopher rules, zero-shuffle) → interpolated
    bigram-LM quality cutoff (one typed-key count shuffle + zero-shuffle
    scoring) → the daily increment (doc_id%5==0) near-dup-deduped against
    the historical signature store WITHOUT re-reading history → the clean
    increment labeled with the epoch-1 training-order shuffle.  This is
    the steady-state 100 TB pipeline: per increment, history costs only
    its signature relation and every stage before the band join is a row
    gate."""
    from ..llmdata import (BigramLMScorer, CorpusShuffler,
                           GopherQualityFilter,
                           IncrementalMinHashDeduplicator)
    docs = load(spark, sf_dir, "documents")
    g = (GopherQualityFilter(inputCol="text", minWords=30,
                             minRequiredStopwords=1)
         .transform(docs)[0].where(F.col("keep"))
         .select("doc_id", "text"))
    lm = BigramLMScorer(inputCol="text", outputCol="lm2",
                        vocabSize=50_000, bigramSize=200_000,
                        interpolation=0.7).fit(g)
    scored = lm.transform(g)[0].filter(F.col("lm2") >= -3.6)
    new = scored.filter(F.col("doc_id") % 5 == 0)
    old = scored.filter(F.col("doc_id") % 5 != 0)
    store = (MinHashSignature(inputCol="sh", outputCol="sig",
                              numHashes=N_HASHES, seed=SEED)
             .transform(old.select("doc_id",
                                   shingles(F.col("text"), 3).alias("sh")))[0]
             .select("doc_id", "sig"))
    d = IncrementalMinHashDeduplicator(
        idCol="doc_id", textCol="text", shingleSize=3, numHashes=N_HASHES,
        bandSize=4, threshold=0.5, seed=SEED)
    matches, _ = d.transform(new, store)
    clean = new.join(matches.select(F.col("id").alias("doc_id")).distinct(),
                     "doc_id", "left_anti")
    out = CorpusShuffler(idCol="doc_id", numShards=8, epoch=1, salt=13) \
        .transform(clean)[0]
    return out.select("doc_id", "shard", "order_key",
                      q4(F.col("lm2")).alias("lm2_q4"))


def _llm_prep_v4_sql() -> str:
    bl = _bigram_lm_sql(src="kept", raw=True).strip()
    inc = _incremental_dedup_sql(src="scored2").strip()
    return f"""
WITH kept AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE {_gopher_keep_sql(30, 1)}),
bl AS MATERIALIZED ({bl}),
scored2 AS MATERIALIZED (
  SELECT k.doc_id, k.text, b.sc FROM kept k JOIN bl b USING (doc_id)
  WHERE b.sc >= -3.6),
matched AS (SELECT DISTINCT id FROM ({inc})),
shuffled AS (
  SELECT doc_id, sc,
         xor((((doc_id % 2147483648) + 2147483648) % 2147483648
              * 2654435761 + 13) % 2147483648,
             506952113) AS order_key
  FROM scored2
  WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT id FROM matched))
SELECT doc_id, CAST(order_key % 8 AS INT) AS shard, order_key,
       {SQL_Q4.format('sc')} AS lm2_q4
FROM shuffled
"""


LLM_PREP_V4_SQL = _llm_prep_v4_sql()


def pca_whiten(spark, sf_dir):
    """PCA whitening of the embeddings table, verified by its defining
    property: the whitened sample covariance is the identity.  The query
    re-measures the covariance of the transformed vectors distributedly
    (the same one-pass partials shape as the fit) and emits it q4-
    quantized — the oracle is a literal 64x64 identity."""
    from ..llmdata import PCAWhitener
    from ..llmdata.simsearch import covariance_partials
    emb = load(spark, sf_dir, "embeddings")
    m = PCAWhitener(inputCol="embedding", outputCol="wx").fit(emb)
    out = m.transform(emb)[0].select("wx")
    _, _, cov = covariance_partials(out, "wx")
    d = cov.shape[0]
    data = [(i, j, int(round(cov[i, j] * 10000)))
            for i in range(d) for j in range(d)]
    return spark.createDataFrame(data, "i long, j long, cov_q4 long")


PCA_WHITEN_SQL = """
SELECT CAST(i.i AS BIGINT) AS i, CAST(j.j AS BIGINT) AS j,
       CAST(CASE WHEN i.i = j.j THEN 10000 ELSE 0 END AS BIGINT) AS cov_q4
FROM unnest(generate_series(0, 63)) AS i(i),
     unnest(generate_series(0, 63)) AS j(j)
"""


def ngram_profile(spark, sf_dir):
    """Corpus heavy hitters: top-50 word 5-grams by document frequency —
    the boilerplate-discovery profiler (explode → count → top-k pushed
    into TakeOrderedAndProject; output is k rows at any corpus size)."""
    from ..llmdata import NGramProfiler
    docs = load(spark, sf_dir, "documents")
    (out,) = NGramProfiler(inputCol="text", n=5, k=50).transform(docs)
    return out


NGRAM_PROFILE_SQL = f"""
WITH arrs AS (SELECT doc_id, {TOKS} AS arr FROM documents),
grams AS (
  SELECT doc_id,
         CASE WHEN len(arr) >= 5
              THEN list_distinct(list_transform(
                     generate_series(1, len(arr) - 4),
                     i -> array_to_string(arr[i:i+4], ' ')))
              ELSE [array_to_string(arr, ' ')] END AS gs
  FROM arrs),
x AS (SELECT unnest(gs) AS ngram FROM grams)
SELECT ngram, count(*) AS doc_freq
FROM x GROUP BY ngram
ORDER BY doc_freq DESC, ngram LIMIT 50
"""


_BOILER1 = "subscribe to our newsletter"
_BOILER2 = "all rights reserved worldwide"


def line_dedup(spark, sf_dir):
    """C4-style corpus-wide exact line dedup: the testdata's documents
    are single-line, so the query appends two boilerplate lines to every
    document — LineDeduplicator keeps them only at their first global
    occurrence and strips them everywhere else."""
    from ..llmdata import LineDeduplicator
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws("\n", F.col("text"), F.lit(_BOILER1), F.lit(_BOILER2))
        .alias("t"))
    out = LineDeduplicator(inputCol="t", idCol="doc_id", outputCol="clean",
                           minLineChars=10)._transform(docs)
    return out.select("doc_id", F.sha2(F.col("clean"), 256).alias("clean_sha"))


LINE_DEDUP_SQL = f"""
WITH d AS (SELECT doc_id,
                  concat(text, chr(10), '{_BOILER1}', chr(10), '{_BOILER2}')
                  AS t
           FROM documents),
arrs AS (SELECT doc_id, string_split(t, chr(10)) AS arr FROM d),
l AS (SELECT doc_id, gs.i AS pos, arr[gs.i + 1] AS ln
      FROM arrs, unnest(generate_series(0, len(arr) - 1)) AS gs(i)),
kept AS (SELECT doc_id, pos, ln
         FROM (SELECT doc_id, pos, ln,
                      row_number() OVER (PARTITION BY ln
                                         ORDER BY doc_id, pos) AS rn
               FROM l)
         WHERE length(ln) < 10 OR rn = 1),
agg AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS clean
        FROM kept GROUP BY doc_id)
SELECT d.doc_id, sha256(COALESCE(a.clean, '')) AS clean_sha
FROM d LEFT JOIN agg a USING (doc_id)
"""


def temperature_mixture(spark, sf_dir):
    """mT5-style alpha-temperature domain balancing: fit = one domain
    count, transform = hash-deterministic narrow filter with rates
    (n_d/n_min)^(alpha-1).  The testdata's sources are uniform (every
    rate would be 1), so the query derives a 70/20/10-skewed domain from
    doc_id to make the temperature rule bite."""
    from ..llmdata import TemperatureMixtureSampler
    docs = load(spark, sf_dir, "documents").withColumn(
        "domain", F.when(F.col("doc_id") % 10 < 7, "web")
                   .when(F.col("doc_id") % 10 < 9, "books")
                   .otherwise("code"))
    m = TemperatureMixtureSampler(idCol="doc_id", domainCol="domain",
                                  alpha=0.5).fit(docs)
    return m.transform(docs)[0].select("doc_id", "domain")


TEMPERATURE_MIXTURE_SQL = """
WITH d AS (SELECT doc_id,
                  CASE WHEN doc_id % 10 < 7 THEN 'web'
                       WHEN doc_id % 10 < 9 THEN 'books'
                       ELSE 'code' END AS domain
           FROM documents),
cnt AS (SELECT domain, count(*) AS n FROM d GROUP BY domain),
r AS (SELECT domain, pow(n * 1.0 / (SELECT min(n) FROM cnt), -0.5) AS rate
      FROM cnt)
SELECT d.doc_id, d.domain
FROM d JOIN r USING (domain)
WHERE CAST(((d.doc_id % 2147483648) * 2654435761 + 7) % 2147483648 AS DOUBLE)
      / 2147483648.0 < r.rate
"""


# --- token-budget sequence packing ------------------------------------------

PACK_BUDGET, PACK_SHARDS = 256, 4


def sequence_packing(spark, sf_dir):
    from ..llmdata import SequencePacker
    docs = load(spark, sf_dir, "documents")
    counted = TokenCounter(inputCol="text").transform(docs)[0]
    packed = SequencePacker(idCol="doc_id", tokenCol="n_tokens_ws",
                            budget=PACK_BUDGET, numShards=PACK_SHARDS) \
        .transform(counted)[0]
    return packed.select("doc_id", "shard", "seq")


SEQUENCE_PACKING_SQL = f"""
WITH RECURSIVE items AS MATERIALIZED (
  SELECT doc_id, CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
         CAST(len({TOKS}) AS INT) AS n_tok,
         row_number() OVER (PARTITION BY doc_id % {PACK_SHARDS}
                            ORDER BY doc_id) AS rn
  FROM documents),
pack(shard, rn, doc_id, seq, fill) AS (
  SELECT shard, rn, doc_id, 0, n_tok FROM items WHERE rn = 1
  UNION ALL
  SELECT i.shard, i.rn, i.doc_id,
         CASE WHEN p.fill > 0 AND p.fill + i.n_tok > {PACK_BUDGET} THEN p.seq + 1 ELSE p.seq END,
         CASE WHEN p.fill > 0 AND p.fill + i.n_tok > {PACK_BUDGET} THEN i.n_tok ELSE p.fill + i.n_tok END
  FROM items i JOIN pack p ON i.shard = p.shard AND i.rn = p.rn + 1)
SELECT doc_id, shard, seq FROM pack
"""


# --- IVF ANN (approximate; deterministic init → stable rows, rows-only) -----

def ann_ivf(spark, sf_dir):
    from ..llmdata import IVFIndex
    emb = load(spark, sf_dir, "embeddings")
    idx = IVFIndex(vecCol="embedding", nlist=8, maxIter=3).fit(emb)
    corpus = idx.transform(emb.select(F.col("vec_id").alias("corpus_id"),
                                      "embedding"))[0]
    queries = emb.filter(F.col("vec_id") % 100 == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    out = idx.search(queries, corpus, "query_id", "corpus_id", k=5)
    return out.select("query_id", "corpus_id", q4(F.col("cosine")).alias("cosine"),
                      "rank")


def _ivf_cells_parts(nlist: int = 8, iters: int = 3,
                     dim: int = 64) -> tuple[list[str], str]:
    """Shared DuckDB replay of IVFIndex's coarse quantizer: deterministic
    KMeans (first_distinct init = lexicographically smallest distinct
    vectors, per-iteration argmin assignment with lowest-cid ties, mean
    update keeping empty cells), ending with a ``cells`` CTE =
    (corpus_id, v, cell) assigned against the FITTED model.  Returns the
    CTE parts plus the squared-distance expression (aliases ``p``/``c``)
    callers reuse for probe CTEs."""
    d2 = (f"list_aggregate(list_transform(range(1, {dim + 1}), "
          f"i -> (p.v[i] - c.m[i]) * (p.v[i] - c.m[i])), 'sum')")
    parts = [
        "WITH pts AS MATERIALIZED (SELECT vec_id, "
        "CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY v) - 1 AS "
        f"cid, v AS m FROM (SELECT DISTINCT v FROM pts) ORDER BY v LIMIT {nlist})",
    ]
    for it in range(1, iters + 1):
        parts.append(
            f"a{it} AS MATERIALIZED (SELECT vec_id, v, cid FROM ("
            f"SELECT p.vec_id, p.v, c.cid, row_number() OVER (PARTITION BY "
            f"p.vec_id ORDER BY {d2}, c.cid) AS rn "
            f"FROM pts p CROSS JOIN c{it - 1} c) WHERE rn = 1)")
        parts.append(
            f"c{it} AS MATERIALIZED (SELECT c.cid, COALESCE(s.m, c.m) AS m "
            f"FROM c{it - 1} c LEFT JOIN (SELECT cid, list(sv ORDER BY pos) "
            f"AS m FROM (SELECT cid, pos, sum(x) / count(*) AS sv FROM ("
            f"SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos "
            f"FROM a{it}) GROUP BY cid, pos) GROUP BY cid) s "
            f"ON s.cid = c.cid)")
    parts.append(
        f"cells AS MATERIALIZED (SELECT vec_id AS corpus_id, p.v, cid AS "
        f"cell FROM (SELECT p.vec_id, p.v, c.cid, row_number() OVER ("
        f"PARTITION BY p.vec_id ORDER BY {d2}, c.cid) AS rn "
        f"FROM pts p CROSS JOIN c{iters} c) p WHERE rn = 1)")
    return parts, d2


def _ann_ivf_sql(nlist: int = 8, iters: int = 3, dim: int = 64,
                 nprobe: int = 2, k: int = 5) -> str:
    """DuckDB replay of the IVF pipeline (see _ivf_cells_parts), then
    probe the nprobe nearest cells per query and rank candidates by
    cosine (ties -> lowest corpus_id) — mirroring IVFIndexModel.search."""
    parts, d2 = _ivf_cells_parts(nlist, iters, dim)
    nrm = ("sqrt(list_aggregate(list_transform(range(1, {d}), "
           "i -> {x}.v[i] * {x}.v[i]), 'sum'))")
    dot = (f"list_aggregate(list_transform(range(1, {dim + 1}), "
           f"i -> q.v[i] * t.v[i]), 'sum')")
    parts.append(
        f"probes AS MATERIALIZED (SELECT vec_id AS query_id, p.v, cid AS "
        f"cell FROM (SELECT p.vec_id, p.v, c.cid, row_number() OVER ("
        f"PARTITION BY p.vec_id ORDER BY {d2}, c.cid) AS rn "
        f"FROM pts p CROSS JOIN c{iters} c WHERE p.vec_id % 100 = 0) p "
        f"WHERE rn <= {nprobe})")
    parts.append(
        "scored AS (SELECT q.query_id, t.corpus_id, "
        + dot.replace("q.v", "q.v").replace("t.v", "t.v") + " / ("
        + nrm.format(d=dim + 1, x="q") + " * " + nrm.format(d=dim + 1, x="t")
        + ") AS cosine FROM probes q JOIN cells t ON q.cell = t.cell)")
    return (", ".join(parts)
            + f" SELECT query_id, corpus_id, "
              f"CAST(ROUND(cosine * 10000) AS BIGINT) AS cosine, rank FROM ("
              f"SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY "
              f"cosine DESC, corpus_id) AS rank FROM scored) WHERE rank <= {k}")


ANN_IVF_SQL = _ann_ivf_sql()


def ann_recall(spark, sf_dir):
    """ANN quality measurement as a first-class query: recall@k of the
    IVF probe against brute-force cosine ground truth, per query.  The
    two rankings it compares are themselves oracle-verified (ann_ivf,
    ann_bruteforce), so hits/recall are engine-exact."""
    from ..llmdata import BruteForceKNNJoin, IVFIndex
    emb = load(spark, sf_dir, "embeddings")
    idx = IVFIndex(vecCol="embedding", nlist=8, maxIter=3).fit(emb)
    corpus = idx.transform(emb.select(F.col("vec_id").alias("corpus_id"),
                                      "embedding"))[0]
    queries = emb.filter(F.col("vec_id") % 100 == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    ivf = idx.search(queries, corpus, "query_id", "corpus_id", k=ANN_K) \
        .select("query_id", "corpus_id")
    bf = BruteForceKNNJoin(queryIdCol="query_id", corpusIdCol="corpus_id",
                           vecCol="embedding", k=ANN_K) \
        .transform(queries, emb.select(F.col("vec_id").alias("corpus_id"),
                                       "embedding"))[0] \
        .select("query_id", "corpus_id")
    hits = (ivf.join(bf, ["query_id", "corpus_id"])
            .groupBy("query_id").agg(F.count("*").alias("hits")))
    return (queries.select("query_id").join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
                    q4(F.coalesce("hits", F.lit(0)) / float(ANN_K))
                    .alias("recall")))


def _ann_recall_sql(nlist: int = 8, iters: int = 3, dim: int = 64,
                    nprobe: int = 2, k: int = ANN_K) -> str:
    """IVF top-k (as _ann_ivf_sql) ∩ brute-force top-k → per-query
    recall@k."""
    parts, d2 = _ivf_cells_parts(nlist, iters, dim)
    nrm = ("sqrt(list_aggregate(list_transform(range(1, {d}), "
           "i -> {x}.v[i] * {x}.v[i]), 'sum'))")
    dot = (f"list_aggregate(list_transform(range(1, {dim + 1}), "
           f"i -> q.v[i] * t.v[i]), 'sum')")
    cos = (dot + " / (" + nrm.format(d=dim + 1, x="q") + " * "
           + nrm.format(d=dim + 1, x="t") + ")")
    parts.append(
        f"probes AS MATERIALIZED (SELECT vec_id AS query_id, p.v, cid AS "
        f"cell FROM (SELECT p.vec_id, p.v, c.cid, row_number() OVER ("
        f"PARTITION BY p.vec_id ORDER BY {d2}, c.cid) AS rn "
        f"FROM pts p CROSS JOIN c{iters} c WHERE p.vec_id % 100 = 0) p "
        f"WHERE rn <= {nprobe})")
    parts.append(
        f"ivfk AS (SELECT query_id, corpus_id FROM (SELECT q.query_id, "
        f"t.corpus_id, row_number() OVER (PARTITION BY q.query_id ORDER BY "
        f"{cos} DESC, t.corpus_id) AS rank FROM probes q JOIN cells t "
        f"ON q.cell = t.cell) WHERE rank <= {k})")
    parts.append(
        f"bfk AS (SELECT query_id, corpus_id FROM (SELECT q.query_id, "
        f"t.corpus_id, row_number() OVER (PARTITION BY q.query_id ORDER BY "
        f"{cos} DESC, t.corpus_id) AS rank FROM "
        f"(SELECT vec_id AS query_id, v FROM pts WHERE vec_id % 100 = 0) q "
        f"CROSS JOIN (SELECT corpus_id, v FROM cells) t) WHERE rank <= {k})")
    parts.append(
        "hits AS (SELECT i.query_id, count(*) AS h FROM ivfk i JOIN bfk b "
        "ON i.query_id = b.query_id AND i.corpus_id = b.corpus_id "
        "GROUP BY i.query_id)")
    return (", ".join(parts)
            + f" SELECT q.vec_id AS query_id, "
              f"CAST(coalesce(h.h, 0) AS BIGINT) AS hits, "
              f"CAST(ROUND(coalesce(h.h, 0) * 10000.0 / {k}) AS BIGINT) "
              f"AS recall "
              f"FROM (SELECT vec_id FROM pts WHERE vec_id % 100 = 0) q "
              f"LEFT JOIN hits h ON h.query_id = q.vec_id")


ANN_RECALL_SQL = _ann_recall_sql()

ANN_PQ_RERANK = 20


def ann_ivf_pq(spark, sf_dir):
    """IVF + int8-quantized probe + exact rerank — the 100 TB ANN shape:
    the wide probe join shuffles only ``EmbeddingQuantizer`` codes (¼ of
    float32 bytes), full-precision vectors touch only the rerank-sized
    candidate set."""
    from ..llmdata import EmbeddingQuantizer, IVFIndex
    emb = load(spark, sf_dir, "embeddings")
    idx = IVFIndex(vecCol="embedding", nlist=8, maxIter=3).fit(emb)
    corpus = idx.transform(emb.select(F.col("vec_id").alias("corpus_id"),
                                      "embedding"))[0]
    corpus = EmbeddingQuantizer(inputCol="embedding", outputCol="qcodes",
                                bits=8)._transform(corpus) \
        .select("corpus_id", "cell", "embedding", "qcodes")
    queries = emb.filter(F.col("vec_id") % 100 == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    out = idx.search(queries, corpus, "query_id", "corpus_id", k=ANN_K,
                     codes_col="qcodes", rerank=ANN_PQ_RERANK)
    return out.select("query_id", "corpus_id",
                      q4(F.col("cosine")).alias("cosine"), "rank")


def _ann_ivf_pq_sql(nlist: int = 8, iters: int = 3, dim: int = 64,
                    nprobe: int = 2, k: int = 5,
                    rerank: int = ANN_PQ_RERANK, qmax: int = 127) -> str:
    """IVF cells as in _ann_ivf_sql, then: symmetric int8 quantization of
    the corpus (scale = max|x|/qmax, codes = round(x/scale)), coarse rank
    on dequantized codes within probed cells, exact-cosine rerank of the
    top-``rerank`` candidates — mirroring IVFIndexModel.search(codes_col,
    rerank)."""
    parts, d2 = _ivf_cells_parts(nlist, iters, dim)
    cos = ("list_inner_product({a}, {b}) / (sqrt(list_inner_product({a}, {a}))"
           " * sqrt(list_inner_product({b}, {b})))")
    parts.append(
        f"qc AS MATERIALIZED (SELECT corpus_id, cell, "
        f"list_transform(codes, c -> c * scale) AS dv FROM ("
        f"SELECT corpus_id, cell, CASE WHEN scale > 0 THEN "
        f"list_transform(v, x -> CAST(ROUND(x / scale) AS TINYINT)) "
        f"ELSE list_transform(v, x -> CAST(0 AS TINYINT)) END AS codes, "
        f"scale FROM (SELECT corpus_id, cell, v, "
        f"list_max(list_transform(v, x -> abs(x))) / {qmax} AS scale "
        f"FROM cells)))")
    parts.append(
        f"probes AS MATERIALIZED (SELECT vec_id AS query_id, p.v, cid AS "
        f"cell FROM (SELECT p.vec_id, p.v, c.cid, row_number() OVER ("
        f"PARTITION BY p.vec_id ORDER BY {d2}, c.cid) AS rn "
        f"FROM pts p CROSS JOIN c{iters} c WHERE p.vec_id % 100 = 0) p "
        f"WHERE rn <= {nprobe})")
    parts.append(
        "coarse AS (SELECT query_id, corpus_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY "
        + cos.format(a="q.v", b="t.dv") + " DESC, corpus_id) AS crank "
        "FROM probes q JOIN qc t ON q.cell = t.cell)")
    parts.append(
        f"exact AS (SELECT c.query_id, c.corpus_id, "
        + cos.format(a="q.v", b="t.v") + f" AS cosine "
        f"FROM (SELECT query_id, corpus_id FROM coarse WHERE crank <= "
        f"{rerank}) c JOIN pts q ON c.query_id = q.vec_id "
        f"JOIN pts t ON c.corpus_id = t.vec_id)")
    return (", ".join(parts)
            + f" SELECT query_id, corpus_id, "
              f"CAST(ROUND(cosine * 10000) AS BIGINT) AS cosine, rank FROM ("
              f"SELECT query_id, corpus_id, cosine, row_number() OVER ("
              f"PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS "
              f"rank FROM exact) WHERE rank <= {k}")


ANN_IVF_PQ_SQL = _ann_ivf_pq_sql()

SEMANTIC_DEDUP_THRESHOLD = 0.3


def semantic_dedup(spark, sf_dir):
    """SemDeDup-style near-dup pairs within learned KMeans cells."""
    from ..llmdata import SemanticDeduplicator
    emb = load(spark, sf_dir, "embeddings")
    d = SemanticDeduplicator(idCol="vec_id", vecCol="embedding",
                             threshold=SEMANTIC_DEDUP_THRESHOLD,
                             numClusters=8, maxIter=3)
    out = d.transform(emb)[0]
    return out.select("id_a", "id_b", F.col("cell").cast("long").alias("cell"),
                      q4(F.col("cosine")).alias("cosine"))


def _semantic_dedup_sql(nlist: int = 8, iters: int = 3, dim: int = 64,
                        threshold: float = SEMANTIC_DEDUP_THRESHOLD) -> str:
    parts, _ = _ivf_cells_parts(nlist, iters, dim)
    parts.append(
        "pairs AS (SELECT a.corpus_id AS id_a, b.corpus_id AS id_b, "
        "a.cell AS cell, list_inner_product(a.v, b.v) / ("
        "sqrt(list_inner_product(a.v, a.v)) * "
        "sqrt(list_inner_product(b.v, b.v))) AS c "
        "FROM cells a JOIN cells b "
        "ON a.cell = b.cell AND a.corpus_id < b.corpus_id)")
    return (", ".join(parts)
            + f" SELECT id_a, id_b, CAST(cell AS BIGINT) AS cell, "
              f"{SQL_Q4.format('c')} AS cosine FROM pairs WHERE c >= {threshold}")


SEMANTIC_DEDUP_SQL = _semantic_dedup_sql()


# --- Multimodal plumbing (stub decode; deterministic sha256 features) -------

def media_pipeline(spark, sf_dir):
    from ..llmdata import MediaFeatureExtractor, VideoFrameSampler
    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "video").otherwise("image")
        .alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(640).alias("width"), F.lit(480).alias("height"),
        (F.length("text") * 10).cast("int").alias("duration_ms"))
    feats = MediaFeatureExtractor(featureDim=8).transform(media)[0]
    frames = VideoFrameSampler(numFrames=4).transform(media)[0]
    f1 = feats.select(F.col("media_id"), F.lit("feat").alias("kind"),
                      q4(F.element_at("media_features", 1)).alias("val"))
    f2 = frames.select("media_id", F.lit("frame").alias("kind"),
                       F.col("ts_ms").cast("long").alias("val"))
    return f1.unionAll(f2)


def _media_pipeline_sql() -> str:
    """DuckDB replay of the deterministic media stubs: feature[0] is the
    first little-endian uint64 of sha256(payload) % 1000 / 1000 (see
    multimodal._fake_decode); frame timestamps are evenly spaced integer
    truncations.  The uint64 is assembled from the hex digest nibble by
    nibble in HUGEINT to dodge signed-64 overflow."""
    def nib(i: int) -> str:  # 0-based nibble index into the hex digest
        return f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1)"
    u64 = " + ".join(
        f"CAST({nib(2 * i)} * 16 + {nib(2 * i + 1)} AS HUGEINT) * "
        f"CAST({256 ** i} AS HUGEINT)" for i in range(8))
    return f"""
WITH media AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'video' ELSE 'image' END AS media_type,
         sha256(text) AS h,
         length(text) * 10 AS duration_ms
  FROM documents),
feat AS (
  SELECT media_id, 'feat' AS kind,
         CAST(ROUND(CAST(({u64}) % 1000 AS DOUBLE) / 1000.0 * 10000) AS BIGINT) AS val
  FROM media),
frames AS (
  SELECT media_id, 'frame' AS kind,
         CAST(FLOOR(fi * duration_ms / 4.0) AS BIGINT) AS val
  FROM media, unnest([0, 1, 2, 3]) AS t(fi)
  WHERE media_type = 'video')
SELECT * FROM feat UNION ALL SELECT * FROM frames
"""


MEDIA_PIPELINE_SQL = _media_pipeline_sql()


def llm_prep_pipeline(spark, sf_dir):
    """End-to-end training-data prep composed from the engine's own
    operators: language-ID filter (en) → quality filter (score ≥ 0.5) →
    exact dedup (keep lowest doc_id per text) → deterministic hash split
    (90/10 train/eval) → per-doc token count.  The shape every 100 TB
    corpus pipeline takes: row-local scoring, one dedup shuffle, a pure
    row-function split."""
    from ..feature import RandomSplitter
    docs = load(spark, sf_dir, "documents")
    lang = LanguageIdentifier(inputCol="text", outputCol="lang_pred")
    qual = TextQualityScorer(inputCol="text")
    tok = TokenCounter(inputCol="text")
    dedup = ExactDeduplicator(inputCol="text").set_(idCol="doc_id")
    scored = qual.transform(lang.transform(docs)[0])[0]
    kept = scored.where((F.col("lang_pred") == "en")
                        & (F.col("quality_score") >= 0.5))
    deduped = dedup.transform(kept)[0]
    splits = RandomSplitter(weights=[0.9, 0.1], seed=7, splitStrategy="hash",
                            hashCol="doc_id").transform(deduped)
    parts = [s.withColumn("split", F.lit(i)) for i, s in enumerate(splits)]
    union = parts[0].unionAll(parts[1])
    return tok.transform(union)[0].select("doc_id", "split", "n_tokens_ws")


def llm_prep_pipeline_v2(spark, sf_dir):
    """The round-2 corpus-prep flagship — every stage is one of the
    engine's own operators: TextNormalizer (control-strip / whitespace /
    case) → TextQualityScorer filter (score ≥ 0.5) → PIIRedactor →
    ExactDeduplicator on the redacted text → DomainMixtureSampler
    (downsample src0/src1) → TokenCounter → SequencePacker into
    256-token training sequences.  Row-local work end-to-end except ONE
    dedup shuffle and ONE pack shard shuffle — the 100 TB shape."""
    from ..llmdata import (DomainMixtureSampler, PIIRedactor, SequencePacker,
                           TextNormalizer)
    docs = load(spark, sf_dir, "documents")
    norm = TextNormalizer(inputCol="text", outputCol="norm")._transform(docs)
    scored = TextQualityScorer(inputCol="norm")._transform(norm)
    kept = scored.where(F.col("quality_score") >= 0.5)
    red = PIIRedactor(inputCol="norm", outputCol="clean")._transform(kept)
    deduped = ExactDeduplicator(inputCol="clean").set_(idCol="doc_id") \
        .transform(red)[0]
    mixed = DomainMixtureSampler(idCol="doc_id", domainCol="source",
                                 rates=MIX_RATES, defaultRate=0.75) \
        ._transform(deduped)
    counted = TokenCounter(inputCol="clean")._transform(mixed)
    packed = SequencePacker(idCol="doc_id", tokenCol="n_tokens_ws",
                            budget=PACK_BUDGET, numShards=PACK_SHARDS) \
        ._transform(counted)
    return packed.select("doc_id", "source", "n_tokens_ws", "shard", "seq")


def _llm_prep_v2_sql() -> str:
    ex = _quality_exprs()
    # quality expressions evaluate over the NORMALIZED text column `n`
    score_n = ex["score"].replace("text", "n")
    from ..llmdata.textanalysis import PII_PATTERNS
    reds = ""
    src = "n"
    for _, pat, token in PII_PATTERNS:
        p = pat.replace("'", "''")
        src = f"regexp_replace({src}, '{p}', '{token}', 'g')"
    return f"""
WITH RECURSIVE norm AS (
  SELECT doc_id, source,
         lower(trim(regexp_replace(regexp_replace(text, '[\\x00-\\x1F\\x7F]', ' ', 'g'),
                                   '\\s+', ' ', 'g'))) AS n
  FROM documents),
kept AS (SELECT doc_id, source, n FROM norm WHERE ({score_n}) >= 0.5),
red AS MATERIALIZED (SELECT doc_id, source, {src} AS clean FROM kept),
deduped AS (
  SELECT doc_id, source, clean FROM red
  WHERE doc_id IN (SELECT min(doc_id) FROM red GROUP BY clean)),
mixed AS (
  SELECT doc_id, source, clean FROM deduped
  WHERE CAST(((doc_id % 2147483648) * 2654435761 + 7) % 2147483648 AS DOUBLE)
        / 2147483648.0
        < CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.5 ELSE 0.75 END),
items AS MATERIALIZED (
  SELECT doc_id, source, CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
         CAST(len(list_filter(string_split(lower(clean), ' '), t -> t <> '')) AS INT) AS n_tok,
         row_number() OVER (PARTITION BY doc_id % {PACK_SHARDS}
                            ORDER BY doc_id) AS rn
  FROM mixed),
pack(shard, rn, doc_id, source, n_tok, seq, fill) AS (
  SELECT shard, rn, doc_id, source, n_tok, 0, n_tok FROM items WHERE rn = 1
  UNION ALL
  SELECT i.shard, i.rn, i.doc_id, i.source, i.n_tok,
         CASE WHEN p.fill > 0 AND p.fill + i.n_tok > {PACK_BUDGET} THEN p.seq + 1 ELSE p.seq END,
         CASE WHEN p.fill > 0 AND p.fill + i.n_tok > {PACK_BUDGET} THEN i.n_tok ELSE p.fill + i.n_tok END
  FROM items i JOIN pack p ON i.shard = p.shard AND i.rn = p.rn + 1)
SELECT doc_id, source, n_tok AS n_tokens_ws, shard, seq FROM pack
"""


LLM_PREP_V2_SQL = _llm_prep_v2_sql()


def _llm_prep_sql() -> str:
    cases = []
    for lang in sorted(LANG_MARKERS):
        lit = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        cases.append(f"len(list_filter({TOKS}, t -> t IN ({lit}))) AS hit_{lang}")
    langs = sorted(LANG_MARKERS)
    pairs = ", ".join(f"{{'neg': -hit_{l}, 'lang': '{l}'}}" for l in langs)
    stop_lit = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    mean_wl = (f"CASE WHEN len({TOKS}) > 0 THEN CAST(list_sum(list_transform("
               f"{TOKS}, t -> length(t))) AS DOUBLE) / len({TOKS}) ELSE 0.0 END")
    stop_ratio = (f"CASE WHEN len({TOKS}) > 0 THEN CAST(len(list_filter({TOKS}, "
                  f"t -> t IN ({stop_lit}))) AS DOUBLE) / len({TOKS}) ELSE 0.0 END")
    digit_ratio = ("CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace("
                   "text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) "
                   "ELSE 0.0 END")
    score = (f"(CASE WHEN ({mean_wl}) >= 3 AND ({mean_wl}) <= 10 THEN 0.4 ELSE 0.0 END"
             f" + CASE WHEN ({stop_ratio}) >= 0.05 THEN 0.3 ELSE 0.0 END"
             f" + CASE WHEN ({digit_ratio}) <= 0.2 THEN 0.2 ELSE 0.0 END"
             f" + CASE WHEN len({TOKS}) >= 10 THEN 0.1 ELSE 0.0 END)")
    return f"""
WITH hits AS (SELECT doc_id, text, {', '.join(cases)} FROM documents),
lang AS (SELECT doc_id, text, list_min([{pairs}]) AS b FROM hits),
kept AS (
  SELECT doc_id, text FROM lang
  WHERE (CASE WHEN b['neg'] < 0 THEN b['lang'] ELSE 'und' END) = 'en'
    AND ({score}) >= 0.5),
deduped AS (
  SELECT doc_id, text FROM kept
  WHERE doc_id IN (SELECT min(doc_id) FROM kept GROUP BY text))
SELECT doc_id,
       CASE WHEN (doc_id * 2654435761 + 7) % 2147483648 / 2147483648.0 < 0.9
            THEN 0 ELSE 1 END AS split,
       CAST(len({TOKS}) AS INT) AS n_tokens_ws
FROM deduped
"""


LLM_PREP_SQL = _llm_prep_sql()


def embedding_quantize(spark, sf_dir):
    """int8-quantize the embedding corpus; verify codes and per-row max
    reconstruction error (the quantization contract, end to end)."""
    from ..llmdata import EmbeddingQuantizer
    emb = load(spark, sf_dir, "embeddings")
    out = EmbeddingQuantizer(inputCol="embedding", outputCol="q", bits=8) \
        ._transform(emb)
    deq = EmbeddingQuantizer.dequantize("q")
    err = F.array_max(F.zip_with(
        deq, F.col("embedding").cast("array<double>"),
        lambda a, b: F.abs(a - b)))
    return out.select(
        "vec_id",
        q4(F.col("q")["scale"]).alias("scale"),
        F.aggregate(F.col("q")["codes"], F.lit(0).cast("long"),
                    lambda a, c: a + c).alias("code_sum"),
        q4(err).alias("max_err"))


EMBEDDING_QUANTIZE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
q AS (SELECT vec_id, x, list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale
      FROM e),
c AS (SELECT vec_id, x, scale,
             CASE WHEN scale > 0
                  THEN list_transform(x, v -> CAST(round(v / scale) AS BIGINT))
                  ELSE list_transform(x, v -> CAST(0 AS BIGINT)) END AS codes
      FROM q)
SELECT vec_id,
       {SQL_Q4.format('scale')} AS scale,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       {SQL_Q4.format(
           'list_max(list_transform(list_zip(codes, x), '
           'p -> abs(p[1] * scale - p[2])))')} AS max_err
FROM c
"""


def document_chunking(spark, sf_dir):
    """Chunk documents into 32-token windows with 8-token overlap; emit
    per-chunk offset, token count, and a fingerprint-friendly text hash."""
    from ..llmdata import DocumentChunker
    docs = load(spark, sf_dir, "documents")
    out = DocumentChunker(textCol="text", chunkCol="chunk",
                          chunkSize=32, overlap=8)._transform(docs)
    return out.select(
        "doc_id", "chunk_start",
        F.size(F.split(F.col("chunk"), " ")).cast("long").alias("chunk_tokens"),
        F.length("chunk").cast("long").alias("chunk_chars"))


DOCUMENT_CHUNKING_SQL = f"""
WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start
      FROM tok WHERE len(toks) > 0)
SELECT doc_id, start AS chunk_start,
       len(toks[start + 1 : start + 32]) AS chunk_tokens,
       length(array_to_string(toks[start + 1 : start + 32], ' ')) AS chunk_chars
FROM s
"""


_BM25_TERMS = ["spark", "join", "vector", "quantile"]  # quantile: df=0 branch
_BM25_K1, _BM25_B = 1.2, 0.75


def bm25_scoring(spark, sf_dir):
    from ..llmdata import Bm25Scorer
    docs = load(spark, sf_dir, "documents")
    model = Bm25Scorer(inputCol="text", outputCol="bm25",
                       queryTerms=_BM25_TERMS, k1=_BM25_K1, b=_BM25_B).fit(docs)
    out = model.transform(docs)[0]
    return out.select("doc_id", q4(F.col("bm25")).alias("bm25"))


def _bm25_sql() -> str:
    dfs = ", ".join(
        f"(SELECT count(*) FROM tok WHERE list_contains(toks, '{t}')) AS df{i}"
        for i, t in enumerate(_BM25_TERMS))
    terms = " + ".join(
        f"""CASE WHEN len(list_filter(toks, x -> x = '{t}')) > 0 THEN
  ln(1 + (n - df{i} + 0.5)/(df{i} + 0.5))
  * len(list_filter(toks, x -> x = '{t}')) * ({_BM25_K1} + 1.0)
  / (len(list_filter(toks, x -> x = '{t}'))
     + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * len(toks) / avgdl))
ELSE 0.0 END"""
        for i, t in enumerate(_BM25_TERMS))
    return f"""
WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents),
stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM tok),
dfs AS (SELECT {dfs})
SELECT doc_id, {SQL_Q4.format(f'0.0 + {terms}')} AS bm25
FROM tok, stats, dfs
"""


BM25_SQL = _bm25_sql()




def dup_spans(spark, sf_dir):
    """Duplicate-span detection: per-doc counts of 16-token windows shared
    with other documents (suffix-array substring dedup re-expressed as a
    rolling-hash window groupBy)."""
    from ..llmdata import DuplicateSpanDetector
    docs = load(spark, sf_dir, "documents")
    stats, _index = DuplicateSpanDetector(
        idCol="doc_id", textCol="text", spanTokens=_SPAN_K,
        minDocFreq=2).transform(docs)
    return stats.select(
        F.col("id").alias("doc_id"), "n_spans", "dup_spans",
        q4(F.col("dup_frac")).alias("dup_frac"))


def _dup_spans_sql() -> str:
    from ..llmdata.dedup import SPAN_MULT
    k = _SPAN_K
    tok_h = f"list_transform({TOKS}, s -> {TOKHASH.format(t='s')})"
    return f"""
WITH th AS (SELECT doc_id, {tok_h} AS h FROM documents),
spans AS (SELECT doc_id,
  CASE WHEN len(h) >= {k} THEN
    list_distinct(list_transform(range(1, len(h) - {k} + 2),
      i -> list_reduce(h[i:i+{k}-1],
                       (a, b) -> (a * {SPAN_MULT} + b) % {MINHASH_PRIME})))
  ELSE CAST([] AS BIGINT[]) END AS sp FROM th),
pairs AS (SELECT doc_id, unnest(sp) AS span_hash FROM spans),
hot AS (SELECT span_hash FROM pairs GROUP BY span_hash
        HAVING count(*) >= 2),
dup AS (SELECT doc_id, count(*) AS dup_spans FROM pairs
        WHERE span_hash IN (SELECT span_hash FROM hot) GROUP BY doc_id)
SELECT s.doc_id, CAST(len(sp) AS BIGINT) AS n_spans,
       CAST(coalesce(d.dup_spans, 0) AS BIGINT) AS dup_spans,
       {SQL_Q4.format(
           'CASE WHEN len(sp) > 0 THEN CAST(coalesce(d.dup_spans, 0) '
           'AS DOUBLE) / len(sp) ELSE 0.0 END')} AS dup_frac
FROM spans s LEFT JOIN dup d USING (doc_id)
"""


DUP_SPANS_SQL = _dup_spans_sql()


def dup_span_removal(spark, sf_dir):
    """Duplicate-span REMOVAL: cut passages shared across documents out
    of the text, keeping the min-id owner's copy verbatim (first-
    occurrence variant of Lee et al. 2022 substring dedup)."""
    from ..llmdata import DuplicateSpanRemover
    docs = load(spark, sf_dir, "documents")
    out = DuplicateSpanRemover(idCol="doc_id", textCol="text",
                               spanTokens=_SPAN_K, minDocFreq=2,
                               outputCol="clean_text").transform(docs)[0]
    return out.select("doc_id", "n_tokens_removed",
                      F.md5("clean_text").alias("clean_md5"))


def _dup_span_removal_sql() -> str:
    return f"""
WITH {_span_removal_ctes(_SPAN_K, 'documents')}
SELECT doc_id, CAST(len(ot) - len(kt) AS BIGINT) AS n_tokens_removed,
       -- array_to_string([]) is NULL in DuckDB but '' in Spark
       md5(coalesce(array_to_string(kt, ' '), '')) AS clean_md5
FROM kept
"""


DUP_SPAN_REMOVAL_SQL = _dup_span_removal_sql()


# -- data-quality profiling / constraint gating (Deequ-style, one pass) -----

def data_profile(spark, sf_dir):
    """Single-pass per-column corpus profile (the Deequ/Schelter-2018
    pattern): the ENTIRE per-column stat block — nulls, exact distincts,
    moments, extrema, string lengths — compiles into ONE df.agg, so the
    corpus is scanned exactly once with map-side partials and the
    per-column pivot is driver arithmetic on the single result row."""
    from ..llmdata import DataProfiler
    docs = load(spark, sf_dir, "documents")
    out = DataProfiler(columns=["doc_id", "text", "lang", "source",
                                "n_chars"],
                       exactDistinct=True).transform(docs)[0]
    neg9 = F.lit(-9.0)
    return out.select(
        "column", "n_rows", "n_null", "n_distinct",
        q4(F.coalesce(F.col("mean"), neg9)).alias("mean_q"),
        q4(F.coalesce(F.col("stddev"), neg9)).alias("std_q"),
        q4(F.coalesce(F.col("min_num"), neg9)).alias("min_q"),
        q4(F.coalesce(F.col("max_num"), neg9)).alias("max_q"),
        F.coalesce(F.col("min_len"), F.lit(-1)).alias("min_len"),
        F.coalesce(F.col("max_len"), F.lit(-1)).alias("max_len"),
        F.coalesce(F.col("n_empty"), F.lit(-1)).alias("n_empty"))


def constraint_suggest(spark, sf_dir):
    """ConstraintSuggester end-to-end (Deequ constraint suggestion):
    exact-distinct profile → suite derivation → in_set member fetch for
    small-cardinality columns.  Every suggested rule is replayed by the
    oracle from the same aggregates: bounds are data-derived doubles
    (q4), counts/members are exact."""
    from ..llmdata import ConstraintSuggester
    li = load(spark, sf_dir, "lineitem")
    out = ConstraintSuggester(
        columns=["l_quantity", "l_tax", "l_returnflag", "l_linestatus"],
        maxSetSize=32).transform(li)[0]
    neg9 = F.lit(-9.0)
    return out.select(
        "ctype", F.coalesce(F.col("col"), F.lit("-")).alias("col"),
        q4(F.coalesce(F.col("lo"), neg9)).alias("lo"),
        q4(F.coalesce(F.col("hi"), neg9)).alias("hi"),
        F.coalesce(F.col("members"), F.lit("-")).alias("members"))


def _constraint_suggest_sql() -> str:
    """Replay of ConstraintSuggester over lineitem, slack 0.1, cap 32:
    conditional UNION branches mirror the suggestion rules exactly —
    not_null when the column has no nulls, in_range for numerics,
    in_set when 1 ≤ exact distinct ≤ 32 and the column is not
    id-shaped, min_rows at trunc(0.9·n)."""
    branches = [
        "SELECT 'min_rows' AS ctype, '-' AS col, "
        "CAST(trunc(count(*) * (1.0 - 0.1)) AS BIGINT) * 10000 AS lo, "
        "-90000 AS hi, '-' AS members FROM lineitem HAVING count(*) > 0"]
    numerics = ["l_quantity", "l_tax"]
    for c in ["l_quantity", "l_tax", "l_returnflag", "l_linestatus"]:
        branches.append(
            f"SELECT 'not_null', '{c}', -90000, -90000, '-' "
            f"FROM lineitem HAVING count(*) - count({c}) = 0")
        if c in numerics:
            span = (f"(CAST(max({c}) AS DOUBLE) "
                    f"- CAST(min({c}) AS DOUBLE))")
            lo = f"CAST(min({c}) AS DOUBLE) - 0.1 * {span}"
            hi = f"CAST(max({c}) AS DOUBLE) + 0.1 * {span}"
            branches.append(
                f"SELECT 'in_range', '{c}', {SQL_Q4.format(lo)}, "
                f"{SQL_Q4.format(hi)}, '-' FROM lineitem "
                f"HAVING count({c}) > 0")
        branches.append(
            f"SELECT 'in_set', '{c}', -90000, -90000, "
            f"(SELECT string_agg(v, ',' ORDER BY v) FROM "
            f"(SELECT DISTINCT CAST({c} AS VARCHAR) AS v FROM lineitem "
            f"WHERE {c} IS NOT NULL)) FROM lineitem "
            f"HAVING count(DISTINCT CAST({c} AS VARCHAR)) BETWEEN 1 AND 32 "
            f"AND NOT (count(DISTINCT CAST({c} AS VARCHAR)) = count(*) "
            f"AND count({c}) = count(*))")
    return "\nUNION ALL\n".join(branches)


CONSTRAINT_SUGGEST_SQL = _constraint_suggest_sql()


def _profile_col_sql(c: str, numeric: bool, stringy: bool) -> str:
    mean = f"AVG(CAST({c} AS DOUBLE))" if numeric else "-9"
    std = f"COALESCE(STDDEV(CAST({c} AS DOUBLE)), -9)" if numeric else "-9"
    mn = f"CAST(MIN({c}) AS DOUBLE)" if numeric else "-9"
    mx = f"CAST(MAX({c}) AS DOUBLE)" if numeric else "-9"
    minl = f"MIN(LENGTH({c}))" if stringy else "-1"
    maxl = f"MAX(LENGTH({c}))" if stringy else "-1"
    emp = f"COUNT(CASE WHEN {c} = '' THEN 1 END)" if stringy else "-1"
    return f"""
SELECT '{c}' AS column, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_null,
       COUNT(DISTINCT CAST({c} AS VARCHAR)) AS n_distinct,
       {SQL_Q4.format(mean)} AS mean_q, {SQL_Q4.format(std)} AS std_q,
       {SQL_Q4.format(mn)} AS min_q, {SQL_Q4.format(mx)} AS max_q,
       CAST({minl} AS BIGINT) AS min_len, CAST({maxl} AS BIGINT) AS max_len,
       CAST({emp} AS BIGINT) AS n_empty
FROM documents"""


DATA_PROFILE_SQL = "\nUNION ALL\n".join(
    _profile_col_sql(c, num, st) for c, num, st in [
        ("doc_id", True, False), ("text", False, True),
        ("lang", False, True), ("source", False, True),
        ("n_chars", True, False)])


_GATE_SUITE = [
    {"type": "min_rows", "value": 1000},
    {"type": "not_null", "col": "o_custkey"},
    {"type": "unique", "col": "o_orderkey"},
    {"type": "max_null_frac", "col": "o_custkey", "frac": 0.01},
    {"type": "in_range", "col": "o_totalprice", "min": 0, "max": 400000},
    {"type": "in_set", "col": "o_orderstatus", "allowed": ["O", "F"]},
    {"type": "matches_regex", "col": "o_orderpriority",
     "pattern": "^[1-3]-", "min_frac": 0.5},
    {"type": "min_distinct", "col": "o_custkey", "value": 1000},
]


def constraint_gate(spark, sf_dir):
    """Declarative batch-quality gate over the orders feed: the whole
    8-rule suite lowers to ONE aggregation pass (only the exact
    uniqueness/distinct rules add count-distincts); the report carries
    the observed scalar per rule so a failing gate is actionable.  The
    suite intentionally includes failing rules (totalprice range,
    status set) — a gate demo that always passes demonstrates
    nothing."""
    from ..llmdata import ConstraintGate
    orders = load(spark, sf_dir, "orders")
    gate = ConstraintGate(constraints=_GATE_SUITE, failOnViolation=False)
    out = gate.transform(orders)[0]
    return out.select(
        "constraint", F.coalesce(F.col("column"), F.lit("")).alias("col"),
        q4(F.col("observed")).alias("observed"),
        q4(F.col("threshold")).alias("threshold"),
        F.col("passed").cast("int").alias("passed"))


CONSTRAINT_GATE_SQL = f"""
WITH s AS (
  SELECT COUNT(*) AS n,
         COUNT(o_custkey) AS nn_ck,
         COUNT(DISTINCT o_custkey) AS nd_ck,
         COUNT(o_orderkey) AS nn_ok,
         COUNT(DISTINCT o_orderkey) AS nd_ok,
         COUNT(CASE WHEN o_totalprice BETWEEN 0 AND 400000 THEN 1 END)
           AS ok_price, COUNT(o_totalprice) AS nn_price,
         COUNT(CASE WHEN o_orderstatus IN ('O', 'F') THEN 1 END) AS ok_st,
         COUNT(o_orderstatus) AS nn_st,
         COUNT(CASE WHEN regexp_matches(o_orderpriority, '^[1-3]-')
               THEN 1 END) AS ok_pr, COUNT(o_orderpriority) AS nn_pr
  FROM orders)
SELECT 'min_rows' AS constraint, '' AS col,
       {SQL_Q4.format('n')} AS observed, {SQL_Q4.format('1000')} AS threshold,
       CAST(n >= 1000 AS INT) AS passed FROM s
UNION ALL SELECT 'not_null', 'o_custkey', {SQL_Q4.format('n - nn_ck')},
       0, CAST(n - nn_ck = 0 AS INT) FROM s
UNION ALL SELECT 'unique', 'o_orderkey', {SQL_Q4.format('nn_ok - nd_ok')},
       0, CAST(nn_ok - nd_ok = 0 AS INT) FROM s
UNION ALL SELECT 'max_null_frac', 'o_custkey',
       {SQL_Q4.format('(n - nn_ck) * 1.0 / n')}, {SQL_Q4.format('0.01')},
       CAST((n - nn_ck) * 1.0 / n <= 0.01 AS INT) FROM s
UNION ALL SELECT 'in_range', 'o_totalprice',
       {SQL_Q4.format('ok_price * 1.0 / nn_price')}, {SQL_Q4.format('1.0')},
       CAST(ok_price = nn_price AS INT) FROM s
UNION ALL SELECT 'in_set', 'o_orderstatus',
       {SQL_Q4.format('ok_st * 1.0 / nn_st')}, {SQL_Q4.format('1.0')},
       CAST(ok_st = nn_st AS INT) FROM s
UNION ALL SELECT 'matches_regex', 'o_orderpriority',
       {SQL_Q4.format('ok_pr * 1.0 / nn_pr')}, {SQL_Q4.format('0.5')},
       CAST(ok_pr * 1.0 / nn_pr >= 0.5 AS INT) FROM s
UNION ALL SELECT 'min_distinct', 'o_custkey', {SQL_Q4.format('nd_ck')},
       {SQL_Q4.format('1000')}, CAST(nd_ck >= 1000 AS INT) FROM s
"""


def bm25_indexed(spark, sf_dir):
    """The same retrieval as bm25_retrieval, through the fit-once index
    path: Bm25Index.fit builds the postings relation once,
    Bm25IndexModel.transform serves the query batch against it — the
    production shape (pay corpus tokenization once, query many).  Same
    oracle as bm25_retrieval: the two paths must be indistinguishable."""
    from ..llmdata import Bm25Index
    from ..llmdata.textanalysis import _tokens
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(F.coalesce(F.col("text"), F.lit("")))
    qs = (docs.filter(F.col("doc_id") % 100 == 7)
          .select(F.col("doc_id").alias("query_id"),
                  F.concat_ws(" ", F.slice(toks, 1, 5))
                  .alias("query_text")))
    model = Bm25Index().fit(docs)
    model.set_(k=5, scoreRounding=6)
    out = model.transform(qs)[0]
    return out.select("query_id", "doc_id",
                      q4(F.col("score")).alias("score"), "rank")


def retrieval_eval(spark, sf_dir):
    """Retrieval quality measurement: the bm25_retrieval run scored
    with RankingEvaluator against a graded truth (same-source docs are
    relevant, grade 2 when the language also matches) — recall@5,
    precision@5, MRR, nDCG@5 per query, the ann_recall/dedup_recall
    pattern applied to sparse retrieval.  All relational: two joins +
    two aggregations over query-result-sized relations."""
    from ..evaluation import RankingEvaluator
    from ..llmdata import Bm25Retriever
    from ..llmdata.textanalysis import _tokens
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(F.coalesce(F.col("text"), F.lit("")))
    qs = (docs.filter(F.col("doc_id") % 100 == 7)
          .select(F.col("doc_id").alias("query_id"),
                  F.concat_ws(" ", F.slice(toks, 1, 5))
                  .alias("query_text")))
    preds = Bm25Retriever(k=5, scoreRounding=6).transform(docs, qs)[0]
    seeds = (docs.filter(F.col("doc_id") % 100 == 7)
             .select(F.col("doc_id").alias("query_id"),
                     F.col("source").alias("__s__"),
                     F.col("lang").alias("__l__")))
    truth = (seeds.join(docs.select("doc_id", "source", "lang"),
                        F.col("__s__") == F.col("source"))
             .select("query_id", "doc_id",
                     F.when(F.col("lang") == F.col("__l__"), 2.0)
                     .otherwise(1.0).alias("relevance")))
    out = RankingEvaluator(k=5).transform(preds, truth)[0]
    return out.select("query_id", "n_relevant", "hits",
                      q4(F.col("recall")).alias("recall"),
                      q4(F.col("precision")).alias("precision"),
                      q4(F.col("mrr")).alias("mrr"),
                      q4(F.col("ndcg")).alias("ndcg"))


RETRIEVAL_EVAL_SQL = f"""
WITH corpus AS (SELECT doc_id, text, lang, source, {TOKS} AS toks
                FROM documents),
stats AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM corpus),
ex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM corpus),
postings AS (SELECT tok, doc_id, dl, COUNT(*) AS tf
             FROM ex GROUP BY tok, doc_id, dl),
dfrel AS (SELECT tok, COUNT(*) AS df FROM postings GROUP BY tok),
qterms AS (SELECT DISTINCT doc_id AS query_id, unnest(toks[1:5]) AS tok
           FROM corpus WHERE doc_id % 100 = 7),
scored AS (
  SELECT q.query_id, p.doc_id,
         ROUND(SUM(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * p.tf * 2.2
                   / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))), 6)
           AS score
  FROM postings p
  JOIN dfrel d ON p.tok = d.tok
  JOIN qterms q ON p.tok = q.tok
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id),
ranked AS (SELECT query_id, doc_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS rank
           FROM scored),
preds AS (SELECT * FROM ranked WHERE rank <= 5),
seeds AS (SELECT doc_id AS query_id, source, lang FROM corpus
          WHERE doc_id % 100 = 7),
truth AS (SELECT s.query_id, d.doc_id,
                 CASE WHEN d.lang = s.lang THEN 2.0 ELSE 1.0 END AS rel
          FROM seeds s JOIN corpus d ON d.source = s.source),
perq AS (
  SELECT p.query_id,
         SUM(CASE WHEN t.rel IS NOT NULL
             THEN t.rel / (ln(p.rank + 1.0) / ln(2.0)) ELSE 0 END) AS dcg,
         COUNT(t.rel) AS hits,
         MIN(CASE WHEN t.rel IS NOT NULL THEN p.rank END) AS first_rel
  FROM preds p LEFT JOIN truth t
    ON p.query_id = t.query_id AND p.doc_id = t.doc_id
  GROUP BY p.query_id),
ideal AS (SELECT query_id, rel,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY rel DESC, doc_id) AS irn
          FROM truth),
idcg AS (SELECT query_id,
                SUM(rel / (ln(irn + 1.0) / ln(2.0))) AS idcg
         FROM ideal WHERE irn <= 5 GROUP BY query_id),
nrel AS (SELECT query_id, COUNT(*) AS n_relevant FROM truth
         GROUP BY query_id)
SELECT q.query_id, COALESCE(n.n_relevant, 0) AS n_relevant, q.hits,
       {SQL_Q4.format('CASE WHEN COALESCE(n.n_relevant, 0) > 0 '
                      'THEN q.hits * 1.0 / n.n_relevant ELSE 0 END')}
         AS recall,
       {SQL_Q4.format('q.hits / 5.0')} AS precision,
       {SQL_Q4.format('COALESCE(1.0 / q.first_rel, 0)')} AS mrr,
       {SQL_Q4.format('CASE WHEN COALESCE(i.idcg, 0) > 0 '
                      'THEN q.dcg / i.idcg ELSE 0 END')} AS ndcg
FROM perq q
LEFT JOIN nrel n ON q.query_id = n.query_id
LEFT JOIN idcg i ON q.query_id = i.query_id
"""


def profile_by_source(spark, sf_dir):
    """Segmented profile: the same single-pass profiler grouped by
    source — one groupBy(source) aggregation (map-side partials), one
    stat row per (source, column); driver state = groups × columns."""
    from ..llmdata import DataProfiler
    docs = load(spark, sf_dir, "documents")
    out = DataProfiler(columns=["n_chars"], exactDistinct=True,
                       groupByCol="source").transform(docs)[0]
    return out.select(F.col("group").alias("source"),
                      "n_rows", "n_null", "n_distinct",
                      q4(F.col("mean")).alias("mean_q"),
                      q4(F.col("stddev")).alias("std_q"),
                      q4(F.col("min_num")).alias("min_q"),
                      q4(F.col("max_num")).alias("max_q"))


PROFILE_BY_SOURCE_SQL = f"""
SELECT source, COUNT(*) AS n_rows,
       COUNT(*) - COUNT(n_chars) AS n_null,
       COUNT(DISTINCT CAST(n_chars AS VARCHAR)) AS n_distinct,
       {SQL_Q4.format('AVG(CAST(n_chars AS DOUBLE))')} AS mean_q,
       {SQL_Q4.format('STDDEV(CAST(n_chars AS DOUBLE))')} AS std_q,
       {SQL_Q4.format('CAST(MIN(n_chars) AS DOUBLE)')} AS min_q,
       {SQL_Q4.format('CAST(MAX(n_chars) AS DOUBLE)')} AS max_q
FROM documents GROUP BY source
"""


def llm_prep_pipeline_v8(spark, sf_dir):
    """Corpus-prep v8 — the GATED + RETRIEVAL-TARGETED recipe: the
    batch must pass a declarative quality gate before any curation
    touches it (circuit breaker), then the corpus is narrowed to the
    lexical neighborhoods of trusted seed queries (BM25 top-k per
    query — DSIR's idea with an inverted index instead of hashed
    n-gram importance), exact-deduplicated (min-id keeps its copy),
    and accounted per lang × source.  Every stage is one-pass /
    broadcast-joined; the oracle replays the entire recipe."""
    from ..llmdata import Bm25Retriever, ConstraintGate
    from ..llmdata.textanalysis import _tokens
    docs = load(spark, sf_dir, "documents")
    ok, _ = ConstraintGate(constraints=[
        {"type": "min_rows", "value": 100},
        {"type": "not_null", "col": "text"},
        {"type": "unique", "col": "doc_id"},
    ]).check(docs)
    assert ok  # failOnViolation raises with the violated rules anyway
    toks = _tokens(F.coalesce(F.col("text"), F.lit("")))
    seeds = (docs.filter((F.col("doc_id") % 100 == 7)
                         & (F.col("lang") == "en"))
             .select(F.col("doc_id").alias("query_id"),
                     F.concat_ws(" ", F.slice(toks, 1, 5))
                     .alias("query_text")))
    hits = Bm25Retriever(k=100, scoreRounding=6).transform(docs, seeds)[0]
    targeted = docs.join(hits.select("doc_id").distinct(), "doc_id",
                         "left_semi")
    # exact dedup: min doc_id per text digest keeps its copy (digest =
    # 32-byte shuffle key instead of the text; the window's groups are
    # clone clusters — tiny by construction)
    from pyspark.sql.window import Window
    keep = (targeted
            .withColumn("dig", F.sha2(F.col("text"), 256))
            .withColumn("keep_id",
                        F.min("doc_id").over(Window.partitionBy("dig")))
            .filter(F.col("doc_id") == F.col("keep_id")))
    return (keep.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.size(toks)).cast("bigint").alias("n_tokens"))
            )


def _llm_prep_v8_sql() -> str:
    return f"""
WITH corpus AS (SELECT doc_id, text, lang, source, {TOKS} AS toks
                FROM documents),
stats AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM corpus),
ex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM corpus),
postings AS (SELECT tok, doc_id, dl, COUNT(*) AS tf
             FROM ex GROUP BY tok, doc_id, dl),
dfrel AS (SELECT tok, COUNT(*) AS df FROM postings GROUP BY tok),
qterms AS (SELECT DISTINCT doc_id AS query_id, unnest(toks[1:5]) AS tok
           FROM corpus WHERE doc_id % 100 = 7 AND lang = 'en'),
scored AS (
  SELECT q.query_id, p.doc_id,
         ROUND(SUM(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * p.tf * 2.2
                   / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))), 6)
           AS score
  FROM postings p
  JOIN dfrel d ON p.tok = d.tok
  JOIN qterms q ON p.tok = q.tok
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id),
ranked AS (SELECT query_id, doc_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS rank
           FROM scored),
targeted AS (SELECT DISTINCT c.* FROM corpus c
             JOIN ranked r ON c.doc_id = r.doc_id AND r.rank <= 100),
kept AS (SELECT * FROM (
           -- partitioning by the text itself groups identically to the
           -- digest (the digest only narrows the Spark shuffle key)
           SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS keep_id
           FROM targeted)
         WHERE doc_id = keep_id)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
FROM kept GROUP BY lang, source
"""


LLM_PREP_V8_SQL = _llm_prep_v8_sql()


def bm25_retrieval(spark, sf_dir):
    """Sparse top-k retrieval JOIN (query table × corpus through an
    inverted index — the BM25 counterpart of the ANN join family):
    queries are the first-5-token prefixes of every doc_id % 100 == 7
    document; each retrieves its 5 best documents by Okapi BM25.  Plan:
    one stats agg + one postings groupBy + broadcast query-term join +
    one score groupBy + exact per-query top-k; scoreRounding=6 snaps
    cross-partition sum-order ulps so ranking ties are true ties broken
    by doc_id in both engines."""
    from ..llmdata import Bm25Retriever
    from ..llmdata.textanalysis import _tokens
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(F.coalesce(F.col("text"), F.lit("")))
    qs = (docs.filter(F.col("doc_id") % 100 == 7)
          .select(F.col("doc_id").alias("query_id"),
                  F.concat_ws(" ", F.slice(toks, 1, 5))
                  .alias("query_text")))
    out = Bm25Retriever(k=5, scoreRounding=6).transform(docs, qs)[0]
    return out.select("query_id", "doc_id",
                      q4(F.col("score")).alias("score"), "rank")


BM25_RETRIEVAL_SQL = f"""
WITH corpus AS (SELECT doc_id, {TOKS} AS toks FROM documents),
stats AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM corpus),
ex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM corpus),
postings AS (SELECT tok, doc_id, dl, COUNT(*) AS tf
             FROM ex GROUP BY tok, doc_id, dl),
dfrel AS (SELECT tok, COUNT(*) AS df FROM postings GROUP BY tok),
qterms AS (SELECT DISTINCT doc_id AS query_id, unnest(toks[1:5]) AS tok
           FROM corpus WHERE doc_id % 100 = 7),
scored AS (
  SELECT q.query_id, p.doc_id,
         ROUND(SUM(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * p.tf * 2.2
                   / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))), 6)
           AS score
  FROM postings p
  JOIN dfrel d ON p.tok = d.tok
  JOIN qterms q ON p.tok = q.tok
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS rank
           FROM scored)
SELECT query_id, doc_id, {SQL_Q4.format('score')} AS score,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def hybrid_retrieval(spark, sf_dir):
    """Hybrid search (the RAG retrieval pattern): a BM25 lexical run and
    an embedding-ANN run over the same queries (ids % 100 == 7 give both
    a text prefix and a query vector), fused per query with reciprocal-
    rank fusion.  The ANN side is the IVF probe — the scale path, no
    brute-force join — and fusion inputs are query-result-sized, so
    corpus size only touches the two retrievers, each already
    scale-shaped."""
    from ..evaluation import ReciprocalRankFusion
    from ..llmdata import Bm25Retriever, IVFIndex
    from ..llmdata.textanalysis import _tokens
    docs, emb = load(spark, sf_dir, "documents", "embeddings")
    toks = _tokens(F.coalesce(F.col("text"), F.lit("")))
    qs_text = (docs.filter(F.col("doc_id") % 100 == 7)
               .select(F.col("doc_id").alias("query_id"),
                       F.concat_ws(" ", F.slice(toks, 1, 5))
                       .alias("query_text")))
    bm = Bm25Retriever(k=5, scoreRounding=6).transform(docs, qs_text)[0]
    idx = IVFIndex(vecCol="embedding", nlist=8, maxIter=3).fit(emb)
    corpus = idx.transform(emb.select(F.col("vec_id").alias("corpus_id"),
                                      "embedding"))[0]
    qs_vec = (emb.filter(F.col("vec_id") % 100 == 7)
              .select(F.col("vec_id").alias("query_id"), "embedding"))
    ann = (idx.search(qs_vec, corpus, "query_id", "corpus_id", k=5)
           .select("query_id", F.col("corpus_id").alias("doc_id"), "rank"))
    fused = ReciprocalRankFusion(k=5).transform(
        bm.select("query_id", "doc_id", "rank"), ann)[0]
    return fused.select("query_id", "doc_id",
                        q4(F.col("rrf")).alias("rrf"), "rank")


def _hybrid_retrieval_sql(nlist: int = 8, iters: int = 3, dim: int = 64,
                          nprobe: int = 2, k: int = 5) -> str:
    """BM25 chain + the shared IVF replay (_ivf_cells_parts) + RRF."""
    parts, d2 = _ivf_cells_parts(nlist, iters, dim)
    nrm = ("sqrt(list_aggregate(list_transform(range(1, {d}), "
           "i -> {x}.v[i] * {x}.v[i]), 'sum'))")
    dot = (f"list_aggregate(list_transform(range(1, {dim + 1}), "
           f"i -> q.v[i] * t.v[i]), 'sum')")
    parts.append(
        f"probes AS MATERIALIZED (SELECT vec_id AS query_id, p.v, cid AS "
        f"cell FROM (SELECT p.vec_id, p.v, c.cid, row_number() OVER ("
        f"PARTITION BY p.vec_id ORDER BY {d2}, c.cid) AS rn "
        f"FROM pts p CROSS JOIN c{iters} c WHERE p.vec_id % 100 = 7) p "
        f"WHERE rn <= {nprobe})")
    parts.append(
        "ascored AS (SELECT q.query_id, t.corpus_id AS doc_id, "
        + dot + " / (" + nrm.format(d=dim + 1, x="q") + " * "
        + nrm.format(d=dim + 1, x="t")
        + ") AS cosine FROM probes q JOIN cells t ON q.cell = t.cell)")
    parts.append(
        "aranked AS (SELECT query_id, doc_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rank "
        "FROM ascored)")
    parts.append(f"bcorpus AS (SELECT doc_id, {TOKS} AS toks FROM documents)")
    parts.append("bstats AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl "
                 "FROM bcorpus)")
    parts.append("bex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS "
                 "tok FROM bcorpus)")
    parts.append("bpostings AS (SELECT tok, doc_id, dl, COUNT(*) AS tf "
                 "FROM bex GROUP BY tok, doc_id, dl)")
    parts.append("bdf AS (SELECT tok, COUNT(*) AS df FROM bpostings "
                 "GROUP BY tok)")
    parts.append("bqterms AS (SELECT DISTINCT doc_id AS query_id, "
                 "unnest(toks[1:5]) AS tok FROM bcorpus "
                 "WHERE doc_id % 100 = 7)")
    parts.append("""bscored AS (
  SELECT q.query_id, p.doc_id,
         ROUND(SUM(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * p.tf * 2.2
                   / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))), 6)
           AS score
  FROM bpostings p
  JOIN bdf d ON p.tok = d.tok
  JOIN bqterms q ON p.tok = q.tok
  CROSS JOIN bstats s
  GROUP BY q.query_id, p.doc_id)""")
    parts.append("branked AS (SELECT query_id, doc_id, row_number() OVER ("
                 "PARTITION BY query_id ORDER BY score DESC, doc_id) AS "
                 "rank FROM bscored)")
    parts.append(f"u AS (SELECT query_id, doc_id, rank FROM branked "
                 f"WHERE rank <= {k} UNION ALL SELECT query_id, doc_id, "
                 f"rank FROM aranked WHERE rank <= {k})")
    parts.append("fused AS (SELECT query_id, doc_id, "
                 "ROUND(SUM(1.0 / (60 + rank)), 9) AS rrf "
                 "FROM u GROUP BY query_id, doc_id)")
    parts.append("franked AS (SELECT query_id, doc_id, rrf, row_number() "
                 "OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) "
                 "AS rank FROM fused)")
    return (", ".join(parts)
            + f" SELECT query_id, doc_id, {SQL_Q4.format('rrf')} AS rrf, "
              f"CAST(rank AS INT) AS rank FROM franked WHERE rank <= {k}")


HYBRID_RETRIEVAL_SQL = _hybrid_retrieval_sql()


def profile_quantiles(spark, sf_dir):
    """Quantile block of the column profile: linear-interpolated
    (PERCENTILE_CONT) p25/p50/p75/p95 per numeric column, still inside
    the profiler's ONE aggregation pass.  exactQuantiles=True here so
    the DuckDB quantile_cont oracle matches bit-for-bit; the default
    mode is the mergeable approx_percentile sketch (the 100 TB path —
    exact percentile buffers the column)."""
    from ..llmdata import DataProfiler
    docs = load(spark, sf_dir, "documents")
    out = DataProfiler(columns=["doc_id", "n_chars"],
                       quantiles=[0.25, 0.5, 0.75, 0.95],
                       exactQuantiles=True).transform(docs)[0]
    q = F.col("quantiles")
    return out.select("column",
                      q4(q[0]).alias("q25"), q4(q[1]).alias("q50"),
                      q4(q[2]).alias("q75"), q4(q[3]).alias("q95"))


PROFILE_QUANTILES_SQL = "\nUNION ALL\n".join(f"""
SELECT '{c}' AS column,
       {SQL_Q4.format(f'quantile_cont({c}, 0.25)')} AS q25,
       {SQL_Q4.format(f'quantile_cont({c}, 0.5)')} AS q50,
       {SQL_Q4.format(f'quantile_cont({c}, 0.75)')} AS q75,
       {SQL_Q4.format(f'quantile_cont({c}, 0.95)')} AS q95
FROM documents""" for c in ["doc_id", "n_chars"])


def frequent_items(spark, sf_dir):
    """EXACT token heavy hitters via the two-pass Misra-Gries scheme:
    pass 1 is a zero-shuffle mergeable sketch (capacity counters per
    partition, KBs to the driver), pass 2 exact-counts ONLY candidate
    rows — at 100 TB this replaces a full-vocabulary aggregation state
    with one codegen isin filter plus a candidate-sized shuffle.  The
    run's exactness guarantee (k-th count > n/(capacity+1)) is asserted
    by the guaranteed flag, which the oracle pins to true."""
    from ..llmdata.profiler import FrequentItemsProfiler
    from ..llmdata.textanalysis import _tokens
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(_tokens(F.coalesce(F.col("text"), F.lit("")))
                       .alias("toks"))
    out = FrequentItemsProfiler(itemsCol="toks", k=20,
                                capacity=2048).transform(toks)[0]
    return out.select(F.col("item"), F.col("freq"),
                      F.col("guaranteed").cast("int").alias("guaranteed"))


FREQUENT_ITEMS_SQL = f"""
WITH t AS (SELECT unnest({TOKS}) AS item FROM documents)
SELECT item, COUNT(*) AS freq, 1 AS guaranteed
FROM t GROUP BY item ORDER BY freq DESC, item LIMIT 20
"""


def profile_drift(spark, sf_dir):
    """Schema/profile drift between two corpus snapshots — the
    structural counterpart to token_drift (content) and embedding_drift
    (geometry): per column, how null rates, cardinality, and the
    numeric mean moved.  Two single-pass profiles (one per snapshot)
    joined on column name; output rows = column count."""
    from ..llmdata import DataProfiler
    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 != 1)
    prof = DataProfiler(columns=["doc_id", "lang", "source", "n_chars"],
                        exactDistinct=True)
    po = prof.transform(old)[0].alias("o")
    pn = prof.transform(new)[0].alias("n")
    j = po.join(pn, "column")
    neg9 = F.lit(-9.0)
    return j.select(
        "column",
        F.col("o.n_distinct").alias("d_old"),
        F.col("n.n_distinct").alias("d_new"),
        q4((F.col("n.n_null") / F.col("n.n_rows"))
           - (F.col("o.n_null") / F.col("o.n_rows"))).alias("null_frac_d"),
        q4(F.coalesce(F.col("n.mean") - F.col("o.mean"), neg9))
         .alias("mean_shift"))


def _profile_drift_side_sql(tag: str, pred: str) -> str:
    rows = []
    for c, numeric in [("doc_id", True), ("lang", False),
                       ("source", False), ("n_chars", True)]:
        mean = f"AVG(CAST({c} AS DOUBLE))" if numeric else "NULL"
        rows.append(f"""
SELECT '{c}' AS column, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_null,
       COUNT(DISTINCT CAST({c} AS VARCHAR)) AS n_distinct,
       {mean} AS mean
FROM documents WHERE {pred}""")
    return f"{tag} AS (" + "\nUNION ALL\n".join(rows) + ")"


PROFILE_DRIFT_SQL = f"""
WITH {_profile_drift_side_sql('o', 'doc_id % 3 <> 0')},
{_profile_drift_side_sql('n', 'doc_id % 3 <> 1')}
SELECT o.column AS column, o.n_distinct AS d_old, n.n_distinct AS d_new,
       {SQL_Q4.format('n.n_null * 1.0 / n.n_rows - o.n_null * 1.0 / o.n_rows')}
         AS null_frac_d,
       {SQL_Q4.format('COALESCE(n.mean - o.mean, -9)')} AS mean_shift
FROM o JOIN n ON o.column = n.column
"""


# web-extraction family (webextract.py) ------------------------------------
#
# documents.text is plain single-line prose, so each query derives the
# web-shaped input (HTML wrapper / multi-line page / URL) deterministically
# from the given columns, then runs the operator; the oracles replay the
# identical Java∩RE2 regex chains (html/c4) or independently re-derive the
# expected output algebraically from the same columns (url) — the stronger
# oracle where the input construction makes it possible.

_HTML_PRE = ("<html><head><title>t</title><style>body{color:red}</style>"
             "</head><body class='x'><p>")
_HTML_POST = ("</p><script type='text/javascript'>var a='<b>no</b>';"
              "</script><div>Tom &amp; Jo &lt;3</div><!-- c --></body></html>")


def html_extract(spark, sf_dir):
    """HtmlTextExtractor over an HTML-wrapped documents.text: head/script/
    style/comment blocks vanish, block tags become line breaks, entities
    decode — verified via md5 of the full extracted text."""
    from ..llmdata import HtmlTextExtractor
    docs = load(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id",
        F.concat(F.lit(_HTML_PRE), "text", F.lit(_HTML_POST)).alias("raw"))
    out = HtmlTextExtractor(inputCol="raw", outputCol="clean") \
        .transform(wrapped)[0]
    return out.select("doc_id",
                      F.length("clean").alias("clean_len"),
                      F.size(F.split("clean", r"\n")).alias("n_lines"),
                      F.md5(F.col("clean")).alias("clean_md5"))


HTML_EXTRACT_SQL = f"""
WITH w AS (SELECT doc_id,
                  '{_HTML_PRE.replace("'", "''")}' || text ||
                  '{_HTML_POST.replace("'", "''")}' AS raw
           FROM documents),
c AS (SELECT doc_id,
  trim(regexp_replace(regexp_replace(regexp_replace(
    replace(replace(replace(replace(replace(replace(replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(raw,
          '(?is)<script[^>]*>.*?</script\\s*>', ' ', 'g'),
          '(?is)<style[^>]*>.*?</style\\s*>', ' ', 'g'),
          '(?is)<head(\\s[^>]*)?>.*?</head\\s*>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g'),
          '(?i)<(br|/p|/div|/li|/h1|/h2|/h3|/h4|/h5|/h6|/tr|/table)[^>]*>',
          chr(10), 'g'),
          '<[^>]+>', ' ', 'g'),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&'),
    '[ \\t\\x0B\\f\\r]+', ' ', 'g'),
    ' ?\\n ?', chr(10), 'g'),
    '\\n+', chr(10), 'g')) AS clean
  FROM w)
SELECT doc_id, CAST(length(clean) AS INT) AS clean_len,
       CAST(len(string_split(clean, chr(10))) AS INT) AS n_lines,
       md5(clean) AS clean_md5
FROM c
"""


def c4_line_filter(spark, sf_dir):
    """C4LineFilter over a derived multi-line page: the doc text (kept),
    a too-short line (dropped: < minWordsPerLine), a blocked 'cookie
    policy' banner (dropped), and the doc's first 80 chars (kept when it
    still holds ≥5 words)."""
    from ..llmdata import C4LineFilter
    docs = load(spark, sf_dir, "documents")
    page = docs.select(
        "doc_id",
        F.concat_ws("\n", F.col("text"), F.lit("tiny line"),
                    F.lit("our cookie policy banner text line"),
                    F.substring("text", 1, 80)).alias("page"))
    out = C4LineFilter(inputCol="page", outputCol="clean",
                       minWordsPerLine=5, requireTerminalPunct=False) \
        .transform(page)[0]
    return out.select("doc_id",
                      F.col("clean_n_lines").cast("int").alias("n_kept"),
                      F.length("clean").alias("clean_len"),
                      F.md5(F.col("clean")).alias("clean_md5"))


C4_LINE_FILTER_SQL = """
WITH page AS (SELECT doc_id,
                     text || chr(10) || 'tiny line' || chr(10) ||
                     'our cookie policy banner text line' || chr(10) ||
                     substr(text, 1, 80) AS page
              FROM documents),
k AS (SELECT doc_id,
             list_filter(string_split(page, chr(10)), l ->
               len(list_filter(string_split_regex(trim(l), '[ \\t]+'),
                               w -> w <> '')) >= 5
               AND NOT contains(lower(l), 'javascript')
               AND NOT contains(lower(l), 'lorem ipsum')
               AND NOT contains(lower(l), 'cookie policy')) AS kept
      FROM page)
SELECT doc_id, CAST(len(kept) AS INT) AS n_kept,
       CAST(length(array_to_string(kept, chr(10))) AS INT) AS clean_len,
       md5(array_to_string(kept, chr(10))) AS clean_md5
FROM k
"""


def url_normalize(spark, sf_dir):
    """UrlNormalizer over a derived messy URL (upper-case authority,
    default port, userinfo, utm/fbclid params, fragment; ccTLD for every
    third doc).  The oracle re-derives the expected outputs ALGEBRAICALLY
    from the same columns — an independent check of the whole normalize/
    host/registered-domain chain, not a regex replay."""
    from ..llmdata import UrlNormalizer
    docs = load(spark, sf_dir, "documents")
    tld = F.when(F.col("doc_id") % 3 == 0, "co.uk").otherwise("com")
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("HTTPS://u:pw@WWW."), "source", F.lit(".Example."),
                 tld, F.lit(":443/Docs/"), F.col("doc_id").cast("string"),
                 F.lit("?utm_source=nl&ref="), "lang",
                 F.lit("&fbclid=abc#frag")).alias("url"))
    out = UrlNormalizer(inputCol="url").transform(urls)[0]
    return out.select("doc_id", "url_norm", "url_host", "url_domain")


URL_NORMALIZE_SQL = """
SELECT doc_id,
       'https://www.' || source || '.example.' ||
       CASE WHEN doc_id % 3 = 0 THEN 'co.uk' ELSE 'com' END ||
       '/Docs/' || doc_id || '?ref=' || lang AS url_norm,
       'www.' || source || '.example.' ||
       CASE WHEN doc_id % 3 = 0 THEN 'co.uk' ELSE 'com' END AS url_host,
       'example.' ||
       CASE WHEN doc_id % 3 = 0 THEN 'co.uk' ELSE 'com' END AS url_domain
FROM documents
"""


def word_blocklist(spark, sf_dir):
    """WordBlocklistFilter (C4 bad-words gate, flag mode) on documents:
    token-exact hit counts against a small blocklist + the keep verdict."""
    from ..llmdata import WordBlocklistFilter
    docs = load(spark, sf_dir, "documents")
    out = WordBlocklistFilter(inputCol="text", outputCol="hits",
                              blocklist=["spark", "join", "cookie"],
                              maxHits=2).transform(docs)[0]
    return out.select("doc_id", F.col("hits").cast("int").alias("hits"),
                      F.col("hits_keep").cast("int").alias("keep"))


WORD_BLOCKLIST_SQL = """
WITH t AS (SELECT doc_id,
                  len(list_filter(
                    list_filter(string_split_regex(lower(text),
                                 '[ \\t\\n\\x0b\\f\\r]'), x -> x <> ''),
                    x -> x IN ('spark', 'join', 'cookie'))) AS hits
           FROM documents)
SELECT doc_id, CAST(hits AS INT) AS hits,
       CASE WHEN hits <= 2 THEN 1 ELSE 0 END AS keep
FROM t
"""


def _isotonic_minimax_ctes(src: str) -> str:
    """CTE chain computing the isotonic fit of relation ``src`` (must
    expose x, y): ends in ``isofit(x, yhat)`` via the closed-form
    ŷ_k = max_{i≤k} min_{j≥k} weightedAvg(i..j) identity (shared by
    isotonic_calibration and the v10 recipe)."""
    return f"""
isog AS (SELECT x, sum(y) AS swy, count(*) AS sw FROM {src} GROUP BY x),
isoo AS (SELECT x, swy, sw, row_number() OVER (ORDER BY x) AS k FROM isog),
isoc AS (SELECT k, x, sum(swy) OVER (ORDER BY k) AS cy,
                sum(sw) OVER (ORDER BY k) AS cw FROM isoo),
isopairs AS (SELECT i.k AS i, j.k AS j,
                    (j.cy - COALESCE(ip.cy, 0))
                      / (j.cw - COALESCE(ip.cw, 0)) AS m
             FROM isoc i JOIN isoc j ON j.k >= i.k
             LEFT JOIN isoc ip ON ip.k = i.k - 1),
isoinner AS (SELECT p.i, k.k, min(p.m) AS mn
             FROM isopairs p JOIN isoc k ON p.j >= k.k AND p.i <= k.k
             GROUP BY p.i, k.k),
isofit AS (SELECT o.x, f.yhat
           FROM (SELECT k, max(mn) AS yhat FROM isoinner GROUP BY k) f
           JOIN isoo o USING (k))"""


def llm_prep_pipeline_v10(spark, sf_dir):
    """Corpus-prep v10 — the CALIBRATED-CASCADE recipe: a cheap corpus-LM
    score everywhere, the (notionally expensive) Gopher gate as labels,
    isotonic calibration turning the score into P(passes gate), and the
    final keep decision made in probability space (P ≥ 0.5) — the
    standard cheap-scorer/expensive-gate cascade with a principled
    threshold.  Per-lang accounting of the calibrated survivors.

    Scale: LM fit = one count agg; scoring zero-shuffle; calibration
    fit = distinct-score-sized (scores binned to 1 decimal); the final
    gate is a row filter on an interpolated probability.  The oracle
    replays LM + Gopher labels + the minimax isotonic identity."""
    from ..llmdata import GopherQualityFilter, UnigramLMScorer
    from ..regression import IsotonicRegression
    docs = load(spark, sf_dir, "documents")
    lm = UnigramLMScorer(inputCol="text", outputCol="lm_score",
                         vocabSize=50_000).fit(docs)
    scored = (lm.transform(docs)[0]
              .withColumn("s", F.round("lm_score", 1)))
    # minRequiredStopwords=1: the synthetic vocab carries one Gopher
    # stopword ('the'), so the default of 2 would zero every label and
    # degenerate the calibration
    gated = GopherQualityFilter(inputCol="text",
                                minRequiredStopwords=1).transform(scored)[0]
    labeled = gated.select("doc_id", "lang", "s",
                           F.col("keep").cast("double").alias("y"))
    iso = IsotonicRegression(featureCol="s", labelCol="y").fit(labeled)
    cal = iso.set_(predictionCol="p").transform(labeled)[0]
    kept = cal.filter(F.col("p") >= 0.5)
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("int").alias("n_kept"),
                 q4(F.avg("p")).alias("avg_p")))


def _llm_prep_v10_sql() -> str:
    lm_body = f"""
toks AS (SELECT doc_id, unnest({TOKS}) AS t FROM documents),
cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
konst AS (SELECT sum(c) AS total, count(*) AS v FROM cnt),
vocab AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 50000),
lmscored AS (
  SELECT tk.doc_id,
         avg(ln(COALESCE(vb.c + 1, 1) * 1.0
                / (k.total + least(k.v, 50000) + 1))) AS lm_score
  FROM toks tk LEFT JOIN vocab vb USING (t), konst k
  GROUP BY tk.doc_id),
labeled AS (
  SELECT d.doc_id, d.lang,
         ROUND(COALESCE(s.lm_score, 0.0), 1) AS x,
         CASE WHEN {_gopher_keep_sql(50, 1)} THEN 1.0 ELSE 0.0 END AS y
  FROM documents d LEFT JOIN lmscored s USING (doc_id))"""
    return (f"WITH {lm_body}, {_isotonic_minimax_ctes('labeled')}, "
            "cal AS (SELECT l.lang, f.yhat AS p FROM labeled l "
            "JOIN isofit f ON f.x = l.x) "
            "SELECT lang, CAST(count(*) AS INT) AS n_kept, "
            f"{SQL_Q4.format('avg(p)')} AS avg_p "
            "FROM cal WHERE p >= 0.5 GROUP BY lang")


LLM_PREP_V10_SQL = _llm_prep_v10_sql()


def metric_anomaly(spark, sf_dir):
    """MetricAnomalyDetector (zscore) over a per-source metric history
    derived from doc_id blocks as pseudo-runs: the latest block's mean
    n_chars vs its own history.  History relations are metadata-sized;
    boundary margins verified ≥0.8% of the threshold at every SF so the
    cross-engine float comparison cannot flip a flag."""
    from ..llmdata.profiler import MetricAnomalyDetector
    docs = load(spark, sf_dir, "documents")
    hist = (docs.groupBy(F.col("source").alias("metric"),
                         (F.col("doc_id") / 100).cast("long")
                         .alias("ts"))
            .agg(F.avg("n_chars").alias("value")))
    out = MetricAnomalyDetector(threshold=2.0).transform(hist)[0]
    # sentinel-coalesce: the driver hash must never see engine-specific
    # NULL renderings (registry convention, cf. data_profile)
    return out.select("metric", "ts", q4(F.col("value")).alias("value"),
                      q4(F.coalesce("baseline", F.lit(-1.0)))
                      .alias("baseline"),
                      q4(F.coalesce("spread", F.lit(-1.0))).alias("spread"),
                      F.col("anomalous").cast("int").alias("anomalous"))


METRIC_ANOMALY_SQL = f"""
WITH h AS (SELECT source AS metric, doc_id // 100 AS ts,
                  avg(n_chars) AS value
           FROM documents GROUP BY 1, 2),
lt AS (SELECT metric, max(ts) AS ts FROM h GROUP BY 1),
latest AS (SELECT h.* FROM h JOIN lt USING (metric, ts)),
base AS (SELECT h.metric, avg(value) AS baseline,
                stddev(value) AS spread
         FROM h JOIN lt ON h.metric = lt.metric AND h.ts < lt.ts
         GROUP BY 1)
SELECT l.metric, l.ts, {SQL_Q4.format('l.value')} AS value,
       {SQL_Q4.format('COALESCE(b.baseline, -1.0)')} AS baseline,
       {SQL_Q4.format('COALESCE(b.spread, -1.0)')} AS spread,
       CASE WHEN b.baseline IS NULL THEN 0
            WHEN abs(l.value - b.baseline)
                 > 2.0 * COALESCE(b.spread, 0) THEN 1 ELSE 0 END
         AS anomalous
FROM latest l LEFT JOIN base b ON l.metric = b.metric
"""


def calibration_eval(spark, sf_dir):
    """CalibrationEvaluator reliability bins over a deterministic
    pseudo-probability (l_discount×10 vs quantity>25): one binning
    groupBy; the B-row diagram is the output (summary stats are
    driver arithmetic, pytest-pinned)."""
    from ..evaluation import CalibrationEvaluator
    li = load(spark, sf_dir, "lineitem")
    scored = li.select((F.col("l_discount") * 10).alias("probability"),
                       (F.col("l_quantity") > 25).cast("double")
                       .alias("label"))
    bins, _summary = CalibrationEvaluator(numBins=10).transform(scored)
    return bins.select("bin", "n", q4(F.col("conf")).alias("conf"),
                       q4(F.col("acc")).alias("acc"),
                       q4(F.col("gap")).alias("gap"))


CALIBRATION_EVAL_SQL = f"""
WITH s AS (SELECT l_discount * 10 AS p,
                  CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END AS y
           FROM lineitem),
b AS (SELECT LEAST(CAST(floor(p * 10) AS INT), 9) AS bin,
             count(*) AS n, avg(p) AS conf, avg(y) AS acc
      FROM s GROUP BY 1)
SELECT bin, n, {SQL_Q4.format('conf')} AS conf,
       {SQL_Q4.format('acc')} AS acc,
       {SQL_Q4.format('acc - conf')} AS gap
FROM b
"""


def isotonic_calibration(spark, sf_dir):
    """IsotonicRegression over the lineitem pseudo-score: fit = one
    groupBy(score) sufficient statistic + driver PAVA; the oracle
    recomputes the SAME fit through the closed-form minimax identity
    ŷ_k = max_{i≤k} min_{j≥k} weightedAvg(i..j) — an INDEPENDENT
    derivation of the isotonic solution (no PAVA replay), exact here
    because pooled sums are integer-valued so both engines divide the
    identical integers."""
    from ..regression import IsotonicRegression
    li = load(spark, sf_dir, "lineitem")
    scored = li.select((F.col("l_discount") * 10).alias("score"),
                       (F.col("l_quantity") > 25).cast("double")
                       .alias("label"))
    m = IsotonicRegression(featureCol="score").fit(scored)
    rows = list(zip(m.model_data["boundaries"], m.model_data["values"]))
    out = spark.createDataFrame(rows, "x double, fitted double")
    return out.select(q4(F.col("x")).alias("x"),
                      q4(F.col("fitted")).alias("fitted"))


def _isotonic_calibration_sql() -> str:
    return (f"WITH s AS (SELECT l_discount * 10 AS x, "
            f"CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END AS y "
            f"FROM lineitem), {_isotonic_minimax_ctes('s')} "
            f"SELECT {SQL_Q4.format('x')} AS x, "
            f"{SQL_Q4.format('yhat')} AS fitted FROM isofit")


ISOTONIC_CALIBRATION_SQL = _isotonic_calibration_sql()


def mutual_information(spark, sf_dir):
    """MutualInformation(lang, source): one contingency groupBy, then
    cardinality-sized marginal/entropy arithmetic.  The gate hashes the
    INTEGER contingency output (cell + marginal + total counts) — the
    entire distributed plan — while the ln-based mi/nmi scalars stay
    under the numpy pytest oracle (tests/test_stats_eval.py): r04/r05
    showed q4-quantized transcendentals diverge across driver
    environments at the last ulp even when bit-deterministic locally."""
    from ..stats import MutualInformation
    docs = load(spark, sf_dir, "documents")
    cells = MutualInformation(xCol="lang", yCol="source").transform(docs)[1]
    return cells.select("lang", "source", "c", "cx", "cy", "n")


MUTUAL_INFORMATION_SQL = """
WITH j AS (SELECT lang, source, count(*) AS c FROM documents
           GROUP BY lang, source),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM j),
mx AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cx FROM j GROUP BY lang),
my AS (SELECT source, CAST(sum(c) AS BIGINT) AS cy FROM j GROUP BY source)
SELECT j.lang, j.source, j.c, mx.cx, my.cy, t.n
FROM j JOIN mx ON j.lang IS NOT DISTINCT FROM mx.lang
       JOIN my ON j.source IS NOT DISTINCT FROM my.source
CROSS JOIN tot t
"""


def bm25_incremental(spark, sf_dir):
    """Incremental-ingest retrieval: the index is fit on 80% of the
    corpus and UPDATED with the remaining 20% (Bm25IndexModel.update —
    only the batch tokenizes; df and the global stats merge from
    sufficient statistics), then serves the standard query batch.
    Same oracle as bm25_retrieval: fit+update must be indistinguishable
    from a full rebuild."""
    from ..llmdata import Bm25Index
    from ..llmdata.textanalysis import _tokens
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(F.coalesce(F.col("text"), F.lit("")))
    qs = (docs.filter(F.col("doc_id") % 100 == 7)
          .select(F.col("doc_id").alias("query_id"),
                  F.concat_ws(" ", F.slice(toks, 1, 5))
                  .alias("query_text")))
    model = Bm25Index().fit(docs.filter(F.col("doc_id") % 5 != 0))
    model.update(docs.filter(F.col("doc_id") % 5 == 0))
    model.set_(k=5, scoreRounding=6)
    out = model.transform(qs)[0]
    return out.select("query_id", "doc_id",
                      q4(F.col("score")).alias("score"), "rank")


def diversity_profile(spark, sf_dir):
    """DiversityProfiler (exact mode) per source: token/bigram counts,
    distincts and type-token ratios — single-shuffle corpus-health
    report; the oracle replays the tagged unigram+bigram stream."""
    from ..llmdata import DiversityProfiler
    docs = load(spark, sf_dir, "documents")
    out = DiversityProfiler(inputCol="text", groupByCol="source",
                            exactDistinct=True).transform(docs)[0]
    return out.select("source",
                      F.col("n_tokens").cast("bigint").alias("n_tokens"),
                      F.col("distinct_tokens").cast("bigint")
                      .alias("distinct_tokens"),
                      F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
                      F.col("distinct_bigrams").cast("bigint")
                      .alias("distinct_bigrams"),
                      q4(F.col("ttr")).alias("ttr"),
                      q4(F.col("bigram_ttr")).alias("bigram_ttr"))


DIVERSITY_PROFILE_SQL = f"""
WITH toks AS (SELECT source, {TOKS} AS ot FROM documents),
uni AS (SELECT source, unnest(ot) AS v FROM toks),
bi AS (SELECT source,
              unnest(list_transform(range(1, len(ot)),
                                    i -> ot[i] || ' ' || ot[i + 1])) AS v
       FROM toks),
u AS (SELECT source, count(v) AS n_tokens,
             count(DISTINCT v) AS distinct_tokens FROM uni GROUP BY source),
b AS (SELECT source, count(v) AS n_bigrams,
             count(DISTINCT v) AS distinct_bigrams FROM bi GROUP BY source)
SELECT source, n_tokens, distinct_tokens, n_bigrams, distinct_bigrams,
       {SQL_Q4.format("CAST(distinct_tokens AS DOUBLE) / n_tokens")} AS ttr,
       {SQL_Q4.format("CAST(distinct_bigrams AS DOUBLE) / n_bigrams")}
         AS bigram_ttr
FROM u JOIN b USING (source)
"""


def incremental_dedup_bloom(spark, sf_dir):
    """Exact incremental dedup with a Bloom prefilter: the store (old
    docs) fits a DigestBloomFilter over prefix fingerprints; the new
    batch probes it, DEFINITELY-new rows (maybe=false) skip the store
    join entirely, and only the maybe rows resolve exactly.  No false
    negatives ⇒ output is byte-identical to the plain join — the bloom
    pass is a pure physical optimization, so the oracle replays only the
    semantic join.  At 100 TB this is the steady-state incremental-ingest
    shape: a ~1.2 MB bitmap per million store digests rides broadcast and
    the store join's probe side shrinks to the (rare) suspected dups."""
    from ..llmdata import DigestBloomFilter
    docs = load(spark, sf_dir, "documents")
    toks = F.array_remove(F.split(F.col("text"), r"\s"), "")
    d = docs.select("doc_id", F.sha2(
        F.concat_ws(" ", F.slice(toks, 1, 5)), 256).alias("dig"))
    new = d.filter(F.col("doc_id") % 5 == 0)
    old = d.filter(F.col("doc_id") % 5 != 0)
    model = DigestBloomFilter(inputCol="dig", fpp=0.01).fit(old)
    flagged = model.transform(new)[0]
    dups = (flagged.where("maybe")
            .join(old.select("dig").distinct(), "dig", "left_semi")
            .select("doc_id", F.lit(1).alias("is_dup")))
    return (flagged.select("doc_id").join(dups, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("is_dup", F.lit(0)).cast("int")
                    .alias("is_dup")))


INCREMENTAL_DEDUP_BLOOM_SQL = """
WITH d AS (SELECT doc_id,
                  array_to_string(list_filter(string_split(text, ' '),
                                              t -> t <> '')[1:5], ' ') AS pfx
           FROM documents)
SELECT n.doc_id,
       CASE WHEN o.pfx IS NOT NULL THEN 1 ELSE 0 END AS is_dup
FROM (SELECT * FROM d WHERE doc_id % 5 = 0) n
LEFT JOIN (SELECT DISTINCT pfx FROM d WHERE doc_id % 5 <> 0) o
  USING (pfx)
"""


def llm_prep_pipeline_v9(spark, sf_dir):
    """Corpus-prep v9 — the RAW-WEB INGEST recipe: HTML-wrapped pages →
    HtmlTextExtractor → C4LineFilter (page line cleanup) →
    WordBlocklistFilter (drop mode) → ExactDeduplicator → per
    lang × source accounting with min/max content digests.

    The oracle is the IDENTITY check made aggregate: the wrapper noise
    (head/title/style/script/short footer) must vanish and the original
    text must survive the whole chain byte-exact (verified: every
    testdata doc has ≥10 words, no tabs/double spaces, no '<'/'&'), so
    the expected per-group digests are computable from raw
    documents.text without replaying the regex chain — any extraction
    corruption, over-aggressive line rule, or dedup slip breaks the
    hash.  100 TB: extract/filter/gate ride the scan (zero shuffle);
    dedup shuffles 32-byte digests; accounting is one partial-agg."""
    from ..llmdata import (C4LineFilter, ExactDeduplicator,
                           HtmlTextExtractor, WordBlocklistFilter)
    docs = load(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id", "lang", "source",
        F.concat(F.lit(_HTML_PRE), "text", F.lit(_HTML_POST)).alias("raw"))
    txt = HtmlTextExtractor(inputCol="raw", outputCol="txt") \
        .transform(raw)[0]
    clean = C4LineFilter(inputCol="txt", outputCol="clean",
                         minWordsPerLine=5, requireTerminalPunct=False) \
        .transform(txt)[0]
    gated = WordBlocklistFilter(inputCol="clean", outputCol="hits",
                                blocklist=["spark", "join", "cookie"],
                                maxHits=4, mode="drop") \
        .transform(clean)[0]
    kept = ExactDeduplicator(inputCol="clean", idCol="doc_id") \
        .transform(gated)[0]
    toks = F.array_remove(F.split(F.col("clean"), r"\s"), "")
    return (kept.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).cast("int").alias("n_docs"),
                 F.sum(F.size(toks)).cast("bigint").alias("n_tokens"),
                 F.min(F.md5(F.col("clean"))).alias("min_md5"),
                 F.max(F.md5(F.col("clean"))).alias("max_md5")))


LLM_PREP_V9_SQL = """
WITH gated AS (
  SELECT doc_id, text, lang, source,
         len(list_filter(string_split(lower(text), ' '),
                         t -> t IN ('spark', 'join', 'cookie'))) AS hits,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_toks
  FROM documents),
surv AS (SELECT * FROM gated WHERE hits <= 4),
kept AS (SELECT s.* FROM surv s
         JOIN (SELECT text, min(doc_id) AS keep_id FROM surv GROUP BY text) w
           ON s.text = w.text AND s.doc_id = w.keep_id)
SELECT lang, source, CAST(count(*) AS INT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       min(md5(text)) AS min_md5, max(md5(text)) AS max_md5
FROM kept
GROUP BY lang, source
"""


def llm_prep_pipeline_v11(spark, sf_dir):
    """Corpus-prep v11 — the PUBLISH recipe: URL canonicalization →
    URL-level exact dedup → leakage-safe domain split → accounting.
    The same page fetched under tracking-param / port / case / userinfo
    variants collapses to ONE copy (UrlNormalizer + ExactDeduplicator on
    the canonical URL, keep lowest doc_id), then RandomSplitter's
    string-key hash split assigns every REGISTERED DOMAIN wholly to
    train or eval (near-dups from one site cannot straddle the split —
    Lee et al. 2022's dedup-then-split discipline).

    Oracle: re-derives the canonical URL and registered domain
    ALGEBRAICALLY from the synthetic construction (the url_normalize
    convention — an independent check, not a regex replay), replays the
    min-id dedup, the poly-hash split, and the per-(split, lang)
    accounting with content digests.

    100 TB: normalize + split are zero-shuffle row functions; dedup
    shuffles 32-byte digests; accounting is one partial-agg."""
    from ..feature import RandomSplitter
    from ..llmdata import ExactDeduplicator, UrlNormalizer
    docs = load(spark, sf_dir, "documents")
    g = (F.col("doc_id") % 11).cast("string")
    messy = F.concat(
        F.lit("HTTPS://u:pw@WWW."), "source", F.lit("-"), g,
        F.lit(".Example-"), g, F.lit(".COM:443/p/"),
        (F.col("doc_id") % 55).cast("string"),
        F.lit("?gclid="), F.col("doc_id").cast("string"),
        F.lit("&ref=keep&utm_campaign=x#s"), F.col("doc_id").cast("string"))
    urls = UrlNormalizer(inputCol="url").transform(
        docs.withColumn("url", messy))[0]
    # materialize the dedup output once: the splitter's two where()
    # branches would otherwise each re-run the normalize+dedup DAG
    # (the v6 recipe lesson — one checkpoint per composed stage)
    kept = ExactDeduplicator(inputCol="url_norm", idCol="doc_id") \
        .transform(urls)[0] \
        .select("doc_id", "lang", "text", "url_norm", "url_domain") \
        .localCheckpoint(eager=True)
    train, ev = RandomSplitter(weights=[9.0, 1.0], seed=11,
                               splitStrategy="hash",
                               hashCol="url_domain").transform(kept)
    both = train.withColumn("split", F.lit(0)) \
        .unionByName(ev.withColumn("split", F.lit(1)))
    return (both.groupBy("split", "lang")
            .agg(F.count(F.lit(1)).cast("int").alias("n_docs"),
                 F.countDistinct("url_domain").cast("int")
                 .alias("n_domains"),
                 F.min(F.md5(F.col("text"))).alias("min_md5"),
                 F.max(F.md5(F.col("text"))).alias("max_md5")))


_V11_POLY = ("list_reduce(list_transform(range(1, length({t}) + 1), "
             "i -> CAST(ascii(substr({t}, CAST(i AS INT), 1)) AS BIGINT)), "
             "(a, b) -> (a * 31 + b) % 2038074743)")

LLM_PREP_V11_SQL = f"""
WITH u AS (
  SELECT doc_id, lang, text,
         'https://www.' || source || '-' || CAST(doc_id % 11 AS VARCHAR)
           || '.example-' || CAST(doc_id % 11 AS VARCHAR) || '.com/p/'
           || CAST(doc_id % 55 AS VARCHAR) || '?ref=keep' AS url_norm,
         'example-' || CAST(doc_id % 11 AS VARCHAR) || '.com' AS url_domain
  FROM documents),
kept AS (SELECT u.* FROM u
         JOIN (SELECT url_norm, min(doc_id) AS keep_id
               FROM u GROUP BY url_norm) w
           ON u.url_norm = w.url_norm AND u.doc_id = w.keep_id),
s AS (SELECT *,
             CASE WHEN ({_V11_POLY.format(t='url_domain')} * 2654435761
                        + 11) % 2147483648 / 2147483648.0 < 0.9
                  THEN 0 ELSE 1 END AS split
      FROM kept)
SELECT split, lang, CAST(count(*) AS INT) AS n_docs,
       CAST(count(DISTINCT url_domain) AS INT) AS n_domains,
       min(md5(text)) AS min_md5, max(md5(text)) AS max_md5
FROM s GROUP BY split, lang
"""


def llm_prep_pipeline_v12(spark, sf_dir):
    """Corpus-prep v12 — the CONTRASTIVE-PAIRS publish recipe: one IVF
    index serves both sides of retriever-training data (positives = top-1
    same-label neighbor, hard negatives = top-3 different-label neighbors
    — the candidate_filter hook on the SAME probe join) + uniform random
    negatives (NegativeSampler, same-label pairs excluded), then an
    anchor-keyed hash split (a query's pairs never straddle train/eval)
    and per-(split, pair_type) accounting with pair digests.

    100 TB: the index is fit once and the cell assignment is
    localCheckpointed before BOTH searches (the self-join/CSE rule);
    every candidate join is cell- or bucket-equi; pairs are
    anchor-result-sized before the zero-shuffle split."""
    from ..feature import RandomSplitter
    from ..llmdata import IVFIndex, NegativeSampler
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding",
                        F.col("label").alias("__cl__"))
    idx = IVFIndex(vecCol="embedding", nlist=8, maxIter=3).fit(emb)
    indexed = idx.transform(corpus)[0].localCheckpoint(eager=True)
    anchors = emb.filter(F.col("vec_id") % 20 == 3) \
        .select(F.col("vec_id").alias("query_id"), "embedding",
                F.col("label").alias("__ql__"))
    diff = ~F.col("__ql__").eqNullSafe(F.col("__cl__"))
    hard = idx.search(anchors, indexed, "query_id", "corpus_id", 3,
                      carry_query_cols=("__ql__",),
                      carry_corpus_cols=("__cl__",),
                      candidate_filter=diff) \
        .select("query_id", F.col("corpus_id").alias("doc_id"),
                F.lit("hard_neg").alias("pair_type"))
    pos = idx.search(anchors, indexed, "query_id", "corpus_id", 1,
                     carry_query_cols=("__ql__",),
                     carry_corpus_cols=("__cl__",),
                     candidate_filter=(~diff) & (F.col("query_id")
                                                 != F.col("corpus_id"))) \
        .select("query_id", F.col("corpus_id").alias("doc_id"),
                F.lit("pos").alias("pair_type"))
    docs = corpus.select(F.col("corpus_id").alias("doc"))
    same_label = (anchors.select("query_id", "__ql__")
                  .join(corpus.select(F.col("corpus_id").alias("doc"),
                                      "__cl__"),
                        F.col("__ql__") == F.col("__cl__"))
                  .select("query_id", "doc"))
    rand = NegativeSampler(queryCol="query_id", posCol="doc", docCol="doc",
                           k=3, margin=3, salt=7) \
        .transform(same_label, docs)[0] \
        .select("query_id", F.col("negative").alias("doc_id"),
                F.lit("rand_neg").alias("pair_type"))
    pairs = hard.unionByName(pos).unionByName(rand) \
        .localCheckpoint(eager=True)
    train, ev = RandomSplitter(weights=[8.0, 2.0], seed=5,
                               splitStrategy="hash",
                               hashCol="query_id").transform(pairs)
    both = train.withColumn("split", F.lit(0)) \
        .unionByName(ev.withColumn("split", F.lit(1)))
    dig = F.md5(F.concat_ws(":", F.col("query_id").cast("string"),
                            F.col("doc_id").cast("string")))
    return (both.groupBy("split", "pair_type")
            .agg(F.count(F.lit(1)).cast("int").alias("n_pairs"),
                 F.countDistinct("query_id").cast("int").alias("n_anchors"),
                 F.min(dig).alias("min_md5"), F.max(dig).alias("max_md5")))


def _llm_prep_v12_sql(nlist: int = 8, iters: int = 3, dim: int = 64,
                      nprobe: int = 2) -> str:
    parts, d2 = _ivf_cells_parts(nlist, iters, dim)
    nrm = ("sqrt(list_aggregate(list_transform(range(1, {d}), "
           "i -> {x}.v[i] * {x}.v[i]), 'sum'))")
    dot = (f"list_aggregate(list_transform(range(1, {dim + 1}), "
           f"i -> q.v[i] * t.v[i]), 'sum')")
    cos = (dot + " / (" + nrm.format(d=dim + 1, x="q") + " * "
           + nrm.format(d=dim + 1, x="t") + ")")
    parts.append(
        f"probes AS MATERIALIZED (SELECT vec_id AS query_id, p.v, cid AS "
        f"cell FROM (SELECT p.vec_id, p.v, c.cid, row_number() OVER ("
        f"PARTITION BY p.vec_id ORDER BY {d2}, c.cid) AS rn "
        f"FROM pts p CROSS JOIN c{iters} c WHERE p.vec_id % 20 = 3) p "
        f"WHERE rn <= {nprobe})")
    parts.append(
        f"scored AS MATERIALIZED (SELECT q.query_id, t.corpus_id, "
        f"lq.label AS ql, lt.label AS cl, {cos} AS cosine "
        f"FROM probes q JOIN cells t ON q.cell = t.cell "
        f"JOIN embeddings lq ON lq.vec_id = q.query_id "
        f"JOIN embeddings lt ON lt.vec_id = t.corpus_id)")
    parts.append(
        "hard AS (SELECT query_id, corpus_id AS doc_id, 'hard_neg' AS "
        "pair_type FROM (SELECT *, row_number() OVER (PARTITION BY "
        "query_id ORDER BY cosine DESC, corpus_id) AS rk FROM scored "
        "WHERE ql IS DISTINCT FROM cl) WHERE rk <= 3)")
    parts.append(
        "pos AS (SELECT query_id, corpus_id AS doc_id, 'pos' AS pair_type "
        "FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER "
        "BY cosine DESC, corpus_id) AS rk FROM scored WHERE ql IS NOT "
        "DISTINCT FROM cl AND query_id <> corpus_id) WHERE rk <= 1)")
    # NegativeSampler replay (salt 7, k 3, margin 3 -> 6 draws),
    # positives = same-label pairs
    parts.append("nb AS (SELECT GREATEST(1, count(*) // 64) AS b "
                 "FROM embeddings)")
    parts.append("d2h AS (SELECT vec_id AS doc, ((vec_id % 2147483648) * "
                 "2654435761 + 7) % 2147483648 AS h FROM embeddings)")
    parts.append("docs AS (SELECT doc, h % nb.b AS bkt, "
                 "h / 2147483648.0 AS du FROM d2h, nb)")
    parts.append("qa AS (SELECT vec_id AS query_id, label FROM embeddings "
                 "WHERE vec_id % 20 = 3)")
    parts.append("spos AS (SELECT qa.query_id, e.vec_id AS doc FROM qa "
                 "JOIN embeddings e ON e.label = qa.label)")
    parts.append("qh AS (SELECT query_id, j, ((query_id % 2147483648) * "
                 "2654435761 + 7) % 2147483648 AS h1 "
                 "FROM qa, generate_series(1, 6) s(j))")
    parts.append("qh2 AS (SELECT query_id, j, (((h1 + j) % 2147483648) * "
                 "2654435761 + 7) % 2147483648 AS h2 FROM qh)")
    parts.append("qv AS (SELECT query_id, j, h2 % nb.b AS bkt, "
                 "(((h2 % 2147483648) * 2654435761 + 7) % 2147483648) "
                 "/ 2147483648.0 AS u FROM qh2, nb)")
    parts.append("cand AS (SELECT qv.query_id, qv.j, docs.doc, "
                 "abs(docs.du - qv.u) AS dist FROM qv JOIN docs USING (bkt) "
                 "WHERE NOT EXISTS (SELECT 1 FROM spos WHERE spos.query_id "
                 "= qv.query_id AND spos.doc = docs.doc))")
    parts.append("picked AS (SELECT query_id, j, doc FROM (SELECT *, "
                 "row_number() OVER (PARTITION BY query_id, j ORDER BY "
                 "dist, doc) rn FROM cand) WHERE rn = 1)")
    parts.append("dd AS (SELECT query_id, j, doc FROM (SELECT *, "
                 "row_number() OVER (PARTITION BY query_id, doc ORDER BY "
                 "j) rn FROM picked) WHERE rn = 1)")
    parts.append("rand AS (SELECT query_id, doc AS doc_id, 'rand_neg' AS "
                 "pair_type FROM (SELECT *, row_number() OVER (PARTITION "
                 "BY query_id ORDER BY j) rk FROM dd) WHERE rk <= 3)")
    parts.append("pairs AS (SELECT * FROM hard UNION ALL SELECT * FROM pos "
                 "UNION ALL SELECT * FROM rand)")
    parts.append(
        "sp AS (SELECT *, CASE WHEN ((query_id * 2654435761 + 5) % "
        "2147483648) / 2147483648.0 < 0.8 THEN 0 ELSE 1 END AS split "
        "FROM pairs)")
    return (", ".join(parts)
            + " SELECT split, pair_type, CAST(count(*) AS INT) AS n_pairs, "
              "CAST(count(DISTINCT query_id) AS INT) AS n_anchors, "
              "min(md5(CAST(query_id AS VARCHAR) || ':' || "
              "CAST(doc_id AS VARCHAR))) AS min_md5, "
              "max(md5(CAST(query_id AS VARCHAR) || ':' || "
              "CAST(doc_id AS VARCHAR))) AS max_md5 "
              "FROM sp GROUP BY 1, 2")


LLM_PREP_V12_SQL = _llm_prep_v12_sql()


def llm_prep_pipeline_v13(spark, sf_dir):
    """Corpus-prep v13: the learned-quality-gate recipe — derive cheap
    per-doc quality features (chars, tokens, chars-per-token), label
    them with a rule gate, TRAIN a DecisionTreeClassifier on those
    labels, keep the docs the tree passes, and account per language.
    The bit-exact tree fit means the whole learned gate replays in SQL
    (the generated tree chain over documents) with integer accounting
    out — 'train a quality classifier, apply it at corpus scale' as a
    single exactly-gated pipeline (the tree sibling of v10's isotonic
    cascade)."""
    from ..llmdata.textanalysis import _tokens
    from ..regression import DecisionTreeClassifier
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    base = docs.select(
        "lang",
        F.col("n_chars").cast("double").alias("f0"),
        F.size(toks).cast("double").alias("f1"))
    base = base.withColumn("f2", F.col("f0") / (F.col("f1") + 1.0))
    label = ((F.col("f1") >= 20) & (F.col("f1") <= 2000)
             & (F.col("f2") >= 3.0) & (F.col("f2") <= 12.0)) \
        .cast("double")
    df = base.select("lang",
                     F.array("f0", "f1", "f2").alias("features"),
                     label.alias("label"))
    m = DecisionTreeClassifier(maxDepth=2, maxBins=8).fit(df)
    kept = m.transform(df)[0].filter(F.col("prediction") == 1.0)
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("features")[1].cast("long"))
                 .alias("n_tokens")))


def _llm_prep_v13_sql() -> str:
    from .ml_queries import _tree_base_ctes, _tree_chain
    f0 = "CAST(n_chars AS DOUBLE)"
    f1 = f"CAST(len({TOKS}) AS DOUBLE)"
    f2 = f"({f0} / ({f1} + 1.0))"
    label = (f"CASE WHEN {f1} >= 20 AND {f1} <= 2000 AND {f2} >= 3.0 "
             f"AND {f2} <= 12.0 THEN 1.0 ELSE 0.0 END")
    ctes = _tree_base_ctes(3, 8, label=label, feats=[f0, f1, f2],
                           table="documents",
                           keys_sql="doc_id AS k1, lang AS k2")
    ctes.append(
        "r0 AS MATERIALIZED (SELECT * EXCLUDE (ly), "
        "CAST(ROUND(ly) AS BIGINT) AS y, 0 AS node FROM base)")
    chain, final_rows, leaves = _tree_chain(
        "", "r0", 2, 3, 7, 1, ["k1", "k2"])
    ctes += chain
    final = (f"SELECT r.k2 AS lang, count(*) AS n_docs, "
             f"CAST(sum(CAST(r.x1 AS BIGINT)) AS BIGINT) AS n_tokens "
             f"FROM {final_rows} r JOIN {leaves} l USING (node) "
             f"WHERE l.v > 0.5 GROUP BY 1")
    return "WITH " + ",\n".join(ctes) + "\n" + final


LLM_PREP_V13_SQL = _llm_prep_v13_sql()


V14_ITERS, V14_LR, V14_MARGIN = 40, 1.0, 2.0


def llm_prep_pipeline_v14(spark, sf_dir):
    """Corpus-prep v14: the CALIBRATED quality gate — derive a cheap
    per-doc quality score (clipped, centered token count), label docs
    with a rule, fit PlattCalibrator on (score, label) with the 12-dp
    GD grid, and keep docs whose calibrated probability clears the
    HIGH-CONFIDENCE bar σ(2) ≈ 0.88; account per language.  The
    probability gate reduces to the EXACT polynomial margin test
    A·s + B > 2 (sigmoid is monotone), so the learned gate replays
    bit-exactly in SQL — the parametric sibling of v13's tree gate and
    v10's isotonic cascade, and the shape real pipelines use
    ("keep only what the quality model is CONFIDENT about")."""
    from ..llmdata.textanalysis import _tokens
    from ..regression import PlattCalibrator
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    f1 = F.size(toks).cast("double")
    f2 = F.col("n_chars").cast("double") / (f1 + 1.0)
    base = docs.select(
        "lang", f1.alias("f1"),
        ((F.least(f1, F.lit(100.0)) - 20.0) / 40.0).alias("score"),
        ((f1 >= 20) & (f2 >= 3.0)).cast("double").alias("label"))
    m = PlattCalibrator(maxIter=V14_ITERS, learningRate=V14_LR, tol=0.0,
                        globalBatchSize=1 << 40,
                        weightRounding=12).fit(base)
    a, b = float(m.model_data["a"]), float(m.model_data["b"])
    # gate on the exact margin (≡ calibrated > σ(2)): polynomial
    # compare, immune to last-ulp exp() differences at the boundary
    kept = base.filter(F.col("score") * a + b > V14_MARGIN)
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("f1").cast("long")).cast("long")
                 .alias("n_tokens")))


def _llm_prep_v14_sql() -> str:
    sig = "1.0/(1.0 + exp(-(w0 * x0 + w1 * x1)))"
    return f"""
WITH RECURSIVE feat AS (
  SELECT lang, CAST(len({TOKS}) AS DOUBLE) AS f1,
         CAST(n_chars AS DOUBLE) / (CAST(len({TOKS}) AS DOUBLE) + 1.0)
           AS f2
  FROM documents),
data AS (
  SELECT lang, f1, (LEAST(f1, 100.0) - 20.0) / 40.0 AS x0, 1.0 AS x1,
         CASE WHEN f1 >= 20 AND f2 >= 3.0 THEN 1.0 ELSE 0.0 END AS yb
  FROM feat),
tgt AS (
  SELECT lang, f1, x0, x1,
         CASE WHEN yb = 1.0 THEN (np + 1.0) / (np + 2.0)
              ELSE 1.0 / (nn + 2.0) END AS y
  FROM data,
       (SELECT sum(yb) AS np, count(*) - sum(yb) AS nn FROM data)),
it(i, w0, w1) AS (
  SELECT 0, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
  UNION ALL
  SELECT i + 1,
    round(w0 - {V14_LR} * (SELECT avg(({sig} - y) * x0) FROM tgt), 12),
    round(w1 - {V14_LR} * (SELECT avg(({sig} - y) * x1) FROM tgt), 12)
  FROM it WHERE i < {V14_ITERS}),
w AS (SELECT w0, w1 FROM it ORDER BY i DESC LIMIT 1)
SELECT t.lang, count(*) AS n_docs,
       CAST(sum(CAST(t.f1 AS BIGINT)) AS BIGINT) AS n_tokens
FROM tgt t, w WHERE w.w0 * t.x0 + w.w1 * t.x1 > {V14_MARGIN}
GROUP BY t.lang
"""


LLM_PREP_V14_SQL = _llm_prep_v14_sql()


def vocab_growth(spark, sf_dir):
    """VocabGrowthProfiler: per hash slice, tokens / first-appearance
    types / cumulative types — the Heaps-law saturation diagnostic."""
    from ..llmdata import VocabGrowthProfiler
    docs = load(spark, sf_dir, "documents")
    out = VocabGrowthProfiler(idCol="doc_id", inputCol="text",
                              numSlices=10, salt=7).transform(docs)[0]
    # integer-exact contract: counts only; the new_type_rate ratio stays
    # under the pytest oracle (r05 showed q4-quantized ratios can go red
    # in the driver env while green locally)
    return out.select("slice", "tokens", "new_types", "cum_types")


VOCAB_GROWTH_SQL = f"""
WITH d AS (
  SELECT LEAST(CAST(floor((((doc_id % 2147483648) * 2654435761 + 7)
                           % 2147483648) / 2147483648.0 * 10) AS INT), 9)
         AS slice, text
  FROM documents),
tok AS (SELECT slice, unnest({TOKS}) AS t FROM d),
tot AS (SELECT slice, count(*) AS tokens FROM tok GROUP BY 1),
first AS (SELECT t, min(slice) AS slice FROM tok GROUP BY 1),
new AS (SELECT slice, count(*) AS new_types FROM first GROUP BY 1)
SELECT tot.slice, tot.tokens, coalesce(new.new_types, 0) AS new_types,
       CAST(sum(coalesce(new.new_types, 0)) OVER (ORDER BY tot.slice
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
FROM tot LEFT JOIN new ON new.slice = tot.slice
"""


ITEMSET_SUPPORT = 0.0001  # = 1/10000: threshold (n + 9999) // 10000


def _itemset_input(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.select(F.col("l_orderkey").alias("tid"),
                     (F.col("l_partkey") % 50).cast("string").alias("it"))


def frequent_itemsets(spark, sf_dir):
    """FrequentItemsets (relational Apriori, sizes 1-3) over order
    baskets of bucketed part keys: supports are exact integer counts,
    the threshold is the exact rational ceil(n/10000), and the Apriori
    prune cannot change results (sub-itemset support ≥ itemset
    support), so the oracle replays the joins and counts directly."""
    from ..llmdata import FrequentItemsets
    sets = FrequentItemsets(transactionCol="tid", itemsCol="it",
                            minSupport=ITEMSET_SUPPORT) \
        .transform(_itemset_input(spark, sf_dir))[0]
    return sets.select(F.array_join("items", ",").alias("items"),
                       "size", "support")


FREQUENT_ITEMSETS_SQL = """
WITH ti AS (SELECT DISTINCT l_orderkey AS t,
                   CAST(l_partkey % 50 AS VARCHAR) AS i FROM lineitem),
n AS (SELECT count(DISTINCT t) AS n FROM ti),
l1 AS (SELECT i, count(*) AS c FROM ti GROUP BY 1
       HAVING count(*) >= (SELECT (n + 9999) // 10000 FROM n)),
tf AS (SELECT ti.t, ti.i FROM ti JOIN l1 USING (i)),
p AS (SELECT a.i AS x, b.i AS y, count(*) AS c
      FROM tf a JOIN tf b ON a.t = b.t AND a.i < b.i GROUP BY 1, 2
      HAVING count(*) >= (SELECT (n + 9999) // 10000 FROM n)),
tri AS (SELECT a.i AS x, b.i AS y, c3.i AS z, count(*) AS c
        FROM tf a JOIN tf b ON a.t = b.t AND a.i < b.i
        JOIN tf c3 ON b.t = c3.t AND b.i < c3.i
        GROUP BY 1, 2, 3
        HAVING count(*) >= (SELECT (n + 9999) // 10000 FROM n))
SELECT i AS items, 1 AS size, c AS support FROM l1
UNION ALL
SELECT x || ',' || y, 2, c FROM p
UNION ALL
SELECT x || ',' || y || ',' || z, 3, c FROM tri
"""


def assoc_rules(spark, sf_dir):
    """Association rules over the frequent pairs — integer supports
    only (confidence = support_pair/support_ante is derivable; ratios
    stay out of the hash per the determinism discipline)."""
    from ..llmdata import FrequentItemsets
    rules = FrequentItemsets(transactionCol="tid", itemsCol="it",
                             minSupport=ITEMSET_SUPPORT, maxSize=2) \
        .transform(_itemset_input(spark, sf_dir))[1]
    return rules.select("antecedent", "consequent", "support_pair",
                        "support_ante")


ASSOC_RULES_SQL = """
WITH ti AS (SELECT DISTINCT l_orderkey AS t,
                   CAST(l_partkey % 50 AS VARCHAR) AS i FROM lineitem),
n AS (SELECT count(DISTINCT t) AS n FROM ti),
l1 AS (SELECT i, count(*) AS c FROM ti GROUP BY 1
       HAVING count(*) >= (SELECT (n + 9999) // 10000 FROM n)),
tf AS (SELECT ti.t, ti.i FROM ti JOIN l1 USING (i)),
p AS (SELECT a.i AS x, b.i AS y, count(*) AS c
      FROM tf a JOIN tf b ON a.t = b.t AND a.i < b.i GROUP BY 1, 2
      HAVING count(*) >= (SELECT (n + 9999) // 10000 FROM n)),
ab AS (SELECT x AS antecedent, y AS consequent, c FROM p
       UNION ALL SELECT y, x, c FROM p)
SELECT b.antecedent, b.consequent, b.c AS support_pair,
       l1.c AS support_ante
FROM ab b JOIN l1 ON l1.i = b.antecedent
"""


def fuzzy_join(spark, sf_dir):
    """FuzzyStringJoin: part names vs their last-word-truncated variants
    — blocked (first-token, length-band) candidates, Levenshtein verify.
    Both engines share the regex truncation and levenshtein semantics,
    so the oracle replays blocking + verify exactly."""
    from ..llmdata import FuzzyStringJoin
    part = load(spark, sf_dir, "part")
    left = part.select(F.col("p_partkey").alias("left_id"),
                       F.col("p_name").alias("name"))
    right = part.select(
        F.col("p_partkey").alias("right_id"),
        F.regexp_replace(F.col("p_name"), r"\s+\S+$", "").alias("name"))
    out = FuzzyStringJoin(maxDistance=12, firstTokenBlock=1, keepBest=1) \
        .transform(left, right)[0]
    return out.select("left_id", "right_id",
                      F.col("distance").cast("int").alias("distance"))


FUZZY_JOIN_SQL = r"""
WITH l AS (SELECT p_partkey AS left_id, p_name AS ls FROM part),
r AS (SELECT p_partkey AS right_id,
             regexp_replace(p_name, '\s+\S+$', '') AS rs
      FROM part),
cand AS (
  SELECT l.left_id, r.right_id,
         CAST(levenshtein(l.ls, r.rs) AS INT) AS distance
  FROM l JOIN r
    ON split_part(l.ls, ' ', 1) = split_part(r.rs, ' ', 1)
   AND abs(length(l.ls) - length(r.rs)) <= 12
  WHERE levenshtein(l.ls, r.rs) <= 12)
SELECT left_id, right_id, distance FROM (
  SELECT *, row_number() OVER (PARTITION BY right_id
                               ORDER BY distance, left_id) AS rk
  FROM cand) WHERE rk <= 1
"""


def keyness(spark, sf_dir):
    """KeynessAnalyzer: Monroe et al. log-odds z — which tokens
    distinguish English docs from the rest; top-25 by |z| through
    TakeOrderedAndProject, z rounded to 9 decimals so the k-boundary is
    engine-reproducible."""
    from ..llmdata import KeynessAnalyzer
    docs = load(spark, sf_dir, "documents")
    a = docs.filter(F.col("lang") == "en")
    b = docs.filter(F.col("lang") != "en")
    out = KeynessAnalyzer(inputCol="text", alpha0=100.0, k=25,
                          zRounding=9).transform(a, b)[0]
    return out.select("token", "count_a", "count_b",
                      q4(F.col("z")).alias("z"))


KEYNESS_SQL = f"""
WITH ta AS (SELECT unnest({TOKS}) AS token FROM documents
            WHERE lang = 'en'),
tb AS (SELECT unnest({TOKS}) AS token FROM documents
       WHERE lang <> 'en'),
ca AS (SELECT token, count(*) AS count_a FROM ta GROUP BY 1),
cb AS (SELECT token, count(*) AS count_b FROM tb GROUP BY 1),
j AS (SELECT coalesce(ca.token, cb.token) AS token,
             coalesce(count_a, 0) AS count_a,
             coalesce(count_b, 0) AS count_b
      FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
t AS (SELECT CAST(sum(count_a) AS DOUBLE) AS na,
             CAST(sum(count_b) AS DOUBLE) AS nb FROM j),
s AS (SELECT token, count_a, count_b,
             round((ln((count_a + aw) / (t.na + 100.0 - count_a - aw))
                    - ln((count_b + aw) / (t.nb + 100.0 - count_b - aw)))
                   / sqrt(1.0 / (count_a + aw) + 1.0 / (count_b + aw)),
                   9) AS z
      FROM (SELECT j.*, 100.0 * (count_a + count_b) / (t.na + t.nb) AS aw
            FROM j, t), t)
SELECT token, count_a, count_b, {SQL_Q4.format('z')} AS z
FROM s ORDER BY abs(z) DESC, token LIMIT 25
"""


def weighted_sample(spark, sf_dir):
    """WeightedSampler: 5 docs per source, inclusion ∝ n_chars —
    Efraimidis–Spirakis u^(1/w) keys over the deterministic LCG, exact
    top-k per group; key rounded to 12 decimals so pow()'s last
    ulp can't reorder ties across engines."""
    from ..llmdata import WeightedSampler
    docs = load(spark, sf_dir, "documents")
    out = WeightedSampler(idCol="doc_id", weightCol="n_chars", k=5,
                          byCol="source", salt=7, keyRounding=12) \
        .transform(docs)[0]
    return out.select("source", "doc_id", "n_chars")


WEIGHTED_SAMPLE_SQL = """
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         round(pow(xor((doc_id % 2147483648) * 2654435761 % 2147483648,
                       7 * 2654435761 % 2147483648)
                   / 2147483648.0, 1.0 / n_chars), 12) AS k
  FROM documents WHERE n_chars > 0),
r AS (SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY k DESC, doc_id) AS rk
      FROM keyed)
SELECT source, doc_id, n_chars FROM r WHERE rk <= 5
"""


def corpus_datasheet(spark, sf_dir):
    """CorpusDatasheet: the one-call (section, metric, value) corpus
    report — volume, exact-dup rate, language mix, source Gini/top-1,
    corpus TTR — every metric replayed in one oracle."""
    from ..llmdata import CorpusDatasheet
    docs = load(spark, sf_dir, "documents")
    out = CorpusDatasheet(inputCol="text", idCol="doc_id", langCol="lang",
                          sourceCol="source").transform(docs)[0]
    return out.select("section", "metric", q4(F.col("value")).alias("v"))


CORPUS_DATASHEET_SQL = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t, {TOKS} AS tk,
                     lang, source FROM documents),
a AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(len(tk)) AS DOUBLE) AS n_tokens,
             avg(length(t)) AS avg_chars,
             CAST(count(DISTINCT md5(t)) AS DOUBLE) AS nd
      FROM base),
types AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS nt
          FROM (SELECT unnest(tk) AS w FROM base)),
langs AS (SELECT lang, CAST(count(*) AS DOUBLE) AS c FROM base GROUP BY 1),
sk_c AS (SELECT source AS key, count(*) AS cnt FROM base GROUP BY 1),
sk_r AS (SELECT key, cnt,
                row_number() OVER (ORDER BY cnt DESC, key) AS rank,
                row_number() OVER (ORDER BY cnt ASC, key) AS i
         FROM sk_c),
sk_t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n, count(*) AS m,
                sum(CAST(i AS DOUBLE) * cnt) AS iw,
                sum(CASE WHEN rank <= 1 THEN cnt ELSE 0 END) AS t1
         FROM sk_r)
SELECT 'volume' AS section, 'n_docs' AS metric,
       {SQL_Q4.format('n_docs')} AS v FROM a
UNION ALL SELECT 'volume', 'n_tokens', {SQL_Q4.format('n_tokens')} FROM a
UNION ALL SELECT 'volume', 'avg_chars', {SQL_Q4.format('avg_chars')} FROM a
UNION ALL SELECT 'dedup', 'exact_dup_rate',
       {SQL_Q4.format('1.0 - nd / n_docs')} FROM a
UNION ALL SELECT 'diversity', 'ttr',
       {SQL_Q4.format('types.nt / a.n_tokens')} FROM types, a
UNION ALL SELECT 'language', 'share_' || lang,
       {SQL_Q4.format('c / a.n_docs')} FROM langs, a
UNION ALL SELECT 'skew', 'source_gini',
       {SQL_Q4.format('2 * iw / (m * n) - (m + 1.0) / m')} FROM sk_t
UNION ALL SELECT 'skew', 'source_top1_share',
       {SQL_Q4.format('t1 / n')} FROM sk_t
"""


def psi_drift(spark, sf_dir):
    """PsiDrift: PSI of l_extendedprice between two halves of lineitem,
    the current half shifted ×1.1 — baseline-quantile bins, ε-floored
    shares, per-bin contributions.  exactQuantiles=True for bit-parity
    with quantile_cont (the sketch is the default 100 TB path)."""
    from ..llmdata import PsiDrift
    li = load(spark, sf_dir, "lineitem")
    baseline = li.filter(F.col("l_orderkey") % 2 == 0) \
        .select(F.col("l_extendedprice").alias("x"))
    current = li.filter(F.col("l_orderkey") % 2 == 1) \
        .select((F.col("l_extendedprice") * 1.1).alias("x"))
    out = PsiDrift(inputCol="x", numBins=10, exactQuantiles=True) \
        .transform(baseline, current)[0]
    return out.select("bin", q4(F.col("base_share")).alias("base_share"),
                      q4(F.col("cur_share")).alias("cur_share"),
                      q4(F.col("contrib")).alias("contrib"),
                      q4(F.col("psi")).alias("psi"))


PSI_DRIFT_SQL = f"""
WITH baseline AS (
  SELECT l_extendedprice AS x FROM lineitem WHERE l_orderkey % 2 = 0),
cur AS (
  SELECT l_extendedprice * 1.1 AS x FROM lineitem WHERE l_orderkey % 2 = 1),
e AS (SELECT quantile_cont(x, [{', '.join(str(i / 10) for i in range(1, 10))}])
      AS ed FROM baseline),
bb AS (SELECT bin, count(*) AS c FROM (
    SELECT list_aggregate(list_transform(e.ed,
        v -> CASE WHEN x > v THEN 1 ELSE 0 END), 'sum') AS bin
    FROM baseline, e) GROUP BY 1),
cc AS (SELECT bin, count(*) AS c FROM (
    SELECT list_aggregate(list_transform(e.ed,
        v -> CASE WHEN x > v THEN 1 ELSE 0 END), 'sum') AS bin
    FROM cur, e) GROUP BY 1),
bins AS (SELECT CAST(range AS INT) AS bin FROM range(10)),
j AS (SELECT bins.bin, coalesce(bb.c, 0) AS nb, coalesce(cc.c, 0) AS nc
      FROM bins LEFT JOIN bb ON bb.bin = bins.bin
                LEFT JOIN cc ON cc.bin = bins.bin),
t AS (SELECT CAST(sum(nb) AS DOUBLE) AS tb, CAST(sum(nc) AS DOUBLE) AS tc
      FROM j),
s AS (SELECT bin, nb / t.tb AS sb0, nc / t.tc AS sc0,
             GREATEST(nb / t.tb, 1e-6) AS sb,
             GREATEST(nc / t.tc, 1e-6) AS sc
      FROM j, t),
p AS (SELECT sum((sc - sb) * ln(sc / sb)) AS psi FROM s)
SELECT bin, {SQL_Q4.format('sb0')} AS base_share,
       {SQL_Q4.format('sc0')} AS cur_share,
       {SQL_Q4.format('(sc - sb) * ln(sc / sb)')} AS contrib,
       {SQL_Q4.format('p.psi')} AS psi
FROM s, p
"""


def key_skew(spark, sf_dir):
    """KeySkewProfiler over documents.source: per-key share/rank/cum
    plus Gini and top-k concentration — the pre-shuffle skew check."""
    from ..llmdata import KeySkewProfiler
    docs = load(spark, sf_dir, "documents")
    out = KeySkewProfiler(inputCol="source", topK=5).transform(docs)[0]
    return out.select("key", "cnt", q4(F.col("share")).alias("share"),
                      "rank", q4(F.col("cum_share")).alias("cum_share"),
                      q4(F.col("gini")).alias("gini"),
                      q4(F.col("top1_share")).alias("top1_share"),
                      q4(F.col("topk_share")).alias("topk_share"))


KEY_SKEW_SQL = f"""
WITH c AS (SELECT source AS key, count(*) AS cnt FROM documents GROUP BY 1),
r AS (SELECT key, cnt,
             row_number() OVER (ORDER BY cnt DESC, key) AS rank,
             row_number() OVER (ORDER BY cnt ASC, key) AS i,
             sum(cnt) OVER (ORDER BY cnt DESC, key
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM c),
t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n, count(*) AS m,
             sum(CAST(i AS DOUBLE) * cnt) AS iw,
             sum(CASE WHEN rank <= 1 THEN cnt ELSE 0 END) AS t1,
             sum(CASE WHEN rank <= 5 THEN cnt ELSE 0 END) AS tk
      FROM r)
SELECT r.key, r.cnt, {SQL_Q4.format('r.cnt / t.n')} AS share, r.rank,
       {SQL_Q4.format('r.cum / t.n')} AS cum_share,
       {SQL_Q4.format('2 * t.iw / (t.m * t.n) - (t.m + 1.0) / t.m')} AS gini,
       {SQL_Q4.format('t.t1 / t.n')} AS top1_share,
       {SQL_Q4.format('t.tk / t.n')} AS topk_share
FROM r, t
"""


def pagerank(spark, sf_dir):
    """PageRank over the order→part link graph (5 power iterations,
    d=0.85, dangling mass redistributed).  Oracle = exact iterative-CTE
    replay; ranks are scaled ×1000 before q4 so the hash checks 7
    decimal places of the ~1/n-sized values."""
    from ..llmdata import PageRank
    li = load(spark, sf_dir, "lineitem")
    edges = li.select((F.col("l_orderkey") % 500).alias("src"),
                      (F.col("l_partkey") % 500).alias("dst"))
    out = PageRank(maxIter=5).transform(edges)[0]
    return out.select("v", q4(F.col("rank") * 1000).alias("rk"))


def _pagerank_sql(iters: int = 5, mod: int = 500, d: float = 0.85) -> str:
    parts = [
        f"WITH edges AS MATERIALIZED (SELECT DISTINCT l_orderkey % {mod} "
        f"AS src, l_partkey % {mod} AS dst FROM lineitem)",
        "nodes AS MATERIALIZED (SELECT src AS v FROM edges "
        "UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM nodes)",
        "deg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg "
        "FROM edges GROUP BY src)",
        "dang AS MATERIALIZED (SELECT v FROM nodes "
        "WHERE v NOT IN (SELECT src FROM edges))",
        "r0 AS MATERIALIZED (SELECT v, 1.0 / nn.c AS r FROM nodes, nn)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"d{i} AS (SELECT coalesce(sum(r), 0.0) AS s FROM r{i - 1} "
            f"WHERE v IN (SELECT v FROM dang))")
        parts.append(
            f"m{i} AS (SELECT e.dst, sum(p.r / deg.deg) AS m FROM edges e "
            f"JOIN r{i - 1} p ON p.v = e.src JOIN deg ON deg.src = e.src "
            f"GROUP BY e.dst)")
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT nodes.v, "
            f"(1 - {d}) / nn.c + {d} * (coalesce(m.m, 0.0) + d{i}.s / nn.c) "
            f"AS r FROM nodes CROSS JOIN nn CROSS JOIN d{i} "
            f"LEFT JOIN m{i} m ON m.dst = nodes.v)")
    return (", ".join(parts)
            + f" SELECT v, CAST(ROUND((r * 1000) * 10000) AS BIGINT) AS rk "
              f"FROM r{iters}")


PAGERANK_SQL = _pagerank_sql()


def trustrank(spark, sf_dir):
    """Personalized PageRank / TrustRank: teleport restricted to seed
    nodes (v % 50 == 0) — trust flows from curated seeds; unreachable
    nodes rank 0.  Same iterative-CTE oracle shape as pagerank with a
    teleport-vector relation."""
    from ..llmdata import PageRank
    li = load(spark, sf_dir, "lineitem")
    edges = li.select((F.col("l_orderkey") % 500).alias("src"),
                      (F.col("l_partkey") % 500).alias("dst"))
    seeds = (edges.select(F.col("src").alias("v"))
             .union(edges.select(F.col("dst").alias("v"))).distinct()
             .filter(F.col("v") % 50 == 0))
    out = PageRank(maxIter=5).transform(edges, seeds)[0]
    return out.select("v", q4(F.col("rank") * 1000).alias("rk"))


def _trustrank_sql(iters: int = 5, mod: int = 500, d: float = 0.85) -> str:
    parts = [
        f"WITH edges AS MATERIALIZED (SELECT DISTINCT l_orderkey % {mod} "
        f"AS src, l_partkey % {mod} AS dst FROM lineitem)",
        "nodes AS MATERIALIZED (SELECT src AS v FROM edges "
        "UNION SELECT dst FROM edges)",
        "seeds AS MATERIALIZED (SELECT v FROM nodes WHERE v % 50 = 0)",
        "nsd AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM seeds)",
        "tvec AS MATERIALIZED (SELECT nodes.v, CASE WHEN s.v IS NOT NULL "
        "THEN 1.0 / nsd.c ELSE 0.0 END AS t "
        "FROM nodes CROSS JOIN nsd LEFT JOIN seeds s ON s.v = nodes.v)",
        "deg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg "
        "FROM edges GROUP BY src)",
        "dang AS MATERIALIZED (SELECT v FROM nodes "
        "WHERE v NOT IN (SELECT src FROM edges))",
        "r0 AS MATERIALIZED (SELECT v, t AS r FROM tvec)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"d{i} AS (SELECT coalesce(sum(r), 0.0) AS s FROM r{i - 1} "
            f"WHERE v IN (SELECT v FROM dang))")
        parts.append(
            f"m{i} AS (SELECT e.dst, sum(p.r / deg.deg) AS m FROM edges e "
            f"JOIN r{i - 1} p ON p.v = e.src JOIN deg ON deg.src = e.src "
            f"GROUP BY e.dst)")
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT tvec.v, "
            f"((1 - {d}) + {d} * d{i}.s) * tvec.t "
            f"+ {d} * coalesce(m.m, 0.0) AS r "
            f"FROM tvec CROSS JOIN d{i} "
            f"LEFT JOIN m{i} m ON m.dst = tvec.v)")
    return (", ".join(parts)
            + f" SELECT v, CAST(ROUND((r * 1000) * 10000) AS BIGINT) AS rk "
              f"FROM r{iters}")


TRUSTRANK_SQL = _trustrank_sql()


def hard_negatives(spark, sf_dir):
    """HardNegativeMiner: per anchor, top-k most-similar corpus vectors
    with a DIFFERENT label — IVF probe with the label-mismatch predicate
    applied before the top-k.  Oracle replays the IVF pipeline
    (_ivf_cells_parts) with labels joined into the candidate relation."""
    from ..llmdata import HardNegativeMiner
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding",
                        "label")
    anchors = emb.filter(F.col("vec_id") % 50 == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding", "label")
    out = HardNegativeMiner(nlist=8, maxIter=3, nprobe=2, k=5) \
        .transform(anchors, corpus)[0]
    return out.select("query_id", "corpus_id",
                      q4(F.col("cosine")).alias("cosine"), "rank")


def _hard_negatives_sql(nlist: int = 8, iters: int = 3, dim: int = 64,
                        nprobe: int = 2, k: int = 5) -> str:
    from .ml_queries import SQL_Q4  # noqa: F401  (q4 convention shared)
    parts, d2 = _ivf_cells_parts(nlist, iters, dim)
    nrm = ("sqrt(list_aggregate(list_transform(range(1, {d}), "
           "i -> {x}.v[i] * {x}.v[i]), 'sum'))")
    dot = (f"list_aggregate(list_transform(range(1, {dim + 1}), "
           f"i -> q.v[i] * t.v[i]), 'sum')")
    cos = (dot + " / (" + nrm.format(d=dim + 1, x="q") + " * "
           + nrm.format(d=dim + 1, x="t") + ")")
    parts.append(
        f"probes AS MATERIALIZED (SELECT vec_id AS query_id, p.v, cid AS "
        f"cell FROM (SELECT p.vec_id, p.v, c.cid, row_number() OVER ("
        f"PARTITION BY p.vec_id ORDER BY {d2}, c.cid) AS rn "
        f"FROM pts p CROSS JOIN c{iters} c WHERE p.vec_id % 50 = 0) p "
        f"WHERE rn <= {nprobe})")
    parts.append(
        f"scored AS (SELECT q.query_id, t.corpus_id, {cos} AS cosine "
        f"FROM probes q JOIN cells t ON q.cell = t.cell "
        f"JOIN embeddings lq ON lq.vec_id = q.query_id "
        f"JOIN embeddings lt ON lt.vec_id = t.corpus_id "
        f"WHERE lq.label IS DISTINCT FROM lt.label)")
    return (", ".join(parts)
            + f" SELECT query_id, corpus_id, "
              f"CAST(ROUND(cosine * 10000) AS BIGINT) AS cosine, rank FROM ("
              f"SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY "
              f"cosine DESC, corpus_id) AS rank FROM scored) WHERE rank <= {k}")


HARD_NEGATIVES_SQL = _hard_negatives_sql()


def negative_sampling(spark, sf_dir):
    """NegativeSampler: k deterministic uniform negatives per query from
    the documents corpus (bucketed-hash draw + argmin-unit pick, positives
    anti-joined).  LCG arithmetic is integer-exact, so the oracle replays
    every draw bit-for-bit."""
    from ..llmdata import NegativeSampler
    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("doc"))
    q = docs.filter(F.col("doc") % 50 == 0).select(F.col("doc").alias("query"))
    pos = q.select("query", F.explode(F.array(
        F.col("query"), F.col("query") + 1, F.col("query") + 2)).alias("doc"))
    out = NegativeSampler(queryCol="query", posCol="doc", docCol="doc",
                          k=5, margin=3, salt=7).transform(pos, docs)[0]
    return out.select("query", "negative", F.col("j").cast("int").alias("j"))


NEGATIVE_SAMPLING_SQL = """
WITH nb AS (SELECT GREATEST(1, count(*) // 64) AS b FROM documents),
d2 AS (SELECT doc_id AS doc,
              ((doc_id % 2147483648) * 2654435761 + 7) % 2147483648 AS h
       FROM documents),
docs AS (SELECT doc, h % nb.b AS bkt, h / 2147483648.0 AS du FROM d2, nb),
q AS (SELECT doc AS query FROM d2 WHERE doc % 50 = 0),
pos AS (SELECT query, query + g AS doc FROM q, generate_series(0, 2) s(g)),
qh AS (SELECT query, j,
              ((query % 2147483648) * 2654435761 + 7) % 2147483648 AS h1
       FROM q, generate_series(1, 8) s(j)),
qh2 AS (SELECT query, j,
               (((h1 + j) % 2147483648) * 2654435761 + 7) % 2147483648 AS h2
        FROM qh),
qv AS (SELECT query, j, h2 % nb.b AS bkt,
              (((h2 % 2147483648) * 2654435761 + 7) % 2147483648)
              / 2147483648.0 AS u
       FROM qh2, nb),
cand AS (SELECT qv.query, qv.j, docs.doc, abs(docs.du - qv.u) AS dist
         FROM qv JOIN docs USING (bkt)
         WHERE NOT EXISTS (SELECT 1 FROM pos
                           WHERE pos.query = qv.query AND pos.doc = docs.doc)),
picked AS (SELECT query, j, doc FROM (
  SELECT *, row_number() OVER (PARTITION BY query, j ORDER BY dist, doc) rn
  FROM cand) WHERE rn = 1),
dd AS (SELECT query, j, doc FROM (
  SELECT *, row_number() OVER (PARTITION BY query, doc ORDER BY j) rn
  FROM picked) WHERE rn = 1)
SELECT query, doc AS negative, CAST(j AS INT) AS j FROM (
  SELECT *, row_number() OVER (PARTITION BY query ORDER BY j) rk FROM dd)
WHERE rk <= 5
"""



# --- mergeable sketches (CMS / HLL) -----------------------------------------

def _mix31_cte(h_expr: str) -> str:
    """Stepwise SELECT list computing the 31-bit avalanche as lateral
    aliases x1..x5 (sketches.mix31_sql_steps)."""
    from ..llmdata.sketches import mix31_sql_steps
    return ", ".join(f"{e} AS x{i + 1}"
                     for i, e in enumerate(mix31_sql_steps(h_expr)))


def cms_token_freq(spark, sf_dir):
    """CountMinSketch point estimates for every distinct key of a
    high-cardinality skewed stream (orders by customer): the full
    depth x width counter state replays cell-by-cell in SQL, so the
    estimates (min over depth rows) are integer-exact cross-engine.
    Scale shape: fit is ONE map-side-combined groupBy whose output is
    sketch-sized; the estimate plan is a codegen literal-array lookup.
    (The documents vocabulary is only ~31 tokens — too small to
    exercise collisions, hence the key stream.)"""
    from ..llmdata import CountMinSketch
    orders = load(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_custkey").cast("string").alias("tok"))
    model = CountMinSketch(inputCol="tok", depth=4, width=512,
                           seed=SEED).fit(keys)
    model.set_(outputCol="est")
    return (model.transform(keys.distinct())[0]
            .select("tok", F.col("est").cast("long").alias("est")))


def _cms_sql(depth: int = 4, width: int = 512, seed: int = SEED) -> str:
    fam = _hash_family(depth, seed)
    cell = "(h * {a} + {b}) % {p} % {w}".format
    rows = " UNION ALL ".join(
        f"SELECT {i} AS i, {cell(a=a, b=b, p=MINHASH_PRIME, w=width)} AS "
        f"cell, count(*) AS cnt FROM mixed GROUP BY 2"
        for i, (a, b) in enumerate(fam))
    joins = "\n".join(
        f"JOIN cells c{i} ON c{i}.i = {i} AND c{i}.cell = "
        f"{cell(a=a, b=b, p=MINHASH_PRIME, w=width)}"
        for i, (a, b) in enumerate(fam))
    least = ", ".join(f"c{i}.cnt" for i in range(depth))
    return f"""
WITH toks AS (SELECT CAST(o_custkey AS VARCHAR) AS tok FROM orders),
mixed AS (SELECT tok, x5 AS h FROM (
  SELECT tok, {_mix31_cte('h0')}
  FROM (SELECT tok, {TOKHASH.format(t='tok')} AS h0 FROM toks))),
cells AS ({rows}),
keys AS (SELECT tok, any_value(h) AS h FROM mixed GROUP BY tok)
SELECT keys.tok AS tok, CAST(least({least}) AS BIGINT) AS est
FROM (SELECT tok, h FROM keys) keys
{joins}
"""


CMS_TOKEN_FREQ_SQL = _cms_sql()


def hll_registers(spark, sf_dir):
    """HyperLogLog register state over the token stream — the
    integer-exact, engine-checkable sketch artifact (bucket, max rank).
    The estimate itself is driver arithmetic over these registers
    (tests pin it within the 1.04/sqrt(m) bound); what the oracle gates
    is that BOTH engines derive identical registers from the corpus."""
    from ..llmdata import HyperLogLogSketch
    orders = load(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_custkey").cast("string").alias("tok"))
    m = HyperLogLogSketch(inputCol="tok", precision=9).fit(keys)
    return m.registers_df(spark)


HLL_REGISTERS_SQL = f"""
WITH toks AS (SELECT CAST(o_custkey AS VARCHAR) AS tok FROM orders),
mixed AS (SELECT x5 AS h FROM (
  SELECT {_mix31_cte('h0')}
  FROM (SELECT {TOKHASH.format(t='tok')} AS h0 FROM toks)))
SELECT CAST(h % 512 AS INTEGER) AS bucket,
       CAST(max(CASE WHEN (h >> 9) = 0 THEN 23
                ELSE 23 - length(format('{{:b}}', h >> 9)) END)
            AS INTEGER) AS r
FROM mixed GROUP BY 1
"""


def cooccurrence(spark, sf_dir):
    """Windowed token co-occurrence with exact association lift
    (PMI's argument): pair counts are integers and lift is ONE
    division of exact integer products, so q4 is bit-stable
    cross-engine (no transcendental in the contract — PMI's log is
    monotone in lift)."""
    from ..llmdata import CooccurrenceCounter
    docs = load(spark, sf_dir, "documents")
    out = CooccurrenceCounter(inputCol="text", windowSize=2,
                              minCount=2).transform(docs)[0]
    return out.select("w1", "w2", "cnt", "cnt_w1", "cnt_w2",
                      q4(F.col("lift")).alias("lift_q4"))


def _cooccurrence_sql(k: int = 2, min_count: int = 2) -> str:
    per_offset = " UNION ALL ".join(
        f"SELECT unnest(list_transform(range(1, len(tk) - {d} + 1), "
        f"i -> [least(tk[i], tk[i+{d}]), greatest(tk[i], tk[i+{d}])])) "
        f"AS pr FROM base WHERE len(tk) > {d}"
        for d in range(1, k + 1))
    return f"""
WITH base AS (SELECT {TOKS} AS tk FROM documents),
pairs AS ({per_offset}),
cnts AS (SELECT pr[1] AS w1, pr[2] AS w2, count(*) AS cnt
         FROM pairs GROUP BY 1, 2 HAVING count(*) >= {min_count}),
uni AS (SELECT unnest(tk) AS w FROM base),
uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
tot AS (SELECT count(*) AS t FROM uni)
SELECT cnts.w1 AS w1, cnts.w2 AS w2, cnt,
       u1.c AS cnt_w1, u2.c AS cnt_w2,
       {SQL_Q4.format("CAST(cnt * tot.t AS DOUBLE) / "
                      "CAST(u1.c * u2.c AS DOUBLE)")} AS lift_q4
FROM cnts
JOIN uc u1 ON u1.w = cnts.w1
JOIN uc u2 ON u2.w = cnts.w2
CROSS JOIN tot
"""


COOCCURRENCE_SQL = _cooccurrence_sql()


def keyword_textrank(spark, sf_dir):
    """TextRank keyword scores (Mihalcea & Tarau 2004): PageRank over
    the word co-occurrence graph — a pure composition of two repo
    operators (CooccurrenceCounter edges -> PageRank), oracle-replayed
    end-to-end (co-occurrence CTE feeding the iterative-CTE PageRank).
    Self-loops dropped per the paper's graph construction."""
    from ..llmdata import CooccurrenceCounter, PageRank
    docs = load(spark, sf_dir, "documents")
    pairs = (CooccurrenceCounter(inputCol="text", windowSize=2,
                                 minCount=2).transform(docs)[0]
             .filter(F.col("w1") != F.col("w2")))
    edges = (pairs.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
             .union(pairs.select(F.col("w2").alias("src"),
                                 F.col("w1").alias("dst"))))
    out = PageRank(maxIter=5).transform(edges)[0]
    return out.select(F.col("v").alias("word"),
                      q4(F.col("rank") * 1000).alias("rk"))


def _keyword_textrank_sql(iters: int = 5, k: int = 2,
                          min_count: int = 2, d: float = 0.85) -> str:
    per_offset = " UNION ALL ".join(
        f"SELECT unnest(list_transform(range(1, len(tk) - {dd} + 1), "
        f"i -> [least(tk[i], tk[i+{dd}]), greatest(tk[i], tk[i+{dd}])])) "
        f"AS pr FROM base WHERE len(tk) > {dd}"
        for dd in range(1, k + 1))
    parts = [
        f"WITH base AS (SELECT {TOKS} AS tk FROM documents)",
        f"cpairs AS (SELECT pr[1] AS w1, pr[2] AS w2 FROM ({per_offset}) "
        f"GROUP BY 1, 2 HAVING count(*) >= {min_count})",
        "edges AS MATERIALIZED (SELECT w1 AS src, w2 AS dst FROM cpairs "
        "WHERE w1 <> w2 UNION SELECT w2, w1 FROM cpairs WHERE w1 <> w2)",
        "nodes AS MATERIALIZED (SELECT src AS v FROM edges "
        "UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM nodes)",
        "deg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg "
        "FROM edges GROUP BY src)",
        "dang AS MATERIALIZED (SELECT v FROM nodes "
        "WHERE v NOT IN (SELECT src FROM edges))",
        "r0 AS MATERIALIZED (SELECT v, 1.0 / nn.c AS r FROM nodes, nn)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"d{i} AS (SELECT coalesce(sum(r), 0.0) AS s FROM r{i - 1} "
            f"WHERE v IN (SELECT v FROM dang))")
        parts.append(
            f"m{i} AS (SELECT e.dst, sum(p.r / deg.deg) AS m FROM edges e "
            f"JOIN r{i - 1} p ON p.v = e.src JOIN deg ON deg.src = e.src "
            f"GROUP BY e.dst)")
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT nodes.v, "
            f"(1 - {d}) / nn.c + {d} * (coalesce(m.m, 0.0) + d{i}.s / nn.c) "
            f"AS r FROM nodes CROSS JOIN nn CROSS JOIN d{i} "
            f"LEFT JOIN m{i} m ON m.dst = nodes.v)")
    return (", ".join(parts)
            + f" SELECT v AS word, CAST(ROUND((r * 1000) * 10000) AS BIGINT)"
              f" AS rk FROM r{iters}")


KEYWORD_TEXTRANK_SQL = _keyword_textrank_sql()


def cms_heavy_hitters(spark, sf_dir):
    """The two-pass heavy-hitter pattern CMS exists for at scale: pass
    1 sketches the stream (bounded state), pass 2 gates every row
    MAP-SIDE on its broadcast-lookup CMS estimate (CMS never
    underestimates, so recall is exact — no true heavy hitter is
    dropped) and the exact groupBy shuffles ONLY the candidate rows
    (r10: the former keys.distinct() + broadcast-join candidate pass
    was a second full-cardinality shuffle; the row-level gate removes
    it — identical verified set).  Output is the verified heavy-hitter
    relation (integer-exact)."""
    from ..llmdata import CountMinSketch
    li = load(spark, sf_dir, "lineitem")
    keys = li.select(F.col("l_partkey").cast("string").alias("tok"))
    model = CountMinSketch(inputCol="tok", depth=4, width=256,
                           seed=SEED).fit(keys)
    model.set_(outputCol="est")
    thresh = 40
    exact = (model.transform(keys)[0]
             .filter(F.col("est") >= thresh)
             .groupBy("tok").count()
             .withColumnRenamed("count", "cnt")
             .filter(F.col("cnt") >= thresh))
    return exact.select("tok", "cnt")


def _cms_heavy_hitters_sql(depth: int = 4, width: int = 256,
                           seed: int = SEED, thresh: int = 40) -> str:
    fam = _hash_family(depth, seed)
    cell = "(h * {a} + {b}) % {p} % {w}".format
    rows = " UNION ALL ".join(
        f"SELECT {i} AS i, {cell(a=a, b=b, p=MINHASH_PRIME, w=width)} AS "
        f"cell, count(*) AS cnt FROM mixed GROUP BY 2"
        for i, (a, b) in enumerate(fam))
    joins = "\n".join(
        f"JOIN cells c{i} ON c{i}.i = {i} AND c{i}.cell = "
        f"{cell(a=a, b=b, p=MINHASH_PRIME, w=width)}"
        for i, (a, b) in enumerate(fam))
    least = ", ".join(f"c{i}.cnt" for i in range(depth))
    return f"""
WITH toks AS (SELECT CAST(l_partkey AS VARCHAR) AS tok FROM lineitem),
mixed AS (SELECT tok, x5 AS h FROM (
  SELECT tok, {_mix31_cte('h0')}
  FROM (SELECT tok, {TOKHASH.format(t='tok')} AS h0 FROM toks))),
cells AS ({rows}),
keys AS (SELECT tok, any_value(h) AS h FROM mixed GROUP BY tok),
cand AS (SELECT keys.tok FROM (SELECT tok, h FROM keys) keys
         {joins}
         WHERE least({least}) >= {thresh})
SELECT t.tok AS tok, count(*) AS cnt FROM toks t
JOIN cand ON cand.tok = t.tok
GROUP BY 1 HAVING count(*) >= {thresh}
"""


CMS_HEAVY_HITTERS_SQL = _cms_heavy_hitters_sql()


def llm_prep_pipeline_v15(spark, sf_dir):
    """Corpus-prep v15 — boilerplate-line removal: every line that
    appears at least ``minCount`` times across pages is stripped from
    every page.  ``FrequentLineFilter.fit`` is one exact JVM-side line
    count (map-side partial aggregation collapses the repeated lines),
    so the oracle is the same plain exact-count SQL.  A CountMinSketch
    gate used to run before that count; hashing every line in Python
    twice cost more than the exact pass it was meant to shrink, and it
    never changed the drop set, so it was removed."""
    from ..llmdata import FrequentLineFilter
    docs = load(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat_ws("\n", F.col("text"), F.lit(_BOILER1), F.lit(_BOILER2),
                    F.substring("text", 1, 40)).alias("page"))
    m = FrequentLineFilter(idCol="doc_id", textCol="page",
                           outputCol="clean", minCount=100).fit(pages)
    out = m.transform(pages)[0]
    kept = F.split(F.col("clean"), "\n")
    return out.select("doc_id",
                      F.size(kept).cast("int").alias("n_kept"),
                      F.sha2(F.col("clean"), 256).alias("clean_sha"))


LLM_PREP_V15_SQL = f"""
WITH pages AS (SELECT doc_id,
                      text || chr(10) || '{_BOILER1}' || chr(10) ||
                      '{_BOILER2}' || chr(10) || substr(text, 1, 40)
                      AS page
               FROM documents),
arrs AS (SELECT doc_id, string_split(page, chr(10)) AS arr FROM pages),
lines AS (SELECT doc_id, gs.i AS pos, arr[gs.i + 1] AS ln
          FROM arrs, unnest(generate_series(0, len(arr) - 1)) AS gs(i)),
boiler AS (SELECT ln FROM lines GROUP BY ln HAVING count(*) >= 100),
kept AS (SELECT doc_id, pos, ln FROM lines
         WHERE ln NOT IN (SELECT ln FROM boiler)),
re AS (SELECT doc_id, count(*) AS n_kept,
              string_agg(ln, chr(10) ORDER BY pos) AS clean
       FROM kept GROUP BY doc_id)
SELECT doc_id, CAST(n_kept AS INTEGER) AS n_kept,
       sha256(clean) AS clean_sha
FROM re
"""


def gif_frame_sample(spark, sf_dir):
    """REAL motion-container frame sampling: per-doc 4-frame animated
    GIFs (solid algebraic colors per frame), decoded + evenly sampled
    (2 of 4) by GifFrameSampler's fused decode+reduce pass.  Solid
    frames make the sampled means ALGEBRAIC, so the oracle replays
    frame indices, start timestamps (constant 100 ms delays) and
    channel means exactly."""
    import numpy as np
    import pandas as pd
    from ..llmdata import GifFrameSampler

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from ..llmdata.codecs import encode_gif_animation
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                frames = []
                for f in range(4):
                    rgb = np.array([(d + 17 * f) % 256,
                                    (2 * d + 31 * f) % 256,
                                    (3 * d + 7 * f) % 256], dtype=np.uint8)
                    frames.append(np.ascontiguousarray(
                        np.broadcast_to(rgb, (8, 8, 3))))
                payloads.append(encode_gif_animation(frames))
            yield pdf.assign(payload=payloads)

    media = docs.mapInPandas(synth, "doc_id long, payload binary")
    out = GifFrameSampler(idCol="doc_id", inputCol="payload",
                          numFrames=2).transform(media)[0]
    return out.select("doc_id", "frame_idx", "ts_ms",
                      q4(F.col("r_mean")).alias("r"),
                      q4(F.col("g_mean")).alias("g"),
                      q4(F.col("b_mean")).alias("b"))


GIF_FRAME_SAMPLE_SQL = f"""
WITH f AS (SELECT doc_id, unnest([0, 2]) AS frame_idx FROM documents)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(frame_idx * 100 AS BIGINT) AS ts_ms,
       {SQL_Q4.format("CAST((doc_id + 17 * frame_idx) % 256 AS DOUBLE)")}
       AS r,
       {SQL_Q4.format("CAST((2 * doc_id + 31 * frame_idx) % 256 AS DOUBLE)")}
       AS g,
       {SQL_Q4.format("CAST((3 * doc_id + 7 * frame_idx) % 256 AS DOUBLE)")}
       AS b
FROM f
"""


def filter_agreement_kappa(spark, sf_dir):
    """Cohen's kappa between two heuristic quality gates (char-length vs
    token-count) — the chance-corrected agreement scorecard for
    annotation/filter pipelines.  Integer contingency + fixed-order
    divisions -> q4-stable kappa."""
    from ..stats import CohenKappaTest
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    df = docs.select((F.col("n_chars") > 150).cast("int").alias("a"),
                     (F.size(toks) > 25).cast("int").alias("b"))
    out = CohenKappaTest(aCol="a", bCol="b").transform(df)[0]
    return out.select("n", "agree", q4(F.col("kappa")).alias("kappa_q4"))


FILTER_KAPPA_SQL = f"""
WITH r AS (SELECT CASE WHEN n_chars > 150 THEN 1 ELSE 0 END AS a,
                  CASE WHEN len({TOKS}) > 25 THEN 1 ELSE 0 END AS b
           FROM documents),
c AS (SELECT a, b, count(*) AS c FROM r GROUP BY 1, 2),
m AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
             AS agree FROM c),
rws AS (SELECT a AS k, sum(c) AS rc FROM c GROUP BY 1),
cls AS (SELECT b AS k, sum(c) AS cc FROM c GROUP BY 1),
ch AS (SELECT CAST(COALESCE(sum(rc * cc), 0) AS BIGINT) AS chance
       FROM rws JOIN cls USING (k))
SELECT n, agree,
       {SQL_Q4.format(
           "(CAST(agree AS DOUBLE) / n - CAST(chance AS DOUBLE) / (n * n))"
           " / (1.0 - CAST(chance AS DOUBLE) / (n * n))")} AS kappa_q4
FROM m, ch
"""


def hll_by_group(spark, sf_dir):
    """Grouped HLL registers: distinct customers PER ORDER PRIORITY in
    one map-side-combined pass — the bounded-state grouped
    distinct-count a corpus datasheet wants (vs an exact count-distinct
    whose state is key-proportional per group).  Register relation is
    integer-exact; estimates/merges ride HyperLogLogSketchModel."""
    from ..llmdata import hll_grouped_registers
    orders = load(spark, sf_dir, "orders")
    df = orders.select("o_orderpriority",
                       F.col("o_custkey").cast("string").alias("tok"))
    return hll_grouped_registers(df, "o_orderpriority", "tok",
                                 precision=7).select(
        F.col("group").alias("grp"), "bucket", "r")


HLL_BY_GROUP_SQL = f"""
WITH toks AS (SELECT o_orderpriority AS grp,
                     CAST(o_custkey AS VARCHAR) AS tok FROM orders),
mixed AS (SELECT grp, x5 AS h FROM (
  SELECT grp, {_mix31_cte('h0')}
  FROM (SELECT grp, {TOKHASH.format(t='tok')} AS h0 FROM toks)))
SELECT grp, CAST(h % 128 AS INTEGER) AS bucket,
       CAST(max(CASE WHEN (h >> 7) = 0 THEN 25
                ELSE 25 - length(format('{{:b}}', h >> 7)) END)
            AS INTEGER) AS r
FROM mixed GROUP BY 1, 2
"""

QUERIES = {
    "hll_by_group": (hll_by_group, HLL_BY_GROUP_SQL),
    "filter_agreement_kappa": (filter_agreement_kappa, FILTER_KAPPA_SQL),
    "gif_frame_sample": (gif_frame_sample, GIF_FRAME_SAMPLE_SQL),
    "llm_prep_pipeline_v15": (llm_prep_pipeline_v15, LLM_PREP_V15_SQL),
    "cms_heavy_hitters": (cms_heavy_hitters, CMS_HEAVY_HITTERS_SQL),
    "keyword_textrank": (keyword_textrank, KEYWORD_TEXTRANK_SQL),
    "cooccurrence": (cooccurrence, COOCCURRENCE_SQL),
    "cms_token_freq": (cms_token_freq, CMS_TOKEN_FREQ_SQL),
    "hll_registers": (hll_registers, HLL_REGISTERS_SQL),
    "html_extract": (html_extract, HTML_EXTRACT_SQL),
    "llm_prep_pipeline_v9": (llm_prep_pipeline_v9, LLM_PREP_V9_SQL),
    "incremental_dedup_bloom": (incremental_dedup_bloom,
                                INCREMENTAL_DEDUP_BLOOM_SQL),
    "diversity_profile": (diversity_profile, DIVERSITY_PROFILE_SQL),
    "hybrid_retrieval": (hybrid_retrieval, HYBRID_RETRIEVAL_SQL),
    "bm25_incremental": (bm25_incremental, BM25_RETRIEVAL_SQL),
    "mutual_information": (mutual_information, MUTUAL_INFORMATION_SQL),
    "calibration_eval": (calibration_eval, CALIBRATION_EVAL_SQL),
    "isotonic_calibration": (isotonic_calibration, ISOTONIC_CALIBRATION_SQL),
    "metric_anomaly": (metric_anomaly, METRIC_ANOMALY_SQL),
    "llm_prep_pipeline_v10": (llm_prep_pipeline_v10, LLM_PREP_V10_SQL),
    "llm_prep_pipeline_v11": (llm_prep_pipeline_v11, LLM_PREP_V11_SQL),
    "curriculum_order": (curriculum_order, CURRICULUM_ORDER_SQL),
    "negative_sampling": (negative_sampling, NEGATIVE_SAMPLING_SQL),
    "hard_negatives": (hard_negatives, HARD_NEGATIVES_SQL),
    "pagerank": (pagerank, PAGERANK_SQL),
    "trustrank": (trustrank, TRUSTRANK_SQL),
    "key_skew": (key_skew, KEY_SKEW_SQL),
    "psi_drift": (psi_drift, PSI_DRIFT_SQL),
    "corpus_datasheet": (corpus_datasheet, CORPUS_DATASHEET_SQL),
    "weighted_sample": (weighted_sample, WEIGHTED_SAMPLE_SQL),
    "keyness": (keyness, KEYNESS_SQL),
    "fuzzy_join": (fuzzy_join, FUZZY_JOIN_SQL),
    "frequent_itemsets": (frequent_itemsets, FREQUENT_ITEMSETS_SQL),
    "llm_prep_pipeline_v13": (llm_prep_pipeline_v13, LLM_PREP_V13_SQL),
    "llm_prep_pipeline_v14": (llm_prep_pipeline_v14, LLM_PREP_V14_SQL),
    "assoc_rules": (assoc_rules, ASSOC_RULES_SQL),
    "vocab_growth": (vocab_growth, VOCAB_GROWTH_SQL),
    "llm_prep_pipeline_v12": (llm_prep_pipeline_v12, LLM_PREP_V12_SQL),
    "c4_line_filter": (c4_line_filter, C4_LINE_FILTER_SQL),
    "url_normalize": (url_normalize, URL_NORMALIZE_SQL),
    "word_blocklist": (word_blocklist, WORD_BLOCKLIST_SQL),
    "dup_spans": (dup_spans, DUP_SPANS_SQL),
    "dup_span_removal": (dup_span_removal, DUP_SPAN_REMOVAL_SQL),
    "bm25_scoring": (bm25_scoring, BM25_SQL),
    "embedding_quantize": (embedding_quantize, EMBEDDING_QUANTIZE_SQL),
    "document_chunking": (document_chunking, DOCUMENT_CHUNKING_SQL),
    "llm_prep_pipeline": (llm_prep_pipeline, LLM_PREP_SQL),
    "llm_prep_pipeline_v2": (llm_prep_pipeline_v2, LLM_PREP_V2_SQL),
    "exact_dedup": (exact_dedup, EXACT_DEDUP_SQL),
    "snapshot_diff": (snapshot_diff, SNAPSHOT_DIFF_SQL),
    "decontamination": (decontamination, DECONTAMINATION_SQL),
    "contamination_score": (contamination_score, CONTAMINATION_SCORE_SQL),
    "ann_ivf": (ann_ivf, ANN_IVF_SQL),
    "ann_recall": (ann_recall, ANN_RECALL_SQL),
    "ann_ivf_pq": (ann_ivf_pq, ANN_IVF_PQ_SQL),
    "semantic_dedup": (semantic_dedup, SEMANTIC_DEDUP_SQL),
    "media_pipeline": (media_pipeline, MEDIA_PIPELINE_SQL),
    "media_codec_pipeline": (media_codec_pipeline, MEDIA_CODEC_SQL),
    "minhash_signature": (minhash_signature, MINHASH_SQL),
    "minhash_dedup": (minhash_dedup, MINHASH_DEDUP_SQL),
    "minhash_join_skewsafe": (minhash_join_skewsafe, MINHASH_DEDUP_SQL),
    "quality_classifier": (quality_classifier, QUALITY_CLASSIFIER_SQL),
    "llm_prep_pipeline_v5": (llm_prep_pipeline_v5, LLM_PREP_V5_SQL),
    "llm_prep_pipeline_v6": (llm_prep_pipeline_v6, LLM_PREP_V6_SQL),
    "incremental_dedup": (incremental_dedup, INCREMENTAL_DEDUP_SQL),
    "incremental_dedup_bucketed": (incremental_dedup_bucketed,
                                   INCREMENTAL_DEDUP_SQL),
    "dup_clusters": (dup_clusters, DUP_CLUSTERS_SQL),
    "dup_keep_best": (dup_keep_best, DUP_KEEP_BEST_SQL),
    "ngram_jaccard_dedup": (ngram_jaccard_dedup, NGRAM_JACCARD_SQL),
    "dedup_recall": (dedup_recall, DEDUP_RECALL_SQL),
    "simhash_dedup": (simhash_dedup, SIMHASH_SQL),
    "embedding_dedup": (embedding_dedup, EMBEDDING_DEDUP_SQL),
    "embedding_dedup_lsh": (embedding_dedup_lsh, EMBEDDING_DEDUP_LSH_SQL),
    "ann_bruteforce": (ann_bruteforce, ANN_SQL),
    "repetition_quality": (repetition_quality, REPETITION_SQL),
    "text_normalize": (text_normalize, TEXT_NORMALIZE_SQL),
    "corpus_stats": (corpus_stats, CORPUS_STATS_SQL),
    "pii_redaction": (pii_redaction, PII_SQL),
    "pii_ccnum": (pii_ccnum, PII_CCNUM_SQL),
    "domain_mixture": (domain_mixture, DOMAIN_MIXTURE_SQL),
    "stratified_budget": (stratified_budget, STRATIFIED_BUDGET_SQL),
    "dsir_select": (dsir_select, DSIR_SELECT_SQL),
    "dsir_bigram": (dsir_bigram, DSIR_BIGRAM_SQL),
    "token_drift": (token_drift, TOKEN_DRIFT_SQL),
    "llm_prep_pipeline_v7": (llm_prep_pipeline_v7, LLM_PREP_V7_SQL),
    "embedding_drift": (embedding_drift, EMBEDDING_DRIFT_SQL),
    "corpus_shuffle": (corpus_shuffle, CORPUS_SHUFFLE_SQL),
    "bpe_tokenize": (bpe_tokenize, None),
    "bpe_encode": (bpe_encode, BPE_ENCODE_SQL),
    "sequence_packing": (sequence_packing, SEQUENCE_PACKING_SQL),
    "language_id": (language_id, LANGUAGE_ID_SQL),
    "text_quality": (text_quality, TEXT_QUALITY_SQL),
    "char_entropy": (char_entropy, CHAR_ENTROPY_SQL),
    "gopher_filter": (gopher_filter, GOPHER_FILTER_SQL),
    "temperature_mixture": (temperature_mixture, TEMPERATURE_MIXTURE_SQL),
    "unigram_lm_score": (unigram_lm_score, UNIGRAM_LM_SQL),
    "bigram_lm_score": (bigram_lm_score, BIGRAM_LM_SQL),
    "llm_prep_pipeline_v3": (llm_prep_pipeline_v3, LLM_PREP_V3_SQL),
    "llm_prep_pipeline_v4": (llm_prep_pipeline_v4, LLM_PREP_V4_SQL),
    "line_dedup": (line_dedup, LINE_DEDUP_SQL),
    "ngram_profile": (ngram_profile, NGRAM_PROFILE_SQL),
    "pca_whiten": (pca_whiten, PCA_WHITEN_SQL),
    "token_count": (token_count, TOKEN_COUNT_SQL),
    "fingerprint": (fingerprint, FINGERPRINT_SQL),
    "data_profile": (data_profile, DATA_PROFILE_SQL),
    "constraint_suggest": (constraint_suggest, CONSTRAINT_SUGGEST_SQL),
    "constraint_gate": (constraint_gate, CONSTRAINT_GATE_SQL),
    "profile_drift": (profile_drift, PROFILE_DRIFT_SQL),
    "frequent_items": (frequent_items, FREQUENT_ITEMS_SQL),
    "profile_quantiles": (profile_quantiles, PROFILE_QUANTILES_SQL),
    "bm25_retrieval": (bm25_retrieval, BM25_RETRIEVAL_SQL),
    "profile_by_source": (profile_by_source, PROFILE_BY_SOURCE_SQL),
    "llm_prep_pipeline_v8": (llm_prep_pipeline_v8, LLM_PREP_V8_SQL),
    "retrieval_eval": (retrieval_eval, RETRIEVAL_EVAL_SQL),
    "bm25_indexed": (bm25_indexed, BM25_RETRIEVAL_SQL),
}
