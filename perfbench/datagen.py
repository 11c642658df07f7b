"""Seeded input generators owned by the benchmark.

Every generator is a pure function of ``(seed, size)`` built on numpy's
PCG64 stream, so the same seed gives byte-identical inputs.  Each returns
the input table(s) as pandas frames plus the *planted truth* the output
checks compare against (which lines are boilerplate, which docs are clones,
which pairs are near-duplicates, which doc answers each query).
The program under test only ever sees the tables.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

_SHIPMODES = np.array(["AIR", "REG AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"])
_INSTRUCT = np.array(["DELIVER IN PERSON", "COLLECT COD", "NONE",
                      "TAKE BACK RETURN"])
_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["O", "F"])

TABULAR_STRING = ["l_returnflag", "l_shipmode", "l_shipinstruct"]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def tabular(seed: int, n: int) -> pd.DataFrame:
    """A lineitem-shaped table (TPC-H column names and domains) with seeded
    nulls in three numeric columns and a seeded binary label that depends on
    both numeric and categorical columns (so the fitted model is not
    trivial and the AUC is well inside (0.5, 1))."""
    r = _rng(seed, 1)
    qty = r.integers(1, 51, n).astype(float)
    price = np.round(qty * r.uniform(900.0, 2100.0, n), 2)
    disc = r.integers(0, 11, n) / 100.0
    tax = r.integers(0, 9, n) / 100.0
    flag = _FLAGS[r.integers(0, 3, n)]
    mode = _SHIPMODES[r.integers(0, len(_SHIPMODES), n)]
    instr = _INSTRUCT[r.integers(0, len(_INSTRUCT), n)]
    status = _STATUS[r.integers(0, 2, n)]
    z = (1.2 * (disc - 0.05) / 0.03 - 0.8 * (qty - 25.5) / 14.4
         + 0.7 * np.isin(mode, ["AIR", "REG AIR"]) + 0.5 * (flag == "R")
         - 0.4 * (instr == "NONE") + r.normal(0.0, 1.2, n))
    label = (z > 0.3).astype(float)
    df = pd.DataFrame({
        "l_orderkey": np.arange(n, dtype=np.int64),
        "l_quantity": qty, "l_extendedprice": price, "l_discount": disc,
        "l_tax": tax, "l_returnflag": flag, "l_linestatus": status,
        "l_shipmode": mode, "l_shipinstruct": instr, "label": label})
    for c, share in (("l_quantity", 0.05), ("l_extendedprice", 0.03),
                     ("l_discount", 0.05)):
        df.loc[r.random(n) < share, c] = np.nan
    return df


# ---------------------------------------------------------------- corpus

_BOILERPLATE = [
    "we use cookies to improve your experience accept all cookies to continue",
    "all rights reserved redistribution of this page requires written consent",
    "home about contact privacy policy terms of service sitemap careers",
]
_HOT_SHARE = 0.70        # share of docs from the hot domain
_BOILER_SHARE = 0.30     # share of docs carrying a boilerplate line
_CLONE_SHARE = 0.05      # share of docs that are exact clones of another doc
_NEARDUP_SHARE = 0.02    # share of docs that are one-word edits of another
_LISTING_SHARE = 0.05    # templated listing pages (a hot MinHash bucket)
_COLD_DOMAINS = 9


@dataclass
class Corpus:
    docs: pd.DataFrame            # id, text
    clean: np.ndarray             # expected text after line filtering
    boilerplate: list             # every planted frequent line
    clone_ids: np.ndarray         # ids that exact dedup must remove
    neardup_pairs: set            # (id_a, id_b) pairs MinHash must find


def _pick(r: np.random.Generator, n: int, share: float) -> np.ndarray:
    """A mask of exactly round(share * n) random rows."""
    return r.permutation(n) < round(share * n)


def _words(r: np.random.Generator, vocab: int, shape) -> np.ndarray:
    return r.integers(0, vocab, shape)


def corpus(seed: int, n: int, vocab: int = 20000) -> Corpus:
    """A hostile web corpus.  Every doc starts with its site's header line
    (70% of docs share the hot domain's header); 30% carry one of three
    boilerplate lines; 5% are whole-document clones of an earlier doc;
    2% are one-word edits of an earlier doc (planted near-dup pairs); 5%
    are one-line templated listing pages whose shared shingles form hot
    MinHash buckets.  Content lines are random words, so no content line
    repeats except through clones and near-dups."""
    r = _rng(seed, 2)
    lines_per_doc, words_per_line = 4, 20
    toks = _words(r, vocab, (n, lines_per_doc, words_per_line))
    # shares are exact (random rows, round-robin values), so every planted
    # line is frequent at every corpus size
    listing = _pick(r, n, _LISTING_SHARE)
    domain = np.zeros(n, dtype=np.int64)
    cold = np.flatnonzero(~_pick(r, n, _HOT_SHARE))
    domain[cold] = 1 + np.arange(len(cold)) % _COLD_DOMAINS
    boiler = np.full(n, -1)
    with_boiler = np.flatnonzero(_pick(r, n, _BOILER_SHARE))
    boiler[with_boiler] = np.arange(len(with_boiler)) % len(_BOILERPLATE)
    # clones / near-dups copy an earlier plain doc (never a listing page,
    # clone or near-dup, so the truth sets stay disjoint and exact)
    role = np.zeros(n, dtype=np.int8)               # 0 plain, 1 clone, 2 near-dup
    u = r.random(n)
    role[(u < _CLONE_SHARE) & ~listing] = 1
    role[(u >= _CLONE_SHARE) & (u < _CLONE_SHARE + _NEARDUP_SHARE) & ~listing] = 2
    role[:8] = 0                                    # sources exist before any copy
    plain = np.flatnonzero((role == 0) & ~listing)
    src = np.full(n, -1)
    for i in np.flatnonzero(role > 0):
        cands = plain[plain < i]
        src[i] = cands[r.integers(0, len(cands))]
    headers = [f"site news{d}.example.org latest stories and updates"
               for d in range(_COLD_DOMAINS + 1)]
    texts, cleans = [], []
    neardup_pairs = set()
    edit_pos = r.integers(5, words_per_line - 5, n)
    edit_line = r.integers(0, lines_per_doc, n)
    edit_word = _words(r, vocab, n) + vocab          # never collides with vocab
    boiler_pos = r.integers(0, lines_per_doc + 1, n)
    for i in range(n):
        if role[i] == 1:                             # exact clone
            texts.append(texts[src[i]])
            cleans.append(cleans[src[i]])
            continue
        if listing[i]:
            # 4 of the 5 shingles are shared by every listing page (a hot
            # band bucket) but two pages' Jaccard is 4/6, below the 0.7
            # near-dup threshold
            body = [f"catalogue listing page for this item w{2 * vocab + i}"]
        else:
            t = toks[src[i]] if role[i] == 2 else toks[i]
            if role[i] == 2:
                t = t.copy()
                t[edit_line[i], edit_pos[i]] = edit_word[i]
                neardup_pairs.add((int(src[i]), i))
            body = [" ".join(f"w{w}" for w in ln) for ln in t]
        lines = list(body)
        if boiler[i] >= 0:
            lines.insert(min(boiler_pos[i], len(lines)), _BOILERPLATE[boiler[i]])
        texts.append("\n".join([headers[domain[i]]] + lines))
        cleans.append("\n".join(body))
    docs = pd.DataFrame({"id": np.arange(n, dtype=np.int64), "text": texts})
    return Corpus(docs=docs, clean=np.array(cleans, dtype=object),
                  boilerplate=sorted(headers + _BOILERPLATE),
                  clone_ids=np.flatnonzero(role == 1),
                  neardup_pairs=neardup_pairs)


# ------------------------------------------------------------- retrieval

@dataclass
class RetrievalData:
    docs: pd.DataFrame           # doc_id, text, embedding
    emb: np.ndarray              # (n, dim) float64, same values as docs
    source: np.ndarray           # source[i] = i, or the doc i was cloned from
    n_base: int                  # docs [0, n_base) are indexed by fit


def retrieval(seed: int, n: int, dim: int = 32, clusters: int = 16,
              vocab: int = 30000, base_share: float = 0.8) -> RetrievalData:
    """Docs with random-word text and embeddings drawn around planted
    cluster centres.  5% of docs are clones (same text and embedding) of an
    earlier doc; the first ``base_share`` of ids form the base corpus and
    the rest arrive through the append-only ingest."""
    r = _rng(seed, 3)
    words = _words(r, vocab, (n, 60))
    centres = r.normal(0.0, 1.0, (clusters, dim))
    emb = centres[r.integers(0, clusters, n)] + r.normal(0.0, 0.35, (n, dim))
    emb = emb.astype(np.float32).astype(np.float64)   # exact in array<float>
    source = np.arange(n)
    for i in np.flatnonzero(r.random(n) < 0.05):
        if i > 0:
            source[i] = source[r.integers(0, i)]
    words = words[source]
    emb = emb[source]
    texts = [" ".join(f"t{w}" for w in row) for row in words]
    docs = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                         "text": texts, "embedding": list(emb)})
    return RetrievalData(docs=docs, emb=emb, source=source,
                         n_base=int(n * base_share))


def queries(seed: int, data: RetrievalData, upto: list, batch: int,
            terms: int = 8):
    """Query batches, ``batch`` queries each; batch j's targets are drawn
    from doc ids below ``upto[j]`` (the docs indexed when it runs).  A
    query's text is ``terms`` distinct words of its target doc and its
    vector is the target's embedding plus small noise; the expected BM25
    rank-1 answer is the target's clone source (the lowest id holding that
    text).  Returns the batches, one after another, and the expected
    answers."""
    r = _rng(seed, 4)
    tgt = np.concatenate([r.integers(0, u, batch) for u in upto])
    texts = []
    for t in tgt:
        ws = data.docs.at[int(t), "text"].split()
        pick = r.choice(len(ws), size=terms, replace=False)
        texts.append(" ".join(ws[j] for j in sorted(pick)))
    vec = data.emb[tgt] + r.normal(0.0, 0.05, (len(tgt), data.emb.shape[1]))
    return (pd.DataFrame({"query_id": np.arange(len(tgt), dtype=np.int64),
                          "query_text": texts, "embedding": list(vec)}),
            data.source[tgt])
