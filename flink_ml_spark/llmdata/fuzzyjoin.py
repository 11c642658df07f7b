"""Blocked fuzzy string join (edit distance) for entity resolution.

Corpus assembly constantly reconciles near-identical strings across
catalogs — titles, product names, author strings — where exact joins
miss typos and truncations.  The classic shape (Gravano et al. 2001
blocking + verify) is: cheap BLOCKING keys make candidate pairs, an
exact edit-distance verify keeps real matches.

Scale design: candidates come from an EQUI-join on
(first-token, length-bucket) — never a cross join.  The length band
|len_l − len_r| ≤ maxDistance is both a correctness-preserving blocking
dimension (edit distance ≥ length difference, so no true match is
lost by banding) and the bucket width; the probe side fans out to the
3 adjacent buckets, the build side stays single-bucket.  First-token
equality is optional (``firstTokenBlock=0`` keeps only the length band
— higher recall, bigger blocks).  The Levenshtein verify runs only on
candidate pairs, JVM-side (``F.levenshtein``, identical semantics to
DuckDB's ``levenshtein`` so oracles replay it exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..api import AlgoOperator
from ..param import IntParam, ParamValidators, StringParam


class FuzzyStringJoin(AlgoOperator):
    """``transform(left, right)`` → ``(left id, right id, distance)`` for
    every pair with ``levenshtein(left str, right str) ≤ maxDistance``
    AND agreeing on the blocking key (first token when
    ``firstTokenBlock``, always the length band).

    Blocking is recall-lossless w.r.t. the length band (edit distance
    can't be smaller than the length difference); first-token blocking
    trades recall on leading-token typos for block size — the standard
    knob, off by default."""

    leftIdCol = StringParam("leftIdCol", "Left id column.", "left_id")
    rightIdCol = StringParam("rightIdCol", "Right id column.", "right_id")
    leftCol = StringParam("leftCol", "Left string column.", "name")
    rightCol = StringParam("rightCol", "Right string column.", "name")
    maxDistance = IntParam("maxDistance", "Max Levenshtein distance "
                           "(also the length-bucket width).", 5,
                           ParamValidators.gt(0))
    firstTokenBlock = IntParam(
        "firstTokenBlock", "Number of LEADING whitespace tokens candidates "
        "must share (0 = length-band only).  Each extra prefix token "
        "divides block sizes by the effective vocabulary, but BOTH sides "
        "must genuinely share that prefix — e.g. a right side built by "
        "truncating the LAST word keeps the first token, so 1 is safe "
        "there, while 2 would need ≥3-word strings on both sides.",
        0, ParamValidators.gt_eq(0))
    keepBest = IntParam("keepBest", "k > 0 keeps only the k closest left "
                        "matches per right row (distance, then left id) — "
                        "bounds the output at |right|·k instead of all "
                        "qualifying pairs, the entity-resolution default "
                        "shape.  0 emits every pair within maxDistance.",
                        0, ParamValidators.gt_eq(0))

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        from ..common.dataflow import top_k_per_key
        left, right = inputs
        d = self.get_("maxDistance")
        lid, rid = self.get_("leftIdCol"), self.get_("rightIdCol")
        lc, rc = self.get_("leftCol"), self.get_("rightCol")
        nblk = int(self.get_("firstTokenBlock"))
        tokp = (lambda c: F.coalesce(
            F.array_join(F.slice(F.split(F.trim(c), r"\s+"), 1, nblk), " "),
            F.lit("")))
        # blocking, verify and (for keepBest) the string-level ranking all
        # run over DISTINCT strings: real name populations repeat heavily
        # (TPC-H part names: 20k rows, a few hundred distinct strings —
        # id-level candidates were 50M pairs, string-level ~600k), so
        # candidate work scales with the string vocabulary, not rowcount.
        # __lmin__ = min left id per string is the tie representative:
        # id-level order is (distance, left_id), and a string's best pair
        # uses its minimal id, so top-k strings by (distance, __lmin__)
        # provably contain every id-level top-k contributor.
        lstr = (left.select(F.col(lid), F.col(lc).alias("__ls__"))
                .groupBy("__ls__").agg(F.min(lid).alias("__lmin__"))
                .withColumn("__bkt__",
                            F.floor(F.length(F.col("__ls__")) / d)))
        if nblk:
            lstr = lstr.withColumn("__t1__", tokp(F.col("__ls__")))
        # probe side fans out to the 3 adjacent length buckets so the
        # band |len_l − len_r| ≤ d never crosses more than one boundary
        rstr = (right.select(F.col(rc).alias("__rs__")).distinct()
                .select("*",
                        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
                        .alias("__off__"))
                .withColumn("__bkt__",
                            F.floor(F.length(F.col("__rs__")) / d)
                            + F.col("__off__"))
                .drop("__off__"))
        if nblk:
            rstr = rstr.withColumn("__t1__", tokp(F.col("__rs__")))
        keys = ["__bkt__"] + (["__t1__"] if nblk else [])
        # threshold form: the banded DP early-exits once the distance
        # provably exceeds d (returns -1), O(len·d) instead of O(len²)
        # per candidate — same result as filter(levenshtein ≤ d)
        dist = F.levenshtein(F.col("__ls__"), F.col("__rs__"), int(d))
        cand = (lstr.join(rstr, keys)
                .filter(F.abs(F.length("__ls__") - F.length("__rs__")) <= d)
                .withColumn("distance", dist)
                .filter(F.col("distance") >= 0)
                .select("__ls__", "__lmin__", "__rs__", "distance"))
        kb = self.get_("keepBest")
        if kb > 0:
            # string-level prune first (k strings cover the k best id
            # pairs), THEN expand ids and re-rank exactly
            cand = top_k_per_key(cand, ["__rs__"],
                                 [F.asc("distance"), F.asc("__lmin__")], kb,
                                 rank_col="__sk__") \
                .select("__ls__", "__rs__", "distance")
            # id-level prune BEFORE the expansion joins (r09; guide
            # §3.3 "explode after the join"): every id pair of string s
            # shares s's distance, so a left id outside s's k smallest
            # is dominated by k same-distance pairs and can never reach
            # the per-right-id top-k.  Without this the expansion is
            # |left ids per string| x |right ids per string| rows per
            # candidate (measured 6.2M rows at sf0.1 for a 64-row
            # string-level result); with it, <= k^2 per right id.
            lids = top_k_per_key(
                left.select(F.col(lid), F.col(lc).alias("__ls__")),
                ["__ls__"], [F.asc(lid)], kb)
        else:
            cand = cand.select("__ls__", "__rs__", "distance")
            lids = left.select(F.col(lid), F.col(lc).alias("__ls__"))
        pairs = (cand
                 .join(lids, "__ls__")
                 .join(right.select(F.col(rid), F.col(rc).alias("__rs__")),
                       "__rs__")
                 .select(lid, rid, "distance"))
        if kb > 0:
            pairs = top_k_per_key(pairs, [rid],
                                  [F.asc("distance"), F.asc(lid)], kb,
                                  rank_col="__rk__") \
                .select(lid, rid, "distance")
        return [pairs]
