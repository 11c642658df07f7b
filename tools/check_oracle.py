#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry and its oracle_sql() in DuckDB over the
same parquet tables, compare row count + (column-name-sorted,
order-insensitive) value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    import datetime
    import decimal
    import math
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 10))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) \
        else "/root/testdata/sf0.01"
    only = set(a for a in sys.argv[1:] if not os.path.isdir(a))

    from flink_ml_spark.benchmark.session import meminfo_mib, session
    spark = session("check_oracle", cpus=8, partitions=16)

    # DuckDB runs inside this process: before each oracle its memory is
    # capped at a quarter of what is available then, past which it
    # spills to a temporary directory (under $TMPDIR); uncapped, the
    # minhash_lsh_join oracle at sf0.1 grew this process past 11 GB
    spill = tempfile.TemporaryDirectory(prefix="check_oracle_duckdb_")
    con = duckdb.connect(config={"temp_directory": spill.name})
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # fixture-based oracles (agglomerative) build from the active sf dir
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    import __spark_entry__ as entry
    queries = entry.queries()
    oracles = entry.oracle_sql()

    n_pass = n_fail = n_rows_only = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        spark.catalog.clearCache()  # per-query isolation, as in bench.py
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            # registry convention (queries/__init__ docstring): scalar
            # columns ONLY — the driver's canonicalizer sorts cell values
            # and cannot hash arrays/maps/structs (bpe_tokenize broke the
            # r03 driver row this way).  Enforce for EVERY query, incl.
            # rows-only ones the hash path would never touch.
            bad = [f.name for f in sdf.schema.fields
                   if f.dataType.typeName() in ("array", "map", "struct")]
            if bad:
                print(f"FAIL {name}: non-scalar output columns {bad} "
                      "(driver canonicalizer cannot hash these)")
                n_fail += 1
                continue
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e).splitlines()[0][:140]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(srows)} rows, cols={scols} ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            # r06→r07 lesson: the five never-green driver rows were ALL
            # (and only) oracles with a bare sum(<integer>) output column
            # — DuckDB HUGEINT, which the driver's fetch path normalizes
            # differently from Spark's long (hash-red with rows+schema
            # green).  Gate on the DESCRIBEd output types so it can
            # never recur: integer outputs must be CAST to BIGINT.
            otypes = con.execute(
                f"DESCRIBE SELECT * FROM ({oracles[name]}) LIMIT 0"
            ).fetchall()
            hug = {c: t for c, t, *_ in otypes
                   if t in ("HUGEINT", "UHUGEINT")}
            if hug:
                print(f"FAIL {name}: oracle output columns {hug} are "
                      "HUGEINT (bare sum(int)?) — CAST(... AS BIGINT); "
                      "the driver gate hash-rejects HUGEINT cells")
                n_fail += 1
                continue
            con.execute(f"SET memory_limit = "
                        f"'{max(256, meminfo_mib()['MemAvailable'] // 4)}MB'")
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0][:140]}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if not problems:
            hs = table_hash(scols, srows)
            ho = table_hash(ocols, orows)
            if hs != ho:
                # show a few differing lines for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                set_s = {"|".join(norm_cell(r[i]) for i in order_s) for r in srows}
                set_o = {"|".join(norm_cell(r[i]) for i in order_o) for r in orows}
                diff_s = list(set_s - set_o)[:3]
                diff_o = list(set_o - set_s)[:3]
                problems.append(f"hash {hs} vs {ho}; spark-only={diff_s} oracle-only={diff_o}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    con.close()
    spill.cleanup()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
