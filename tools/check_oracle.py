"""Local stand-in for the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column names, and an order-insensitive multiset of
normalized values (floats rounded to 6 decimals — the driver hashes
values, so we keep all emitted floats stable well past that).

Usage:  python tools/check_oracle.py [sf_dir] [query ...]
        python tools/check_oracle.py [sf_dir] --stalest N

A named query that is not registered fails the run (exit 2) before
any Spark session starts.

``--stalest N`` (VERDICT_r9 item 7, age-sweep insurance): reads every
CORRECTNESS_r*.json, computes each registered query's latest GREEN
driver attestation round, and checks the N oldest-attested queries
(never-attested first) — one command to re-verify the stale tail.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

# the checkout this file sits in
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_pipelines_aws_glue_spark.operators.dedup import (  # noqa: E402
    SHINGLES_CTE,
)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: n-gram Jaccard pairs via an inverted shingle index — EXACTLY the
#: primary oracle's result (a pair at Jaccard >= 0.8 must share a
#: shingle, and |intersection| = count of shared distinct shingles),
#: but candidates come from a shingle equi-join instead of the
#: all-pairs cross join: 4 s at sf0.1 where the primary runs >15 min.
#: tests/test_oracle_twins.py asserts primary == twin at sf0.01.
_FAST_JACCARD_PAIRS = f"""
{SHINGLES_CTE},
inv AS MATERIALIZED (SELECT doc_id, unnest(sh) AS s FROM d),
cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT c.doc_a, c.doc_b,
           c.n_shared::DOUBLE
             / (len(da.sh) + len(db.sh) - c.n_shared)::DOUBLE AS jaccard
    FROM cand c
    JOIN d da ON da.doc_id = c.doc_a
    JOIN d db ON db.doc_id = c.doc_b
    WHERE c.n_shared::DOUBLE
            / (len(da.sh) + len(db.sh) - c.n_shared)::DOUBLE >= 0.8
)"""

_FAST_CLUSTERS = f"""WITH RECURSIVE {_FAST_JACCARD_PAIRS},
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (
    SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u
),
clusters AS (
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS cluster_id,
           coalesce(c.component, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)"""

#: Big-SF twins (env SCALE_TWINS=1): same results, tractable plans.
#: The driver's sf0.01 gate always runs the registry's primary
#: oracles; these exist so the local sf0.1 sweep finishes.
SCALE_TWINS = {
    "dedup_ngram_jaccard": (
        f"WITH {_FAST_JACCARD_PAIRS}\n"
        "SELECT doc_a, doc_b, jaccard FROM pairs"
    ),
    "dedup_clusters": (
        f"{_FAST_CLUSTERS}\n"
        "SELECT doc_id, cluster_id, is_canonical FROM clusters"
    ),
    # same contract computed by star contraction — shares the twin
    "dedup_clusters_star": (
        f"{_FAST_CLUSTERS}\n"
        "SELECT doc_id, cluster_id, is_canonical FROM clusters"
    ),
    "corpus_curation_summary": f"""{_FAST_CLUSTERS}
SELECT d.lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN c.is_canonical THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(count(*) - sum(CASE WHEN c.is_canonical THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
GROUP BY d.lang""",
}


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.17g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(rows, col_order):
    return sorted(
        tuple(norm_cell(r[i]) for i in col_order) for r in rows
    )


def norm_spark_type(t: str) -> str:
    t = t.lower()
    aliases = {
        "int": "int32", "integer": "int32", "bigint": "int64",
        "long": "int64", "smallint": "int16", "double": "float64",
        "float": "float32", "string": "string", "varchar": "string",
        "boolean": "bool", "date": "date",
        "timestamp": "timestamp", "timestamp_ntz": "timestamp",
        "binary": "binary",
    }
    if t.startswith("array<"):
        return f"list<{norm_spark_type(t[6:-1])}>"
    return aliases.get(t, t)


def norm_duck_type(t: str) -> str:
    t = t.lower()
    aliases = {
        "integer": "int32", "bigint": "int64", "smallint": "int16",
        "hugeint": "int128", "double": "float64", "float": "float32",
        "varchar": "string", "boolean": "bool", "date": "date",
        "timestamp": "timestamp", "blob": "binary",
    }
    if t.endswith("[]"):
        return f"list<{norm_duck_type(t[:-2])}>"
    return aliases.get(t, t)


def stalest_names(queries: dict, n: int) -> list[str]:
    """The n registered queries whose latest GREEN driver attestation
    (hash_match, or rows_match for rows-only) is oldest; queries never
    attested sort first. Ties break by name for determinism."""
    import glob
    import json
    import re

    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r0*(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            for name, res in json.load(f).items():
                if res.get("hash_match") or (
                    res.get("hash_match") is None and res.get("rows_match")
                ):
                    latest[name] = max(latest.get(name, 0), rnd)
    names = sorted(queries, key=lambda q: (latest.get(q, 0), q))
    picked = names[:n]
    for q in picked:
        r = latest.get(q)
        print(f"  [stalest] {q}: last green "
              f"{'r' + str(r) if r else 'NEVER'}")
    return picked


def main() -> int:
    argv = sys.argv[1:]
    stalest_n = 0
    if "--stalest" in argv:
        i = argv.index("--stalest")
        stalest_n = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = sorted(only - set(queries))
    if unknown:
        print(f"unknown query names: {', '.join(unknown)}", file=sys.stderr)
        return 2

    if os.environ.get("PLAIN_SESSION"):
        # mimic an unknown driver session: default timezone/configs
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle-check-plain")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from bigdata_pipelines_aws_glue_spark.session import get_spark

        spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    if stalest_n:
        only = set(stalest_names(queries, stalest_n))
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"  {name}: rows-only check — {len(srows)} rows "
                  f"({spark_s:.1f}s) [no oracle]")
            if len(srows) == 0:
                failures.append((name, "zero rows (rows-only)"))
            continue
        t0 = time.time()
        sql = oracles[name]
        twin = ""
        if os.environ.get("SCALE_TWINS") and name in SCALE_TWINS:
            sql, twin = SCALE_TWINS[name], " [scale twin]"
        rel = con.sql(sql)
        dcols = list(rel.columns)
        duck_types = [str(t) for t in rel.types]
        drows = rel.fetchall()
        duck_s = time.time() - t0
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        stypes = {c: norm_spark_type(t) for c, t in sdf.dtypes}
        dtypes = {
            c: norm_duck_type(t) for c, t in zip(dcols, duck_types)
        }
        type_mismatch = {
            c: (stypes[c], dtypes[c])
            for c in stypes
            if c in dtypes and stypes[c] != dtypes[c]
        }
        if type_mismatch:
            problems.append(f"dtypes differ: {type_mismatch}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            s_order = [scols.index(c) for c in sorted(scols)]
            d_order = [dcols.index(c) for c in sorted(dcols)]
            ns, nd = norm_rows(srows, s_order), norm_rows(drows, d_order)
            if ns != nd:
                diff = [(a, b) for a, b in zip(ns, nd) if a != b]
                problems.append(
                    f"values differ ({len(diff)} of {len(ns)} sorted rows); "
                    f"first: spark={diff[0][0] if diff else '?'} "
                    f"duck={diff[0][1] if diff else '?'}"
                )
        status = "OK " if not problems else "FAIL"
        print(f"  {name}: {status} {len(srows)} rows "
              f"(spark {spark_s:.1f}s, duck {duck_s:.2f}s){twin}"
              + ("" if not problems else f" :: {'; '.join(problems)}"))
        if problems:
            failures.append((name, "; ".join(problems)))

    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for name, why in failures:
            print(f"  - {name}: {why}")
        return 1
    print("all checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
