"""The big-SF scale twins in tools/check_oracle.py must be EXACTLY
equivalent to the registry's primary oracles — pure-DuckDB check, no
Spark session needed, so it runs in seconds at sf0.01."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

# tools/ of the checkout this file sits in (conftest adds its root)
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)


@pytest.fixture(scope="module")
def con():
    import check_oracle

    c = duckdb.connect()
    for t in check_oracle.TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.01/{t}.parquet'"
        )
    return c


@pytest.mark.parametrize(
    "name",
    ["dedup_ngram_jaccard", "dedup_clusters", "corpus_curation_summary"],
)
def test_scale_twin_equals_primary_oracle(con, name):
    import check_oracle

    from bigdata_pipelines_aws_glue_spark import registry

    primary = con.execute(registry.oracle_sql()[name])
    pcols, prows = list(primary.description), sorted(primary.fetchall())
    twin = con.execute(check_oracle.SCALE_TWINS[name])
    tcols, trows = list(twin.description), sorted(twin.fetchall())
    assert [c[0] for c in pcols] == [c[0] for c in tcols]
    assert prows == trows
    assert len(prows) > 0
