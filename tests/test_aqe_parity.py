"""Oracle parity with adaptive query execution ON.

The test session turns AQE off for speed, while session.get_spark
turns it on by default, as bench.py runs it. Values must not depend
on it; this module re-checks the fixpoint-loop rows, whose per-round
joins and checkpoints are where AQE re-plans most, against their
DuckDB twins with AQE enabled."""

from __future__ import annotations

import pytest

from tests.test_oracle_parity import assert_matches_oracle, ddb  # noqa: F401

ROWS = ("dedup_clusters", "doc_link_components",
        "doc_link_components_large", "entity_resolve_incremental",
        "entity_clusters", "graph_coreness")


@pytest.fixture(scope="module")
def aqe_spark(spark):
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        yield spark
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize("name", ROWS)
def test_query_matches_oracle_with_aqe(aqe_spark, sf_dir,
                                       ddb, name):  # noqa: F811
    assert aqe_spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert_matches_oracle(aqe_spark, sf_dir, ddb, name)
