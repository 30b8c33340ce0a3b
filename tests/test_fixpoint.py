"""The shared fixpoint loop (operators/dedup._fixpoint) and the one
min-label kernel (dedup.components_from_pairs): one failure policy for
all five fixpoint operators, id types kept, round and job counts
pinned."""

from __future__ import annotations

import pytest

from nifi_extracttext_processor_spark.operators import dedup, graph

_TEXT = ("the quick brown fox jumps over the lazy dog again and "
         "again with more words to shingle properly")


def _docs(spark):
    return spark.createDataFrame(
        [(0, _TEXT), (1, _TEXT)], "doc_id long, text string")


def _edges(spark):
    return spark.createDataFrame([("a", "b")], "src string, dst string")


def _pairs(spark):
    return spark.createDataFrame([(0, 1)], "id1 long, id2 long")


@pytest.mark.parametrize("call", [
    lambda s: dedup.duplicate_clusters(_docs(s), max_iter=0),
    lambda s: dedup.components_from_pairs(
        _docs(s).select("doc_id"), _pairs(s), max_iter=0),
    lambda s: graph.connected_components(_edges(s), max_iter=0),
    lambda s: graph.connected_components_large(_edges(s), max_iter=0),
    lambda s: graph.core_numbers(_edges(s), max_iter=0),
], ids=["duplicate_clusters", "components_from_pairs",
        "connected_components", "connected_components_large",
        "core_numbers"])
def test_max_iter_zero_raises_value_error(spark, call):
    with pytest.raises(ValueError, match="max_iter"):
        call(spark)


class TestIdTypeKept:
    """Integer ids take the numeric min: 9 < 10, where string order
    would pick "10"."""

    def test_components_from_pairs(self, spark):
        ids = spark.createDataFrame([(9,), (10,), (11,)], "doc_id long")
        pairs = spark.createDataFrame([(10, 9)], "id1 long, id2 long")
        got = {r["doc_id"]: r["cluster_id"] for r in
               dedup.components_from_pairs(ids, pairs).collect()}
        assert got == {9: 9, 10: 9, 11: 11}

    def test_duplicate_clusters(self, spark):
        df = spark.createDataFrame(
            [(10, _TEXT), (9, _TEXT),
             (11, "totally different text here about completely "
                  "other topics")],
            "doc_id long, text string")
        out = dedup.duplicate_clusters(df)
        assert dict(out.dtypes)["cluster_id"] == "bigint"
        got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
        assert got == {9: 9, 10: 9, 11: 11}


class TestRoundsOnChain:
    """A 24-node chain 0-1-...-23. Min-label needs one round per hop
    plus the round that finds nothing changed; large-star/small-star
    contracts in O(log^2 n) rounds."""

    N = 24

    @pytest.fixture
    def rounds(self, monkeypatch):
        seen = []
        real = dedup._fixpoint

        def spy(*args, **kwargs):
            out = real(*args, **kwargs)
            seen.append(out[1])
            return out

        # graph.py imports _fixpoint at call time, so patching the
        # module attribute covers both modules
        monkeypatch.setattr(dedup, "_fixpoint", spy)
        return seen

    def _pairs(self, spark):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(self.N - 1)], "id1 long, id2 long")

    def test_min_label_rounds_and_one_job_per_round(self, spark, rounds):
        ids = spark.createDataFrame(
            [(i,) for i in range(self.N)], "doc_id long")
        pairs = self._pairs(spark)
        sc = spark.sparkContext
        group = "test_fixpoint_min_label_chain"
        sc.setJobGroup(group, group)
        try:
            out = dedup.components_from_pairs(ids, pairs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert rounds == [self.N]
        assert len(jobs) == self.N  # the round's read is its only job
        assert {r["cluster_id"] for r in out.collect()} == {0}

    def test_large_star_round_bound(self, spark, rounds):
        got = graph.connected_components_large(
            self._pairs(spark).toDF("src", "dst")).collect()
        assert len(rounds) == 1 and rounds[0] <= 8
        assert {r["component"] for r in got} == {"0"}
