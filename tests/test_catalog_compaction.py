"""compact_catalog: the small-file maintenance op for append-only
dedup/progress catalogs. Contract: file count drops, verdicts are
IDENTICAL across compaction, and the fail-safe ordering can only
leave benign duplicate rows — never an absent catalog."""

from __future__ import annotations

import glob
import os

import pytest  # noqa: F401

from nifi_extracttext_processor_spark.sources import warc as W
from nifi_extracttext_processor_spark.sources.tables import (
    compact_catalog, read_catalog,
)


def _parquet_files(path):
    return [p for p in glob.glob(f"{path}/**/*", recursive=True)
            if os.path.isfile(p)
            and not os.path.basename(p).startswith(("_", "."))]


class TestFlatCatalog:
    def test_file_count_drops_rows_identical(self, spark, tmp_path):
        cat = str(tmp_path / "cat")
        # 6 append runs -> >= 6 small files
        for i in range(6):
            (spark.createDataFrame([(f"fp{i}a",), (f"fp{i}b",)],
                                   "fingerprint string")
             .coalesce(2).write.mode("append").parquet(cat))
        before_rows = sorted(r["fingerprint"] for r in
                             spark.read.parquet(cat).collect())
        assert len(_parquet_files(cat)) >= 6
        removed = compact_catalog(spark, cat)
        assert removed >= 6
        assert len(_parquet_files(cat)) == 1
        after_rows = sorted(r["fingerprint"] for r in
                            spark.read.parquet(cat).collect())
        assert after_rows == before_rows

    def test_dedup_verdict_unchanged(self, spark, tmp_path):
        from nifi_extracttext_processor_spark.operators.dedup import (
            dedup_exact_incremental,
        )
        cat = str(tmp_path / "cat")
        import pyspark.sql.functions as F
        for txt in ("seen one", "seen two"):
            (spark.createDataFrame([(txt,)], "text string")
             .select(F.md5("text").alias("fingerprint"))
             .write.mode("append").parquet(cat))
        batch = spark.createDataFrame(
            [(1, "seen one"), (2, "brand new")],
            "doc_id long, text string")

        def verdict():
            c = read_catalog(spark, cat, ("fingerprint",))
            return sorted(r["doc_id"] for r in
                          dedup_exact_incremental(
                              batch, c, id_col="doc_id",
                              text_col="text").collect())

        before = verdict()
        compact_catalog(spark, cat)
        assert verdict() == before == [2]

    def test_missing_catalog_raises(self, spark, tmp_path):
        with pytest.raises(FileNotFoundError):
            compact_catalog(spark, str(tmp_path / "nope"))


class TestPartitionedCatalog:
    GOOD = ("This is a clean and useful document that has the right "
            "length and the words that a quality filter wants to see "
            "in a sentence with enough substance to pass the gates.")
    OTHER = ("Another perfectly reasonable article of adequate "
             "length that the filters should keep, with the usual "
             "mix of common words that the quality and language "
             "checks look for in real prose.")

    def _drive(self, spark, tmp_path, fn, docs, batch_id):
        from nifi_extracttext_processor_spark.sources.warc import (
            parse_warc_df,
        )
        seg = tmp_path / f"seg{batch_id}.warc.gz"
        seg.write_bytes(W.build_wet(docs))
        files = (spark.read.format("binaryFile").load(str(seg))
                 .select("path", "modificationTime", "length",
                         "content"))
        fn(parse_warc_df(files), batch_id)

    def test_streaming_catalog_compaction(self, spark, tmp_path):
        """Two batches make a batch-partitioned fingerprint catalog;
        compaction folds it into batch=-1, file count drops, and a
        third batch's cross-batch dedup verdict is unchanged."""
        from nifi_extracttext_processor_spark.streaming.pipeline import (
            stream_web_corpus,
        )
        out, cat = str(tmp_path / "o"), str(tmp_path / "c")
        fn = stream_web_corpus(out, cat, min_quality=0.3)
        self._drive(spark, tmp_path, fn,
                    [("http://a.example/1", self.GOOD)], 0)
        self._drive(spark, tmp_path, fn,
                    [("http://b.example/2", self.OTHER)], 1)
        files_before = len(_parquet_files(cat))
        fps_before = sorted(r["fingerprint"] for r in
                            spark.read.parquet(cat).collect())
        assert files_before >= 2
        compact_catalog(spark, cat)
        assert len(_parquet_files(cat)) == 1
        assert os.path.isdir(f"{cat}/batch=-1")
        fps_after = sorted(r["fingerprint"] for r in
                           spark.read.parquet(cat).collect())
        assert fps_after == fps_before
        # cross-batch dedup still works against the compacted catalog:
        # a replayed duplicate of GOOD must be dropped, a new doc kept
        self._drive(spark, tmp_path, fn,
                    [("http://c.example/dup", self.GOOD)], 2)
        texts = sorted(r["text"] for r in
                       spark.read.parquet(out).collect())
        assert texts == sorted([self.GOOD, self.OTHER])

    def test_segment_catalog_compaction(self, spark, tmp_path):
        """ingest_warc_incremental's processed-path catalog compacts
        and the second run still skips processed segments."""
        from nifi_extracttext_processor_spark.sources.warc import (
            ingest_warc_incremental,
        )
        segs = tmp_path / "segs"
        segs.mkdir()
        (segs / "s1.warc.gz").write_bytes(
            W.build_wet([("u:1", "hello world")]))
        out, cat = str(tmp_path / "o"), str(tmp_path / "c")
        n1 = ingest_warc_incremental(spark, str(segs), out, cat)
        assert n1 == 1
        compact_catalog(spark, cat)
        n2 = ingest_warc_incremental(spark, str(segs), out, cat)
        assert n2 == 0  # compacted catalog still marks s1 processed
        (segs / "s2.warc.gz").write_bytes(
            W.build_wet([("u:2", "more text")]))
        assert ingest_warc_incremental(spark, str(segs), out, cat) == 1


class TestBucketedFingerprintCatalog:
    """r8: prefix-bucketed catalog layout — delta dedup reads only the
    catalog partitions the batch's fingerprints touch."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_verdicts_match_unpruned_path(self, spark, tmp_path):
        from nifi_extracttext_processor_spark.operators.dedup import (
            dedup_exact_incremental,
            dedup_exact_incremental_pruned,
            update_fingerprint_catalog_bucketed,
        )
        cat = str(tmp_path / "bcat")
        hist = self._docs(spark, [(i, f"doc number {i}")
                                  for i in range(50)])
        update_fingerprint_catalog_bucketed(hist, cat)
        # delta: 3 already-cataloged texts, 2 new, 1 in-batch dup pair
        delta = self._docs(spark, [
            (100, "doc number 1"), (101, "doc number 2"),
            (102, "doc number 3"), (103, "brand new alpha"),
            (104, "brand new beta"), (105, "brand new beta")])
        got = sorted(r["doc_id"] for r in dedup_exact_incremental_pruned(
            delta, cat).collect())
        assert got == [103, 104]
        # equivalence with the unpruned operator over the same catalog
        from pyspark.sql import functions as F
        flat = spark.read.parquet(cat).select("fingerprint")
        want = sorted(r["doc_id"] for r in dedup_exact_incremental(
            delta, flat).collect())
        assert got == want

    def test_partition_pruning_plan(self, spark, tmp_path):
        from nifi_extracttext_processor_spark.operators.dedup import (
            dedup_exact_incremental_pruned,
            update_fingerprint_catalog_bucketed,
        )
        cat = str(tmp_path / "bcat2")
        hist = self._docs(spark, [(i, f"doc number {i}")
                                  for i in range(200)])
        update_fingerprint_catalog_bucketed(hist, cat)
        delta = self._docs(spark, [(900, "doc number 7")])
        out = dedup_exact_incremental_pruned(delta, cat)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        assert "bucket" in plan.split("PartitionFilters:")[1][:200]
        assert out.collect() == []   # the one delta doc is cataloged

    def test_missing_catalog_bootstraps(self, spark, tmp_path):
        from nifi_extracttext_processor_spark.operators.dedup import (
            dedup_exact_incremental_pruned,
        )
        delta = self._docs(spark, [(1, "a a"), (2, "a a"), (3, "b")])
        got = sorted(r["doc_id"] for r in dedup_exact_incremental_pruned(
            delta, str(tmp_path / "nope")).collect())
        assert got == [1, 3]

    def test_compaction_compatible(self, spark, tmp_path):
        from nifi_extracttext_processor_spark.operators.dedup import (
            dedup_exact_incremental_pruned,
            update_fingerprint_catalog_bucketed,
        )
        from nifi_extracttext_processor_spark.sources.tables import (
            compact_catalog,
        )
        cat = str(tmp_path / "bcat3")
        for start in (0, 10, 20):   # three small appends
            update_fingerprint_catalog_bucketed(
                self._docs(spark, [(i, f"t {i}")
                                   for i in range(start, start + 10)]),
                cat)
        before = sorted(r["doc_id"] for r in dedup_exact_incremental_pruned(
            self._docs(spark, [(99, "t 5"), (98, "fresh")]),
            cat).collect())
        removed = compact_catalog(spark, cat,
                                  preserve_partitions=True)
        assert removed > 0
        after = sorted(r["doc_id"] for r in dedup_exact_incremental_pruned(
            self._docs(spark, [(99, "t 5"), (98, "fresh")]),
            cat).collect())
        assert before == after == [98]
        # bucket dirs survive (no -1 fold), so pruning stays intact
        import os
        dirs = {d for d in os.listdir(cat) if d.startswith("bucket=")}
        assert "bucket=-1" not in dirs and len(dirs) > 1

    def test_default_compaction_fold_still_correct(self, spark,
                                                   tmp_path):
        """A default (fold-to--1) compaction of a bucketed catalog
        must not lose verdicts: the pruned reader includes -1."""
        from nifi_extracttext_processor_spark.operators.dedup import (
            dedup_exact_incremental_pruned,
            update_fingerprint_catalog_bucketed,
        )
        from nifi_extracttext_processor_spark.sources.tables import (
            compact_catalog,
        )
        cat = str(tmp_path / "bcat4")
        update_fingerprint_catalog_bucketed(
            self._docs(spark, [(i, f"t {i}") for i in range(10)]), cat)
        compact_catalog(spark, cat)   # folds into bucket=-1
        got = sorted(r["doc_id"] for r in dedup_exact_incremental_pruned(
            self._docs(spark, [(99, "t 5"), (98, "fresh")]),
            cat).collect())
        assert got == [98]


class TestSnapshotStore:
    def test_compacted_snapshot_store_raises(self, spark, tmp_path):
        """A snapshot store (each batch= partition holds the FULL
        state) must not be compacted: the fold into batch=-1 unions
        the snapshots. Two rollup batches put 2 then 1 events in one
        day cell (state 3); after compaction the reader would return
        both snapshots (2 and 3) and a third batch would land 6, not
        4 — so the reader and the next batch raise instead."""
        import pyspark.sql.functions as F

        from nifi_extracttext_processor_spark.streaming.pipeline import (
            stream_rollup,
        )

        def events(n):
            return (spark.createDataFrame(
                [("2024-01-01 05:00:00",)] * n, "ts string")
                .withColumn("ts", F.to_timestamp("ts")))

        sd = str(tmp_path / "state")
        fb, read_state = stream_rollup(sd, "ts", "day")
        fb(events(2), 0)
        fb(events(1), 1)
        assert [r["n_rows"] for r in read_state(spark).collect()] == [3]
        compact_catalog(spark, sd)
        with pytest.raises(ValueError, match="compacted"):
            read_state(spark)
        with pytest.raises(ValueError, match="compacted"):
            fb(events(1), 2)
