"""End-to-end pipeline test (SURVEY §5c): the §3 flow over a synthetic
corpus, asserting the 3-way sentiment routing exactly partitions the
input and sinks land on disk."""

from __future__ import annotations

import os

import pytest

from nifi_extracttext_processor_spark.plans.flow import (
    document_flow, run_flow_to_files,
)
from tests.fixtures.builders import build_docx, build_pdf


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    docs = {
        "good.pdf": build_pdf(["spark is fast and great", "love this engine"]),
        "bad.docx": build_docx(["terrible slow awful results"]),
        "neutral.pdf": build_pdf(["the customer table has rows"]),
        "broken.pdf": b"%PDF-1.4 nothing here",
    }
    for name, data in docs.items():
        (d / name).write_bytes(data)
    return str(d)


def test_flow_routes_partition_input(spark, corpus_dir):
    result = document_flow(spark, corpus_dir)
    counts = {k: v.count() for k, v in result.routes.items()}
    total_records = result.records.count()
    # disjoint + union = input (B12 invariant, FIXTURES.md §4)
    assert sum(counts.values()) == total_records
    assert counts["good"] >= 2       # two positive lines in good.pdf
    assert counts["bad"] >= 1
    assert counts["neutral"] >= 1
    assert result.failures.count() == 1  # broken.pdf
    # routed frames carry the enriched record columns
    row = result.routes["good"].first()
    assert row["sentiment"] == "POSITIVE"
    assert "json" in result.routes["good"].columns


def test_flow_schema_inference(spark, corpus_dir):
    result = document_flow(spark, corpus_dir)
    assert result.inferred_schema is not None
    assert "sentence" in result.inferred_schema  # B10 DDL string


def test_flow_to_files(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "out")
    counts = run_flow_to_files(spark, corpus_dir, out)
    for route, n in counts.items():
        if n > 0:
            files = os.listdir(f"{out}/{route}")
            assert any(f.endswith(".parquet") for f in files)
    # re-read and verify row preservation (B13/B14 golden)
    good = spark.read.parquet(f"{out}/good")
    assert good.count() == counts["good"]


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_flow_single_scan_fanout(spark, tmp_path):
    """Both fan-out points are cached: every port (failures, needs_ocr
    and each route) reads an InMemoryRelation instead of re-running
    extraction, and the cached per-file frame holds no raw bytes
    beyond the needs_ocr rows that apply_ocr reads."""
    from tests.fixtures.builders import build_scanned_pdf

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "good.pdf").write_bytes(build_pdf(["spark is fast and great"]))
    (d / "scan.pdf").write_bytes(build_scanned_pdf())
    (d / "broken.pdf").write_bytes(b"%PDF-1.4 nothing here")
    result = document_flow(spark, str(d))
    try:
        ports = [result.failures, result.needs_ocr,
                 *result.routes.values()]
        for df in ports:
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "InMemoryRelation" in plan
        assert "content" not in result.extracted.columns
        assert result.extracted.count() == 3
    finally:
        result.release()

    result = document_flow(spark, str(d), ocr_fn=lambda data: "RECOGNIZED")
    try:
        rows = result.extracted.select("filename", "needs_ocr",
                                       "content").collect()
        assert {r["filename"] for r in rows if r["needs_ocr"]} == \
            {"scan.pdf"}
        assert all((r["content"] is not None) == r["needs_ocr"]
                   for r in rows)
    finally:
        result.release()


def test_flow_to_files_releases_caches(spark, tmp_path):
    """run_flow_to_files leaves no cache behind, so a second run over a
    changed directory sees the new files instead of stale routes."""
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.pdf").write_bytes(build_pdf(["spark is fast and great"]))
    spark.catalog.clearCache()
    counts = run_flow_to_files(spark, str(d), str(tmp_path / "out1"))
    assert (counts["good"], counts["bad"]) == (1, 0)
    assert _cache_is_empty(spark)

    (d / "b.pdf").write_bytes(build_pdf(["love this great engine"]))
    (d / "c.pdf").write_bytes(build_pdf(["terrible slow awful results"]))
    counts = run_flow_to_files(spark, str(d), str(tmp_path / "out2"))
    assert (counts["good"], counts["bad"]) == (2, 1)
    assert _cache_is_empty(spark)


def test_flow_to_files_releases_caches_on_raise(spark, corpus_dir,
                                                tmp_path):
    from nifi_extracttext_processor_spark.sinks.connectors import (
        avro_available,
    )
    if avro_available(spark):
        pytest.skip("spark-avro is on the classpath: fmt='avro' works")
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="Avro"):
        run_flow_to_files(spark, corpus_dir, str(tmp_path / "out"),
                          fmt="avro")
    assert _cache_is_empty(spark)


def test_flow_all_failures_infers_empty_schema(spark, tmp_path):
    """An input where every file fails extraction has an empty record
    stream: schema inference returns struct<> instead of raising."""
    d = tmp_path / "corrupt"
    d.mkdir()
    (d / "broken.pdf").write_bytes(b"%PDF-1.4 nothing here")
    result = document_flow(spark, str(d))
    try:
        assert result.inferred_schema == "struct<>"
        assert [r["filename"] for r in result.failures.collect()] == \
            ["broken.pdf"]
    finally:
        result.release()


def test_flow_handles_all_formats(spark, tmp_path):
    """The full DAG over a mixed corpus: PDF, DOCX, PPTX, legacy PPT,
    RTF — every format extracts and routes; none on the failure route."""
    from tests.fixtures.builders import build_ppt, build_pptx, build_rtf
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "a.pdf").write_bytes(build_pdf(["love this great engine"]))
    (d / "b.docx").write_bytes(build_docx(["terrible awful results"]))
    (d / "c.pptx").write_bytes(build_pptx([["the table has rows"]]))
    (d / "e.ppt").write_bytes(build_ppt(["spark is fast and great"]))
    (d / "f.rtf").write_bytes(build_rtf(["plain neutral words here"]))
    result = document_flow(spark, str(d))
    assert result.failures.count() == 0
    assert sum(v.count() for v in result.routes.values()) == \
        result.records.count()
    assert result.records.count() >= 5


def test_training_data_prep_pipeline(spark):
    """Composed pipeline: language + quality filters run before the
    dedup shuffle; duplicates collapse to the min-id representative."""
    from pyspark.sql import Row

    from nifi_extracttext_processor_spark.plans.training_data import (
        prepare_training_data,
    )
    good = ("the quick brown fox jumps over the lazy dog and says "
            "hello to the other animals in the big green forest today")
    df = spark.createDataFrame([
        Row(doc_id=1, text=good),
        Row(doc_id=2, text=good),                # exact duplicate → dropped
        Row(doc_id=3, text="der schnelle braune fuchs springt und der "
                           "hund ist mude und die katze schlaft jetzt"),
        Row(doc_id=4, text="!!!! ???? ,,,, ...."),  # junk → low quality
        Row(doc_id=5, text=good.upper()),        # dup after normalization
    ])
    out = prepare_training_data(df).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert 1 in ids            # representative of the duplicate group
    assert 2 not in ids and 5 not in ids
    assert 4 not in ids        # junk filtered
    for r in out:
        assert r["quality"] >= 0.5 and r["n_ws_tokens"] > 0


def test_mixed_format_corpus_extraction(spark, tmp_path):
    """Round-3 breadth integration: one binaryFile scan over every
    format family added since r1 — OOXML, RTF, ODT, EML, Outlook .msg,
    zip archive, gzip, PNG image, WAV audio — through extract_text +
    media_metadata, asserting per-format text/route/metadata."""
    import gzip
    import struct
    import zipfile

    from pyspark.sql import functions as F

    from nifi_extracttext_processor_spark.operators.extract import (
        extract_text, media_metadata, route_by_error,
    )
    from nifi_extracttext_processor_spark.sources.binary_files import (
        read_documents,
    )
    from tests.fixtures.builders import build_msg, build_odt, build_rtf

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "a.rtf").write_bytes(build_rtf(["rtf body text"]))
    (d / "b.odt").write_bytes(build_odt(["odt body text"]))
    (d / "c.msg").write_bytes(
        build_msg("Subject line", "s@x.com", "r@x.com", "msg body text"))
    import io as _io
    zbuf = _io.BytesIO()
    with zipfile.ZipFile(zbuf, "w") as zf:
        zf.writestr("inner.txt", "zip member text")
    (d / "d.zip").write_bytes(zbuf.getvalue())
    (d / "e.txt.gz").write_bytes(gzip.compress(b"gz member text"))
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 31, 17) + bytes([8, 2, 0, 0, 0])
           + b"\x00" * 4)
    (d / "f.png").write_bytes(png)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    wav = (b"RIFF" + struct.pack("<I", 36 + 8000) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + fmt
           + b"data" + struct.pack("<I", 8000) + b"\x00" * 8000)
    (d / "g.wav").write_bytes(wav)

    # flow order (SURVEY §3): ExtractMediaMetadata BEFORE the text
    # extractor — extraction replaces content with text (A5)
    scanned = extract_text(media_metadata(read_documents(spark, str(d))))
    ok, fail = route_by_error(scanned.cache())
    assert fail.count() == 0
    rows = {r["filename"]: r for r in ok.collect()}
    assert rows["a.rtf"]["text"].startswith("rtf body text")
    assert rows["b.odt"]["text"].startswith("odt body text")
    assert "msg body text" in rows["c.msg"]["text"]
    assert rows["c.msg"]["text"].startswith("Subject: Subject line")
    assert "zip member text" in rows["d.zip"]["text"]
    assert "gz member text" in rows["e.txt.gz"]["text"]
    assert rows["f.png"]["text"] == ""   # image: metadata-only
    assert rows["g.wav"]["text"] == ""   # audio: metadata-only
    assert rows["f.png"]["metadata"]["tiff:ImageWidth"] == "31"
    assert rows["g.wav"]["metadata"]["xmpDM:audioSampleRate"] == "8000"
    assert rows["c.msg"]["metadata"]["dc:title"] == "Subject line"
    mimes = {n: r["orig_mime_type"] for n, r in rows.items()}
    assert mimes["c.msg"] == "application/vnd.ms-outlook"
    assert mimes["d.zip"] == "application/zip"
    assert mimes["f.png"] == "image/png"


def test_flow_needs_ocr_route(spark, tmp_path):
    """VERDICT r10 task 5: an image-only PDF in a MIXED batch exits on
    the composed plan's needs_ocr port — not as a silent empty-text
    success on a sentiment route, and not as an extraction failure."""
    from tests.fixtures.builders import build_scanned_pdf

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "real.pdf").write_bytes(build_pdf(["spark is fast and great"]))
    (d / "scan.pdf").write_bytes(build_scanned_pdf())
    (d / "broken.pdf").write_bytes(b"%PDF-1.4 nothing here")
    result = document_flow(spark, str(d))

    assert result.needs_ocr is not None
    ocr_rows = result.needs_ocr.collect()
    assert [r["filename"] for r in ocr_rows] == ["scan.pdf"]
    # content bytes were dropped before the port surfaced
    assert "content" not in result.needs_ocr.columns
    # the scanned doc reached NO downstream route, and the other two
    # files still land where they always did
    routed = [r["filename"] for route in result.routes.values()
              for r in route.select("filename").collect()]
    assert "scan.pdf" not in routed
    assert result.failures.count() == 1  # broken.pdf only
    assert "real.pdf" in routed

    # sinks: the needs_ocr listing lands on disk too
    out = str(tmp_path / "out")
    counts = run_flow_to_files(spark, str(d), out)
    assert counts["needs_ocr"] == 1
    got = spark.read.parquet(f"{out}/needs_ocr").collect()
    assert got[0]["filename"] == "scan.pdf"


def test_flow_detect_needs_ocr_off(spark, corpus_dir):
    """Opting out restores the pre-r11 shape: no port, no content
    column carried past extraction."""
    result = document_flow(spark, corpus_dir, detect_needs_ocr=False)
    assert result.needs_ocr is None
    assert sum(v.count() for v in result.routes.values()) \
        == result.records.count()
