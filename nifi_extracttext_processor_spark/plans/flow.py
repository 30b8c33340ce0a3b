"""The reference's full flow-template pipeline as one Spark job
(SURVEY §3, 56409-tika.xml connections :17-401):

ListFile → FetchFile → ExtractMediaMetadata → ExtractTextProcessor →
SplitText → ExtractText(regex) → NLP (entities) → CoreNLP (sentiment) →
AttributeCleaner → AttributesToJSON → InferAvroSchema → Set Schema →
QueryRecord {good → batched file sink, neutral → kafka,
             bad+failure → webhook}

NiFi pays a queue hop per edge; here Catalyst fuses the whole linear
prefix into one WholeStageCodegen span + one Arrow UDF stage. The plan
fans out at two points, and both are cached explicitly (the places a
naive translation would redo the work once per port — SURVEY §3):

* the per-file frame after extraction (and the needs_ocr flag), from
  which the ready, needs_ocr and failure ports are derived, so every
  file is read and parsed once per flow whatever the number of ports;
* the record stream before QueryRecord, shared by the three routes.

The caller owns both caches and drops them with `FlowResult.release()`
once the ports are consumed; `run_flow_to_files` does so itself.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.attributes import attrs_to_json, infer_json_schema, set_attrs
from ..operators.extract import (
    apply_ocr,
    extract_text,
    flag_needs_ocr,
    media_metadata,
    route_by_error,
    route_needs_ocr,
)
from ..operators.nlp import entities, sentiment
from ..operators.routing import SENTIMENT_ROUTES, query_routes
from ..operators.split import extract_regex, filter_matched, split_lines
from ..sources.binary_files import read_documents


@dataclass
class FlowResult:
    routes: dict[str, DataFrame]            # good / bad / neutral
    failures: DataFrame                     # extraction failure port
    inferred_schema: str | None = None      # B10 DDL string
    records: DataFrame | None = None        # pre-routing record stream
    needs_ocr: DataFrame | None = None      # image-only PDFs awaiting OCR
    extracted: DataFrame | None = None      # cached per-file fan-out frame

    def release(self) -> None:
        """Unpersist the flow's two fan-out caches: the per-file frame
        and the record stream. The ports read from scratch afterwards."""
        for df in (self.extracted, self.records):
            if df is not None:
                df.unpersist()


def document_flow(
    spark: SparkSession,
    input_path: str,
    glob: str | None = None,
    max_text_length: int = -1,
    infer_schema_sample: int = 25,
    detect_needs_ocr: bool = True,
    ocr_fn: "Callable[[bytes], str] | None" = None,
) -> FlowResult:
    """Build the full pipeline lazily; nothing executes until a sink
    action. Returns per-route DataFrames plus the failure port.

    `detect_needs_ocr` (default on) inserts the scanned-document
    detector after extraction: image-only PDFs — rows that extracted
    successfully but blank from a PDF carrying raster images, the
    signature the reference's Tika stack hands to Tesseract — exit on
    the distinct `needs_ocr` port instead of flowing downstream as
    silent empty-text successes. Only blank-text success rows pay the
    structural re-scan; the raw bytes are carried exactly one extra
    stage and dropped before the per-file frame is cached (with
    `ocr_fn`, kept on the needs_ocr rows alone, for apply_ocr).

    `ocr_fn` (VERDICT r11 task 6) closes the loop in environments
    that HAVE an OCR engine: when given, the needs_ocr rows run
    through apply_ocr(ocr_fn) executor-side and rejoin the success
    stream (text honours max_text_length, A6 error capture on a
    raising ocr_fn), so the reference's auto-OCR behavior is one
    callback away with no code change here; the `needs_ocr` port is
    then consumed (None in the result). Default stays the honest
    absent: detection on, execution routed out."""
    if ocr_fn is not None and not detect_needs_ocr:
        raise ValueError("ocr_fn requires detect_needs_ocr=True")
    files = read_documents(spark, input_path, glob=glob)          # B1+B2
    meta = media_metadata(files)                                  # B3
    per_file = extract_text(meta, max_text_length=max_text_length,
                            keep_content=detect_needs_ocr)        # A2-A8
    if detect_needs_ocr:
        per_file = flag_needs_ocr(per_file)
        # raw bytes stay in the cache only where apply_ocr reads them
        per_file = (per_file.drop("content") if ocr_fn is None else
                    per_file.withColumn("content", F.when(
                        F.col("needs_ocr"), F.col("content"))))
    # fan-out point 1: every port below reads this one cached frame
    per_file = per_file.cache()
    extracted, ocr_pending = per_file, None
    if detect_needs_ocr:
        ready, ocr_pending = route_needs_ocr(per_file)
        if ocr_fn is not None:
            ocred = apply_ocr(ocr_pending, ocr_fn,
                              max_text_length=max_text_length)
            ready = ready.unionByName(ocred)
            ocr_pending = None
        else:
            ocr_pending = ocr_pending.drop("needs_ocr")
        extracted = ready.drop("content", "needs_ocr")
    ok, failures = route_by_error(extracted)                      # A9

    lines = split_lines(ok.select("path", "filename", "text",
                                  "mime_type", "orig_mime_type"),
                        text_col="text", out_col="line")          # B4
    sents = extract_regex(lines, {"sentence": r"(^.*$)"},
                          text_col="line")                        # B5
    sents = filter_matched(sents, "sentence")
    enriched = sentiment(entities(sents, text_col="sentence"),
                         text_col="sentence")                     # B6,B7
    records = set_attrs(enriched, {"schema.name": "PDF",
                                   "content-type": "text/json"})  # B11
    records = attrs_to_json(
        records,
        ["filename", "line_no", "sentence", "names", "locations",
         "sentiment"])                                            # B8,B9

    # fan-out point 2: query_routes caches the record stream
    routes = query_routes(records, SENTIMENT_ROUTES)              # B12
    result = FlowResult(routes=routes, failures=failures, records=records,
                        needs_ocr=ocr_pending, extracted=per_file)
    # B10: schema inference on a bounded sample (driver-side limit(25));
    # an all-failure input infers struct<>
    if infer_schema_sample > 0:
        try:
            result.inferred_schema = infer_json_schema(
                spark, records, "json", infer_schema_sample).simpleString()
        except BaseException:
            result.release()
            raise
    return result


def run_flow_to_files(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    fmt: str = "parquet",
    **kwargs,
) -> dict[str, int]:
    """Execute the flow with file sinks per route (B13+B14) and a
    failure listing; returns per-route row counts. The flow's caches
    are released on return and on raise."""
    from ..operators.batch import write_files

    result = document_flow(spark, input_path, **kwargs)
    counts: dict[str, int] = {}
    try:
        for route, df in result.routes.items():
            write_files(df, f"{output_dir}/{route}", fmt=fmt,
                        mode="overwrite")
            counts[route] = df.count()
        counts["failure"] = result.failures.count()
        if counts["failure"]:
            write_files(result.failures.select("path", "filename", "error"),
                        f"{output_dir}/failure", fmt=fmt, mode="overwrite")
        if result.needs_ocr is not None:
            counts["needs_ocr"] = result.needs_ocr.count()
            if counts["needs_ocr"]:
                write_files(
                    result.needs_ocr.select("path", "filename", "mime_type"),
                    f"{output_dir}/needs_ocr", fmt=fmt, mode="overwrite")
    finally:
        result.release()
    return counts
