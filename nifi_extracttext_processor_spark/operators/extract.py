"""Tier A operators: MIME detect + text extraction + routing.

Spark-first re-expression of the reference processor
(/root/reference/.../ExtractTextProcessor.java):

  A2 MIME detect        :145,153,156 → `orig_mime_type` column
  A3 text extraction    :173-176     → `text` column (mapInPandas)
  A4 html extraction    :158-172     → XHTML in `text`, NO truncation
  A5 content replace    :148,191     → new column, content droppable
  A6 error capture      :178-191     → error col; text='' on failure
  A7 null guard         :151,194-197 → null content → failure route
  A8 attribute enrich   :205-223     → mime_type/orig_mime_type cols,
                                       NOT set on failure (quirk)
  A9 success/failure    :201-202,224 → route_by_error → two DataFrames

Scale design: extraction is embarrassingly parallel (narrow dependency,
no shuffle). The only knobs that matter at 100 TB are input-partition
sizing (small-files coalesce / big-files spread — `repartition_for_docs`)
and Arrow batch size (bounded in session.get_spark). The heavy parse
work runs in Python workers on Arrow batches; one task per partition,
1000 executors scale linearly.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

OUTPUT_TEXT = "text"    # ExtractTextProcessor.java:73
OUTPUT_HTML = "html"    # :74

_EXTRACT_FIELDS = (
    "text STRING, mime_type STRING, orig_mime_type STRING, error STRING")


def _extract_schema(input_schema: StructType) -> str:
    keep = [f"`{f.name}` {f.dataType.simpleString()}"
            for f in input_schema.fields if f.name != "content"]
    return ", ".join(keep + [_EXTRACT_FIELDS])


def extract_text(
    df: DataFrame,
    max_text_length: int = -1,
    output_mode: str = OUTPUT_TEXT,
    content_col: str = "content",
    filename_col: str = "filename",
    keep_content: bool = False,
) -> DataFrame:
    """A2–A8 in one Arrow-batched pass.

    Parameters mirror the reference's property descriptors
    (MAX_TEXT_LENGTH :81-86 default -1; HTML_OUTPUT :88-94 default text).
    """
    if output_mode not in (OUTPUT_TEXT, OUTPUT_HTML):
        raise ValueError(f"output_mode must be text|html, got {output_mode!r}")
    if not isinstance(max_text_length, int):
        raise TypeError("max_text_length must be int")  # validator :82-86

    out_schema = _extract_schema(df.schema)
    if keep_content:
        out_schema = "content BINARY, " + out_schema
    success_mime = "text/html" if output_mode == OUTPUT_HTML else "text/plain"
    has_filename = filename_col in df.columns
    pass_cols = [c for c in df.columns if c != content_col or keep_content]

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from nifi_extracttext_processor_spark.formats import extract_any

        for pdf in batches:
            texts, mimes, origs, errs = [], [], [], []
            fnames = pdf[filename_col] if has_filename else None
            for i, blob in enumerate(pdf[content_col]):
                data = bytes(blob) if blob is not None else None
                fname = fnames.iloc[i] if fnames is not None else None
                text, detected, err = extract_any(
                    data, fname, max_text_length, output_mode)
                texts.append(text)
                errs.append(err)
                if err is None:
                    mimes.append(success_mime)   # :205-213
                    origs.append(detected)       # :216-221
                else:
                    mimes.append(None)           # A6 quirk: attrs not set
                    origs.append(None)
            out = pdf[pass_cols].copy()
            out["text"] = texts
            out["mime_type"] = mimes
            out["orig_mime_type"] = origs
            out["error"] = errs
            yield out

    return df.mapInPandas(_run, schema=out_schema)


def detect_mime_col(
    df: DataFrame,
    content_col: str = "content",
    filename_col: str = "filename",
    out_col: str = "orig_mime_type",
) -> DataFrame:
    """A2 standalone: magic-byte MIME detection column."""
    has_filename = filename_col in df.columns
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"{out_col} STRING"])

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from nifi_extracttext_processor_spark.formats import detect_mime

        for pdf in batches:
            fnames = pdf[filename_col] if has_filename else None
            pdf = pdf.copy()
            pdf[out_col] = [
                detect_mime(bytes(b) if b is not None else None,
                            fnames.iloc[i] if fnames is not None else None)
                for i, b in enumerate(pdf[content_col])]
            yield pdf

    return df.mapInPandas(_run, schema=schema)


def flag_needs_ocr(
    df: DataFrame,
    content_col: str = "content",
    text_col: str = "text",
    error_col: str = "error",
) -> DataFrame:
    """Scanned-PDF detector column: `needs_ocr` is True for rows that
    extracted SUCCESSFULLY but produced blank text from a PDF that
    carries raster images (image XObjects / inline images) — the
    image-only signature the reference's Tika stack hands to
    Tesseract (OCRParser warning in its surefire output). This engine
    has no OCR, so the flag turns silent empty-text success into an
    explicit routable state. Run on extract_text(keep_content=True)
    output (needs the raw bytes); only blank-text success rows pay
    the structural scan — everything else is a cheap False."""
    if content_col not in df.columns:
        raise ValueError(
            f"flag_needs_ocr needs {content_col!r} — run "
            "extract_text(keep_content=True)")
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in df.schema.fields] + ["needs_ocr BOOLEAN"])

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from nifi_extracttext_processor_spark.formats.pdf import (
            pdf_has_images,
        )

        for pdf in batches:
            flags = []
            for i in range(len(pdf)):
                err = pdf[error_col].iloc[i]
                txt = pdf[text_col].iloc[i]
                blob = pdf[content_col].iloc[i]
                flag = False
                if err is None and (txt is None or not txt.strip()) \
                        and blob is not None:
                    data = bytes(blob)
                    if data.startswith(b"%PDF"):
                        flag = pdf_has_images(data)
                flags.append(flag)
            out = pdf.copy()
            out["needs_ocr"] = flags
            yield out

    return df.mapInPandas(_run, schema=schema)


def route_needs_ocr(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ready, needs_ocr) split over flag_needs_ocr output — the
    A9-style distinct route for image-only documents awaiting an
    external OCR stage."""
    return (df.filter(~F.col("needs_ocr")),
            df.filter(F.col("needs_ocr")))


def apply_ocr(
    df: DataFrame,
    ocr_fn: "Callable[[bytes], str]",
    content_col: str = "content",
    text_col: str = "text",
    error_col: str = "error",
    mime_col: str = "mime_type",
    max_text_length: int = -1,
) -> DataFrame:
    """Pluggable OCR stage (VERDICT r11 task 6) for the needs_ocr
    port: the reference's Tika stack auto-applies Tesseract to
    image-only PDFs ("Tesseract OCR is installed and will be
    automatically applied", ExtractTextProcessorTest surefire log);
    this container has no OCR library, so the EXECUTION half stays a
    caller-supplied hook — `ocr_fn(raw_bytes) -> text` — while the
    detection half (flag_needs_ocr) and this plumbing are real.

    Output honours the A5/A6/A8 contract exactly like extract_text's
    own branches (ExtractTextProcessor.java:148-223):
      success -> `text` = OCR output (truncated to max_text_length
                 when >= 0, the A3 bound), `error` = NULL,
                 `mime_type` = 'text/plain' (A8);
      ocr_fn raised -> `text` = '' and mime attrs UNSET (A6 quirk:
                 the failure FlowFile has empty content and no mime
                 attributes), `error` = "<Type>: <msg>".

    Rows flow back into the success stream schema-unchanged, so
    `document_flow(ocr_fn=...)` can union them with the ready port.
    Batched mapInPandas: ocr_fn runs executor-side per document —
    Spark parallelism is per-partition, no driver round-trip."""
    if content_col not in df.columns:
        raise ValueError(
            f"apply_ocr needs {content_col!r} — run "
            "extract_text(keep_content=True)")
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields)
    cap = int(max_text_length)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, errors, mimes = [], [], []
            for i in range(len(pdf)):
                blob = pdf[content_col].iloc[i]
                try:
                    if blob is None:
                        raise ValueError("Input file was null")
                    text = ocr_fn(bytes(blob))
                    if text is None:
                        text = ""
                    if cap >= 0:
                        text = text[:cap]
                    texts.append(text)
                    errors.append(None)
                    mimes.append("text/plain")
                except Exception as exc:  # noqa: BLE001 — A6 capture
                    texts.append("")
                    errors.append(f"{type(exc).__name__}: {exc}")
                    mimes.append(None)
            out = pdf.copy()
            out[text_col] = texts
            out[error_col] = errors
            out[mime_col] = mimes
            yield out

    return df.mapInPandas(_run, schema=schema)


def route_by_error(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A9: (success, failure) pair — REL_SUCCESS / REL_FAILURE (:96-100).

    One narrow filter each; Catalyst pushes the predicate into both
    plans. Callers fanning out to multiple sinks should .cache() `df`
    first (SURVEY §3 — the template's queue fan-out made explicit);
    `plans.flow.document_flow` now does this itself.
    """
    return (df.filter(F.col("error").isNull()),
            df.filter(F.col("error").isNotNull()))


def media_metadata(
    df: DataFrame,
    content_col: str = "content",
    filename_col: str = "filename",
    max_attrs: int = 5000,
    max_attr_len: int = 2048,
) -> DataFrame:
    """B3 ExtractMediaMetadata → `metadata: map<string,string>`.

    Caps mirror the template config (56409-tika.xml:1761 region:
    Max Number of Attributes=5000, Max Attribute Length=2048).
    """
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["metadata MAP<STRING,STRING>"])
    has_filename = filename_col in df.columns

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from nifi_extracttext_processor_spark.formats import detect_mime
        from nifi_extracttext_processor_spark.formats.image_meta import (
            image_dimensions, mp3_metadata, wav_metadata,
        )
        from nifi_extracttext_processor_spark.formats.metadata import (
            eml_headers, html_title, odf_meta, ooxml_core_props, pdf_info,
        )
        from nifi_extracttext_processor_spark.formats.oleps import (
            summary_info,
        )

        for pdf in batches:
            metas = []
            fnames = pdf[filename_col] if has_filename else None
            for i, blob in enumerate(pdf[content_col]):
                data = bytes(blob) if blob is not None else None
                fname = fnames.iloc[i] if fnames is not None else None
                md: dict[str, str] = {}
                if data is not None:
                    mime = detect_mime(data, fname)
                    md["Content-Type"] = mime
                    md["Content-Length"] = str(len(data))
                    if fname:
                        md["resourceName"] = str(fname)
                    try:  # metadata is best-effort: never fail the task
                        if data.startswith(b"%PDF-"):
                            md["pdf:PDFVersion"] = data[5:8].decode(
                                "ascii", "replace")
                            md.update(pdf_info(data))
                        elif data.startswith(b"PK\x03\x04"):
                            if mime == "application/epub+zip":
                                from nifi_extracttext_processor_spark \
                                    .formats.epub import epub_metadata
                                md.update(epub_metadata(data))
                            else:
                                md.update(ooxml_core_props(data))
                                md.update(odf_meta(data))
                        elif data.startswith(
                                b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"):
                            md.update(summary_info(data))
                            if mime == "application/vnd.ms-outlook":
                                from nifi_extracttext_processor_spark \
                                    .formats.msg import msg_headers
                                md.update(msg_headers(data))
                        elif mime == "message/rfc822":
                            md.update(eml_headers(data))
                        elif mime.startswith("image/"):
                            # Tika ImageParser surface: dimensions/depth
                            # from the header (tiff:* property names);
                            # HEIF/AVIF dims come from the ISO-BMFF walk
                            if len(data) >= 12 and data[4:8] == b"ftyp":
                                from nifi_extracttext_processor_spark \
                                    .formats.av_meta import mp4_metadata
                                md.update(mp4_metadata(data))
                            else:
                                md.update(image_dimensions(data))
                        elif mime.startswith("audio/") \
                                or mime == "application/ogg":
                            from nifi_extracttext_processor_spark \
                                .formats.av_meta import (
                                    flac_metadata, mp4_metadata,
                                    ogg_metadata,
                                )
                            md.update(wav_metadata(data))
                            md.update(mp3_metadata(data))
                            md.update(flac_metadata(data))
                            md.update(ogg_metadata(data))
                            md.update(mp4_metadata(data))  # audio/mp4
                        elif mime.startswith("video/"):
                            from nifi_extracttext_processor_spark \
                                .formats.av_meta import (
                                    avi_metadata, mp4_metadata,
                                )
                            md.update(mp4_metadata(data))
                            md.update(avi_metadata(data))
                        elif mime == "text/html":
                            title = html_title(data)
                            if title:
                                md["dc:title"] = title
                    except Exception:
                        pass
                md = dict(list(md.items())[:max_attrs])
                metas.append({k: v[:max_attr_len] for k, v in md.items()})
            pdf = pdf.copy()
            pdf["metadata"] = metas
            yield pdf

    return df.mapInPandas(_run, schema=schema)


def repartition_for_docs(df: DataFrame, target_partitions: int) -> DataFrame:
    """Spread few-big-docs / coalesce many-small-docs before extraction.

    At 100 TB the binary scan's partition count tracks file count/size;
    extraction cost tracks document complexity. A cheap round-robin
    repartition decouples the two (SURVEY §4 'Parallelism').
    """
    return df.repartition(target_partitions)


def extract_main_content(
    df: DataFrame,
    content_col: str = "content",
    out_col: str = "main_text",
    compute_ratio: bool = True,
) -> DataFrame:
    """Boilerplate removal: jusText-style main-content extraction from
    HTML content columns (formats/boilerplate.py) — the training-data
    counterpart to extract_text's flatten-everything Tika parity.
    Adds `out_col` (the GOOD-block text, '' when nothing survives)
    and, when `compute_ratio`, `{out_col}_ratio` (main/total text
    fraction — a per-document boilerplate metric worth filtering on).
    `content_col` may be BINARY (raw bytes, decoded utf-8→latin-1
    fallback) or STRING (already-decoded HTML — preferred when an
    upstream parser honored the page's declared charset, e.g. the
    WARC reader's `text` column; re-decoding payload bytes here
    would mojibake Shift_JIS/cp1251 pages).
    The ratio costs a SECOND full HTML parse per document
    (html_to_text for the denominator) — pass compute_ratio=False
    when the column would be dropped (plans/web_corpus.py does).
    Map-only, no shuffle."""
    schema_fields = [f"`{f.name}` {f.dataType.simpleString()}"
                     for f in df.schema.fields] + [f"{out_col} STRING"]
    if compute_ratio:
        schema_fields.append(f"{out_col}_ratio DOUBLE")
    schema = ", ".join(schema_fields)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from nifi_extracttext_processor_spark.formats.boilerplate import (
            html_main_content,
        )
        from nifi_extracttext_processor_spark.formats.html import (
            html_to_text,
        )

        for pdf in batches:
            pdf = pdf.copy()
            mains, ratios = [], []
            for b in pdf[content_col]:
                if b is None:
                    raw: bytes | str = b""
                elif isinstance(b, str):
                    raw = b  # pre-decoded text — trust it
                else:
                    raw = bytes(b)
                main = html_main_content(raw)
                mains.append(main)
                if compute_ratio:
                    full = html_to_text(raw)
                    ratios.append(round(len(main) / len(full), 6)
                                  if full else 0.0)
            pdf[out_col] = mains
            if compute_ratio:
                pdf[f"{out_col}_ratio"] = ratios
            yield pdf

    return df.mapInPandas(_run, schema=schema)


def extract_tables(
    df: DataFrame,
    content_col: str = "content",
) -> DataFrame:
    """Structured <table> extraction from HTML content: one output row
    per table row — (passthrough..., table_no, row_no, cells
    ARRAY<STRING>) — via formats/html.py:extract_html_tables (total:
    damaged markup degrades, never raises; documents without tables
    emit nothing). The structured counterpart to extract_text's flat
    text for table-heavy sources (wikis, financial filings). Map-only
    Arrow kernel, no shuffle. The content column is DROPPED from the
    output — replicating the raw page bytes into every emitted table
    row would multiply them by the table row count. Accepts BINARY or
    STRING content."""
    pass_cols = [f.name for f in df.schema.fields
                 if f.name != content_col]
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in df.schema.fields if f.name != content_col]
        + ["table_no INT", "row_no INT", "cells ARRAY<STRING>"])

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from nifi_extracttext_processor_spark.formats.html import (
            extract_html_tables,
        )

        for pdf in batches:
            rows = []
            for j in range(len(pdf)):
                raw = pdf[content_col].iloc[j]
                if raw is None:
                    raw = b""
                elif not isinstance(raw, (bytes, str)):
                    raw = bytes(raw)
                tables = extract_html_tables(raw)
                base = pdf.iloc[j][pass_cols]
                for ti, t in enumerate(tables):
                    for ri, r in enumerate(t):
                        rec = base.to_dict()
                        rec["table_no"] = ti
                        rec["row_no"] = ri
                        rec["cells"] = r
                        rows.append(rec)
            yield pd.DataFrame(
                rows, columns=pass_cols
                + ["table_no", "row_no", "cells"])

    return df.mapInPandas(_run, schema=schema)
