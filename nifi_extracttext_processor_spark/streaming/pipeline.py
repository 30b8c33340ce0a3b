"""Structured Streaming parity (SURVEY §1.3): NiFi is an always-on
micro-batcher; the Spark equivalent is a file-source stream with
`maxFilesPerTrigger` (≈ queue back-pressure, B19) and
`trigger(availableNow=True)` for drain-the-directory runs.

The reference needs no watermarks (no event-time ops), but
`windowed_event_counts` shows the watermarked shape used by the
events-stream extension, and `sessionize_events` demonstrates custom
stateful logic via applyInPandasWithState.

The foreachBatch sinks land every micro-batch as a `batch=<id>`
partition through sources.tables.land_batch (dynamic partition
overwrite, so an at-least-once replay rewrites its own partition).
Two layouts share that write:
  * a UNION catalog (stream_web_corpus, stream_image_dedup,
    stream_audio_dedup): every batch counts and sources.tables
    .read_catalog reads them all; compact_catalog is safe;
  * a SNAPSHOT store (stream_scd2 and the _snapshot_sink family):
    each batch lands the FULL state, sources.tables.latest_batch
    reads the newest; compaction is never safe (it unions the
    snapshots, and latest_batch then raises).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..operators.rounding import dround
from ..sources.tables import land_batch, latest_batch, read_catalog

from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)


def read_document_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 100,
    glob: str | None = None,
) -> DataFrame:
    """Streaming binaryFile source with back-pressure (B19:
    maxFilesPerTrigger ≈ the 10k-object queue ceiling,
    56409-tika.xml:21-22)."""
    reader = (spark.readStream.format("binaryFile")
              .schema("path STRING, modificationTime TIMESTAMP, "
                      "length LONG, content BINARY")
              .option("maxFilesPerTrigger", max_files_per_trigger))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    return df.withColumn(
        "filename", F.element_at(F.split(F.col("path"), "/"), -1))


def drain_directory(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    transform=None,
    fmt: str = "parquet",
) -> None:
    """availableNow drain: process everything currently in the
    directory through the extraction pipeline, then stop — the batch-
    parity mode of the always-on flow."""
    from ..operators.extract import extract_text

    stream = read_document_stream(spark, input_path)
    out = transform(stream) if transform else extract_text(stream)
    q = (out.writeStream.format(fmt)
         .option("path", output_path)
         .option("checkpointLocation", checkpoint_path)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def foreach_batch_routes(
    routes_sql: dict[str, str],
    sinks: dict[str, object],
):
    """B12-in-streaming: per micro-batch, evaluate route predicates once
    over the cached batch and hand each route to its sink callable."""
    from ..operators.routing import query_routes

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            routed = query_routes(batch_df, routes_sql, cache=False)
            for name, df in routed.items():
                sink = sinks.get(name)
                if sink is not None:
                    sink(df, batch_id)
        finally:
            batch_df.unpersist()
    return _fn


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts — the late-data-safe shape of
    the events_window_agg extension query."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 dround(F.sum("value"), 2).alias("total_value"))
            .select(F.col("w.start").alias("hour"), "event_type",
                    "n_events", "total_value"))


def stream_dedup_exact(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival of each normalized
    fingerprint within the watermark horizon.

    100 TB posture: state holds only (fingerprint, window) keys — 32
    bytes per distinct doc inside the horizon, evicted by the watermark
    (dropDuplicatesWithinWatermark), so state size is bounded by the
    dedup window, not the corpus. The text itself never enters state.
    """
    from ..operators.dedup import _norm

    return (docs
            .withColumn("fingerprint", F.md5(_norm(text_col)))
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["fingerprint"]))


def stream_dedup_near(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    n: int | None = None,
    k: int | None = None,
    rows: int | None = None,
) -> DataFrame:
    """Streaming MinHash-band near-dedup: per-band first-claim verdicts
    with watermark-bounded per-band state — the always-on ingest twin of
    the batch minhash_lsh_pairs / dedup_exact_incremental shape.

    Each doc explodes to its LSH band keys (same shingle→minhash→band
    constants as the batch path); a custom stateful operator
    (applyInPandasWithState, keyed by band key) marks whether the band
    was already claimed by an earlier doc — in a previous micro-batch
    (cross-batch state) or earlier in this one. Output is one verdict
    row per (doc, band): ``(doc_id, bkey, new_band)``.

    A doc is a near-dup candidate iff ANY of its bands was already
    claimed (LSH collision semantics, no exact-verify stage — same
    recall/precision contract as the batch band join's candidate set).
    All of a doc's bands land in the same micro-batch, so the doc-level
    collapse is per-batch-correct: apply `near_dup_survivors` inside
    foreachBatch (or over the drained output).

    100 TB posture: state is one tiny tuple per distinct band key inside
    the watermark horizon — no text, no shingles, no signatures in
    state; event-time timeout evicts bands `watermark` past the max
    observed event time, so state is bounded by the dedup window, not
    the corpus.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import BooleanType

    from ..operators.dedup import (
        DEFAULT_BAND_ROWS, DEFAULT_NUM_HASHES, DEFAULT_SHINGLE_N,
        minhash_bands, minhash_halves, minhash_signature_from_halves,
        shingles,
    )

    n = n or DEFAULT_SHINGLE_N
    k = k or DEFAULT_NUM_HASHES
    rows = rows or DEFAULT_BAND_ROWS

    horizon_ms = _duration_ms(watermark)

    banded = (docs
              .withWatermark(ts_col, watermark)
              .withColumn("sh", shingles(text_col, n))
              .withColumn("halves", minhash_halves(F.col("sh")))
              .withColumn("sig", minhash_signature_from_halves(
                  F.col("halves"), k))
              .select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(ts_col).alias("ts"),
                      F.posexplode(F.array(*minhash_bands(
                          F.col("sig"), k, rows)))
                      .alias("band_id", "band_key"))
              .select("doc_id", "ts",
                      F.concat_ws(":", "band_id", "band_key")
                      .alias("bkey")))

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("bkey", StringType()),
        StructField("new_band", BooleanType()),
    ])
    # the claim's expiry (event-time ms) lives IN the state: a group
    # that receives data in the very batch its timeout lapsed is
    # invoked with hasTimedOut=False, so eviction must also be checked
    # against the current watermark on the data path
    state_schema = StructType([StructField("expiry_ms", LongType())])

    def update(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame([], columns=["doc_id", "bkey", "new_band"])
            return
        wm = state.getCurrentWatermarkMs()
        seen = False
        old_expiry = None
        if state.exists:
            (old_expiry,) = state.get
            seen = old_expiry is None or wm < old_expiry  # claim valid?
        out = []
        max_ts_ms = None
        for pdf in pdf_iter:
            for doc_id, ts in sorted(
                    zip(pdf["doc_id"], pdf["ts"]),
                    key=lambda t: (t[1], t[0])):
                out.append({"doc_id": int(doc_id), "bkey": key[0],
                            "new_band": not seen})
                seen = True
                ts_ms = int(ts.timestamp() * 1000)
                max_ts_ms = (ts_ms if max_ts_ms is None
                             else max(max_ts_ms, ts_ms))
        # evict this band's claim `watermark` past the max event time
        # seen for it — dropDuplicatesWithinWatermark semantics.
        # `is not None` (not truthiness): a legitimate 0-ms
        # expiry/timestamp (epoch boundary, synthetic test clocks)
        # must not be dropped from the max
        new_expiry = (None if max_ts_ms is None
                      else max_ts_ms + horizon_ms)
        candidates = [v for v in (old_expiry, new_expiry)
                      if v is not None]
        expiry = max(candidates) if candidates else horizon_ms
        state.update((expiry,))
        state.setTimeoutTimestamp(expiry)
        yield pd.DataFrame(out, columns=["doc_id", "bkey", "new_band"])

    return (banded.groupBy("bkey").applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout))


def dedup_near_bands_batch(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    n: int | None = None,
    k: int | None = None,
    rows: int | None = None,
) -> DataFrame:
    """Deterministic BATCH twin of ``stream_dedup_near``'s band-claim
    verdicts — the oracle-checkable statement of that operator's
    contract. Same shingle→minhash→band constants, same output shape
    ``(doc_id, bkey, new_band)``.

    Semantics: ``new_band`` is true iff NO event carrying the same
    band key occurred within ``watermark`` before this event in
    (ts, id) order — i.e. a band claim expires ``watermark`` after the
    last event carrying it, evaluated per event. This is the
    continuous (per-event watermark) limit of the streaming operator:
    stream_dedup_near GUARANTEES suppression for within-horizon
    repeats and, like dropDuplicatesWithinWatermark, may additionally
    suppress repeats somewhat past the horizon because a claim's
    expiry is checked against the micro-batch watermark, which trails
    the max observed event time by ``watermark``. Where the stream's
    watermark has advanced past a claim before the repeat arrives, the
    two agree exactly (equivalence-tested in tests/test_streaming.py).

    Scale: one hash pass, then the verdict is a lag() over a window
    partitioned by band key — partition size = the band's collision
    group (duplicate cluster), the same bound as the batch LSH band
    join's bucket size.

    Why this has no __spark_entry__ slot: the driver's correctness
    window records exactly 50 queries and all 50 are occupied, so this
    twin carries its DuckDB oracle in pytest
    (test_batch_twin_matches_duckdb_oracle) instead — same
    side-by-side value check, run per round by the suite.
    """
    from pyspark.sql.window import Window

    from ..operators.dedup import (
        DEFAULT_BAND_ROWS, DEFAULT_NUM_HASHES, DEFAULT_SHINGLE_N,
        minhash_bands, minhash_halves, minhash_signature_from_halves,
        shingles,
    )

    n = n or DEFAULT_SHINGLE_N
    k = k or DEFAULT_NUM_HASHES
    rows = rows or DEFAULT_BAND_ROWS
    horizon_ms = _duration_ms(watermark)

    banded = (docs
              .withColumn("sh", shingles(text_col, n))
              .withColumn("halves", minhash_halves(F.col("sh")))
              .withColumn("sig", minhash_signature_from_halves(
                  F.col("halves"), k))
              .select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(ts_col).alias("ts"),
                      F.posexplode(F.array(*minhash_bands(
                          F.col("sig"), k, rows)))
                      .alias("band_id", "band_key"))
              .select("doc_id", "ts",
                      F.concat_ws(":", "band_id", "band_key")
                      .alias("bkey")))
    w = Window.partitionBy("bkey").orderBy("ts", "doc_id")
    ms = F.unix_millis(F.col("ts"))
    prev_ms = F.lag(ms).over(w)
    return (banded
            .withColumn("new_band",
                        prev_ms.isNull()
                        | (ms - prev_ms > F.lit(horizon_ms)))
            .select("doc_id", "bkey", "new_band"))


def dedup_near_bands_batch_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    ts_expr: str = "ts",
    watermark_ms: int = 3_600_000,
    n: int | None = None,
    k: int | None = None,
    rows: int | None = None,
) -> str:
    """DuckDB twin of dedup_near_bands_batch (same hash constants)."""
    from ..operators.dedup import (
        DEFAULT_BAND_ROWS, DEFAULT_NUM_HASHES, DEFAULT_SHINGLE_N,
        minhash_halves_sql, minhash_signature_sql, shingles_sql,
    )

    n = n or DEFAULT_SHINGLE_N
    k = k or DEFAULT_NUM_HASHES
    rows = rows or DEFAULT_BAND_ROWS
    sh = shingles_sql(text_expr, n)
    halves = minhash_halves_sql("sh")
    sig = minhash_signature_sql("halves", k)
    band_exprs = []
    for b in range(k // rows):
        slots = [f"sig[{b * rows + r + 1}]" for r in range(rows)]
        band_exprs.append(" || '|' || ".join(slots))
    bands_list = ", ".join(band_exprs)
    # concat_ws-compatible: a NULL band key (empty doc) drops the ':'
    return f"""
WITH sh_t AS (
  SELECT {id_col}::BIGINT AS doc_id, {ts_expr} AS ts, {sh} AS sh
  FROM {table}
), sig_t AS (
  SELECT doc_id, ts, {sig} AS sig
  FROM (SELECT doc_id, ts, {halves} AS halves FROM sh_t)
), keyed AS (
  SELECT doc_id, ts,
         band_id::VARCHAR
           || CASE WHEN band_key IS NULL THEN '' ELSE ':' || band_key
              END AS bkey
  FROM (SELECT doc_id, ts,
               unnest(range({k // rows})) AS band_id,
               unnest([{bands_list}]) AS band_key
        FROM sig_t)
)
SELECT doc_id, bkey,
       coalesce(epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                  (PARTITION BY bkey ORDER BY ts, doc_id)
                > {watermark_ms}, TRUE) AS new_band
FROM keyed
"""


def near_dup_survivors(verdicts: DataFrame,
                       id_col: str = "doc_id") -> DataFrame:
    """Collapse stream_dedup_near band verdicts to surviving doc ids:
    a doc survives iff EVERY band it carries was new (shares no band
    with any earlier doc). Batch helper — run inside foreachBatch or
    over the drained verdict output."""
    return (verdicts.groupBy(id_col)
            .agg(F.min("new_band").alias("all_new"))
            .filter(F.col("all_new"))
            .select(id_col))


def _duration_ms(s: str) -> int:
    """'10 minutes' / '1 hour' / '30 seconds' → milliseconds."""
    qty, unit = s.strip().split()
    unit = unit.rstrip("s")
    factor = {"millisecond": 1, "second": 1000, "minute": 60_000,
              "hour": 3_600_000, "day": 86_400_000}[unit]
    return int(float(qty) * factor)


SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("first_ts", TimestampType()),
    StructField("last_ts", TimestampType()),
])

_SESSION_STATE = StructType([
    StructField("n", LongType()),
    StructField("first_ts", TimestampType()),
    StructField("last_ts", TimestampType()),
])


def sessionize_events(events: DataFrame,
                      gap: str = "30 minutes") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    session aggregation with a processing-time timeout — the pattern
    for operators Spark's built-ins can't express."""
    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout,
    )

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd
        n = 0
        first_ts = last_ts = None
        if state.exists:
            n, first_ts, last_ts = state.get
        for pdf in pdf_iter:
            n += len(pdf)
            lo, hi = pdf["ts"].min(), pdf["ts"].max()
            first_ts = lo if first_ts is None else min(first_ts, lo)
            last_ts = hi if last_ts is None else max(last_ts, hi)
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame([{
                "user_id": key[0], "n_events": n,
                "first_ts": first_ts, "last_ts": last_ts}])
        else:
            state.update((n, first_ts, last_ts))
            state.setTimeoutDuration(gap)
            yield pd.DataFrame(
                [], columns=["user_id", "n_events", "first_ts", "last_ts"])

    return (events.groupBy("user_id").applyInPandasWithState(
        update, SESSION_SCHEMA, _SESSION_STATE, "update",
        GroupStateTimeout.ProcessingTimeTimeout))


def stream_semantic_dedup(
    vectors: DataFrame,
    catalog_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    k: int = 8,
    iters: int = 2,
):
    """foreachBatch wiring for operators.clustering.
    semantic_dedup_incremental: each micro-batch prunes against the
    parquet kept-catalog at `catalog_dir` and APPENDS its survivors
    (id + embedding) there. The first batch bootstraps an empty
    catalog (centroids fit on the batch itself — the operator's
    documented bootstrap path).

    Returns the foreachBatch callable — attach with
    ``stream.writeStream.foreachBatch(...)``.

    100 TB posture: the catalog is an append-only parquet table (no
    state store growth inside Spark); each batch reads it once,
    shuffles only on the cluster key, and appends only survivors.
    For stable geometry across many batches, freeze centroids after
    the catalog is large enough and pass them via functools.partial
    (re-fitting each batch re-clusters the WHOLE catalog)."""
    from ..operators.clustering import semantic_dedup_incremental

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vec = batch_df.select(id_col, vec_col)
        catalog = read_catalog(spark, catalog_dir, (id_col, vec_col))
        if catalog is None:   # first batch: no catalog yet
            catalog = vec.limit(0)
        kept = semantic_dedup_incremental(
            vec, catalog, id_col=id_col, vec_col=vec_col,
            threshold=threshold, k=k, iters=iters)
        (vec.join(kept.select(id_col), id_col)
         .write.mode("append").parquet(catalog_dir))

    return _batch


def read_warc_stream(
    spark: SparkSession,
    path: str,
    glob: str | None = "*.warc.gz",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Streaming WARC/WET ingestion: the always-on twin of
    sources.warc.read_warc — a binaryFile file-source stream (segments
    land in a directory, e.g. a crawler's output bucket) through the
    SAME parse kernel, one record per row. `maxFilesPerTrigger`
    bounds a micro-batch to N segments (~N GiB at Common Crawl
    granularity) — the back-pressure knob (B19)."""
    reader = (spark.readStream.format("binaryFile")
              .schema("path STRING, modificationTime TIMESTAMP, "
                      "length LONG, content BINARY")
              .option("maxFilesPerTrigger", max_files_per_trigger))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    from ..sources.warc import parse_warc_df
    return parse_warc_df(reader.load(path))


def stream_web_corpus(
    output_dir: str,
    catalog_dir: str,
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.5,
    remove_boilerplate: bool = True,
    normalize: bool = True,
    lm_model: "tuple | str | None" = None,
    lm_n: int = 3,
    max_nll: float | None = None,
    classifier: "tuple | str | None" = None,
    min_classifier_prob: float | None = None,
):
    """foreachBatch wiring of the web-corpus plan for streaming WARC
    ingestion: per micro-batch — boilerplate removal → normalization
    (mojibake repair + NFC + cleanup; MUST match the batch plan, or
    batch and streaming runs fingerprint the SAME content differently
    and the cross-batch catalog stops deduplicating across the two) →
    within-batch canonical-URL dedup → lang/quality filters →
    exact-content dedup against the persisted fingerprint catalog
    (plans/web_corpus.py stage order) — then land survivors under
    `output_dir` and their fingerprints under `catalog_dir`, BOTH
    partitioned by `batch=<batch_id>` in dynamic-partition-overwrite
    mode (the same crash-idempotency construction as
    ingest_warc_incremental): foreachBatch is at-least-once, so a
    replayed batch must overwrite its own partition instead of
    appending the same documents twice. The two replay windows both
    converge — output committed but fingerprints not: the replay
    recomputes the identical survivor set (file-source batches are
    deterministic per batch_id) and re-overwrites both partitions;
    output AND fingerprints committed but the checkpoint not: the
    replayed rows all dedup out against their own fingerprints, the
    empty write touches no partitions, and the first run's data
    stands. Downstream readers see `batch` as an extra partition
    column (as the batch path sees `segment`).

    Cross-batch contracts: content dups are caught across ALL batches
    via the append-only fingerprint catalog (the same no-state-store
    posture as stream_dedup_exact/stream_semantic_dedup); URL dups are
    collapsed within a batch only (a URL re-crawled later usually
    carries changed content — when it does not, the fingerprint
    catalog catches it anyway). Char-LM scoring: pass `lm_model` =
    the (ngram_counts, context_counts, vocab_size) triple from
    operators.lm.train_char_lm — or a str path saved with
    models.save_char_lm (resolved once, on the first batch) —
    PRE-TRAINED on a reference corpus
    (the CCNet pattern) — each batch is then scored against the SAME
    broadcast model, so scores are batch-independent: two drains
    score identically to one (pytest-asserted). `max_nll` filters on
    the score; None keeps the nll column without filtering. Training
    a fresh LM per micro-batch would make scores depend on batch
    composition, which is why no self-training default exists here.
    `classifier` = (weights, bias) from
    classifier.train_text_classifier — or a str path saved with
    models.save_classifier — works the same way: the
    PRE-TRAINED model broadcasts into every batch, so clf_prob is
    batch-independent (two drains == one, pytest-asserted);
    `min_classifier_prob` gates on it.

    MIGRATION: fingerprints are computed over the NORMALIZED text,
    so changing `normalize` (or upgrading from a version that did not
    normalize) invalidates an existing fingerprint catalog — rebuild
    it (re-fingerprint output_dir) or pass normalize=False to stay
    byte-compatible with a legacy catalog.

    Returns the foreachBatch callable — attach with
    ``read_warc_stream(...).writeStream.foreachBatch(...)``.
    """
    from ..operators.dedup import dedup_exact_incremental
    from ..operators.text_analysis import (
        dedup_by_url, fingerprint, language_id, quality_score,
        token_stats,
    )
    from ..plans.web_corpus import _records_to_documents

    # path-form models resolve ONCE (first batch) and stay pinned for
    # the stream's lifetime — the train-once/score-for-months contract
    _resolved: dict = {}

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if lm_model is not None and "lm" not in _resolved:
            if isinstance(lm_model, str):
                from ..operators.models import load_char_lm
                c_, x_, v_, _cfg = load_char_lm(spark, lm_model)
                _resolved["lm"] = (c_, x_, v_)
            else:
                _resolved["lm"] = lm_model
        if classifier is not None and "clf" not in _resolved:
            if isinstance(classifier, str):
                from ..operators.models import load_classifier
                w_, b_, cfg_ = load_classifier(spark, classifier)
                _resolved["clf"] = (w_, b_,
                                    cfg_.get("hash_method", "xxhash64"))
            else:
                _resolved["clf"] = (classifier[0], classifier[1],
                                    "xxhash64")
        docs = _records_to_documents(batch_df, remove_boilerplate)
        if normalize:
            from ..operators.normalize import normalize_and_clean
            docs = normalize_and_clean(docs, "text")
        docs = dedup_by_url(docs, id_col="doc_id", url_col="url")
        docs = quality_score(language_id(docs, "text"), "text")
        docs = docs.filter(F.col("lang_pred").isin(list(langs))
                           & (F.col("quality") >= min_quality))
        if lm_model is not None:
            # same stage position as prepare_web_corpus: score after
            # the cheap filters, before the exact-dedup anti-join
            from ..operators.lm import lm_score
            counts, ctx, vocab = _resolved["lm"]
            scores = lm_score(docs, counts, ctx, vocab,
                              id_col="doc_id", text_col="text",
                              n=lm_n)
            docs = docs.join(scores, "doc_id")
            if max_nll is not None:
                docs = docs.filter(F.col("nll") <= max_nll)
        if classifier is not None:
            from ..operators.classifier import score_text
            cw, cb, chm = _resolved["clf"]
            cs = (score_text(docs.select("doc_id", "text"), cw, cb,
                             hash_method=chm)
                  .select("doc_id", F.col("prob").alias("clf_prob")))
            docs = docs.join(cs, "doc_id")
            if min_classifier_prob is not None:
                docs = docs.filter(
                    F.col("clf_prob") >= min_classifier_prob)
        catalog = read_catalog(spark, catalog_dir, ("fingerprint",))
        if catalog is None:   # first batch bootstraps; corrupt raises
            catalog = (docs.select(F.md5("text").alias("fingerprint"))
                       .limit(0))
        kept = dedup_exact_incremental(docs, catalog,
                                       id_col="doc_id",
                                       text_col="text")
        kept = token_stats(kept, "text").localCheckpoint(eager=True)
        land_batch(kept, output_dir, batch_id)
        land_batch(fingerprint(kept.select("doc_id", "text"), "text")
                   .select("fingerprint"), catalog_dir, batch_id)

    return _batch


def stream_interval_join(
    left,
    right,
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    by: str | None = None,
    max_duration: str = "1 hour",
    watermark: str = "10 minutes",
    right_cols: "tuple[str, ...] | None" = None,
):
    """Stream-stream interval join: match every left event to the
    right validity windows containing it (start <= ts <= end,
    inclusive — the same semantics as the batch
    operators.temporal.interval_join) with BOUNDED state.

    Spark's stream-stream join evicts state only when the condition
    bounds the two sides' event times against each other, so this
    wrapper requires `max_duration` — the maximum interval length —
    and adds `ts <= start + max_duration` to the condition (an
    interval longer than max_duration matches only its first
    max_duration; choose it >= the true maximum). Both sides carry
    `watermark` on their event-time columns, so late rows beyond it
    are dropped and join state for passed windows is freed — without
    the bound + watermarks the state store grows forever.

    Inner join only: Spark's outer stream-stream joins need both
    sides' watermark semantics for NULL emission and arrive with
    unbounded result latency — run the batch interval_join over the
    landed data when left-outer completeness matters.
    """
    from pyspark.sql import functions as F

    if right_cols is None:
        drop = {start_col, end_col} | ({by} if by else set())
        right_cols = tuple(c for c in right.columns if c not in drop)
    clash = [c for c in right_cols if c in left.columns]
    if clash:
        raise ValueError(
            f"right_cols {clash} collide with left columns — alias "
            "the right payload before joining")
    l2 = left.withWatermark(ts_col, watermark)
    r2 = (right.filter(F.col(end_col) >= F.col(start_col))
          .withWatermark(start_col, watermark))
    cond = ((l2[ts_col] >= r2[start_col])
            & (l2[ts_col] <= r2[end_col])
            & (l2[ts_col] <= r2[start_col]
               + F.expr(f"INTERVAL {max_duration}")))
    if by:
        cond = (l2[by] == r2[by]) & cond
    return (l2.join(r2, cond, "inner")
            .select(*[l2[c] for c in left.columns],
                    *[r2[c] for c in right_cols]))


def stream_image_dedup(
    output_dir: str,
    catalog_dir: str,
    content_col: str = "content",
    id_col: str = "media_id",
    max_hamming: int = 6,
    fake: bool = False,
):
    """foreachBatch wiring of perceptual image dedup with hamming > 0
    matching — the banded catalog join Structured Streaming's
    dropDuplicates operator cannot express (stream_phash_dedup covers
    the exact-hash case with bounded state; this covers near-dups,
    cross-batch, with an append-only hash catalog instead of state).

    Per micro-batch: phash_dedup_incremental against the persisted
    catalog (band join on hashes only) → survivors land under
    `output_dir` and their hashes under `catalog_dir`, BOTH
    partitioned by batch=<id> in dynamic-partition-overwrite mode —
    the stream_web_corpus crash-idempotency construction: an
    at-least-once replay overwrites its own partition, and a replay
    after the catalog committed dedups out against its own hashes.
    Compact the catalog with sources.tables.compact_catalog (the
    default fold — the batch partition is bookkeeping, not a pruning
    key).

    Returns the foreachBatch callable — attach with
    ``read_document_stream(...).writeStream.foreachBatch(...)``."""
    from ..operators.image_dedup import (
        phash64_table, phash_dedup_incremental,
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        catalog = read_catalog(spark, catalog_dir, ("phash",))
        if catalog is None:   # first batch bootstraps; corrupt raises
            catalog = spark.createDataFrame([], "phash string")
        kept = phash_dedup_incremental(
            batch_df, catalog, content_col=content_col,
            id_col=id_col, max_hamming=max_hamming, fake=fake)
        kept = kept.localCheckpoint(eager=True)
        land_batch(kept, output_dir, batch_id)
        land_batch(phash64_table(kept, content_col, id_col,
                                 out_col="phash", fake=fake)
                   .select("phash").filter(F.col("phash").isNotNull())
                   .distinct(), catalog_dir, batch_id)

    return _batch


def stream_audio_dedup(
    output_dir: str,
    catalog_dir: str,
    content_col: str = "content",
    id_col: str = "media_id",
    min_matches: int = 5,
    max_hash_freq: "int | None" = None,
    fake: bool = False,
):
    """foreachBatch wiring of audio fingerprint dedup — the
    stream_image_dedup construction for the audio modality: per
    micro-batch audio_dedup_incremental against the persisted
    fingerprint catalog (hash join + offset histogram, never
    waveforms in the join), survivors under `output_dir` and their
    fingerprints under `catalog_dir`, BOTH batch=<id>-partitioned in
    dynamic-overwrite mode so an at-least-once replay overwrites its
    own partition and dedups against its own fingerprints
    (crash-idempotent). Compact the catalog with
    sources.tables.compact_catalog (default fold — the batch
    partition is bookkeeping).

    Returns the foreachBatch callable."""
    from ..operators.audio_dedup import (
        audio_dedup_incremental, audio_fingerprints,
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        catalog = read_catalog(spark, catalog_dir,
                               ("cat_id", "t", "fp"))
        if catalog is None:   # first batch bootstraps; corrupt raises
            catalog = spark.createDataFrame(
                [], "cat_id string, t int, fp string")
        kept = audio_dedup_incremental(
            batch_df, catalog, content_col=content_col,
            id_col=id_col, min_matches=min_matches,
            max_hash_freq=max_hash_freq, fake=fake)
        kept = kept.localCheckpoint(eager=True)
        land_batch(kept, output_dir, batch_id)
        land_batch(audio_fingerprints(kept, id_col=id_col,
                                      content_col=content_col, fake=fake)
                   .filter(F.col("fp").isNotNull())
                   .select(F.col(id_col).cast("string").alias("cat_id"),
                           "t", "fp"), catalog_dir, batch_id)

    return _batch


def stream_scd2(
    history_dir: str,
    key_cols: "list[str]",
    attr_cols: "list[str]",
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
):
    """foreachBatch wiring of SCD Type-2 maintenance: each micro-batch
    of change records merges into the dimension history — the
    streaming leg of the scd family (scd2_from_changelog = batch
    bootstrap, scd2_merge = nightly snapshot, this = continuous).

    Per micro-batch:
      1. reduce the batch to its LATEST record per key ((ts, tiebreak)
         row_number — a batch can carry several changes for one key;
         intermediate states inside one micro-batch collapse, the
         documented granularity of micro-batched SCD),
      2. scd2_merge against the latest committed history snapshot,
      3. land the merged history as a FULL snapshot under
         `history_dir/batch=<id>` (dynamic-partition-overwrite).

    Crash idempotency (the stream_web_corpus construction, adapted to
    an updating table): an at-least-once REPLAY reads the snapshot its
    own previous attempt committed and re-merges the same updates —
    scd2_merge is idempotent for identical updates (equal attributes
    are "unchanged", nothing closes, nothing inserts), so the rewrite
    is byte-identical to the committed partition. A crash BEFORE the
    commit leaves the previous snapshot as latest, and the retry
    merges cleanly. Old `batch=` snapshots are superseded bookkeeping
    — prune them with a retention sweep, never compact_catalog;
    readers always take the newest (sources.tables.latest_batch).

    Returns (foreachBatch callable, read_history callable)."""
    from ..operators.scd import scd2_merge

    def read_history(spark):
        """Latest committed history snapshot, or None before the
        first batch."""
        return latest_batch(spark, history_dir)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        order = [F.col(ts_col).desc()] + (
            [F.col(tiebreak_col).desc()] if tiebreak_col else [])
        w = Window.partitionBy(*key_cols).orderBy(*order)
        latest = (batch_df
                  .withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn"))
        hist = read_history(spark)
        if hist is None:
            from pyspark.sql.types import (
                BooleanType, StructField, StructType,
            )
            base = batch_df.select(*key_cols, *attr_cols).schema
            ts_t = batch_df.schema[ts_col].dataType
            hist = spark.createDataFrame([], StructType(
                list(base.fields)
                + [StructField("valid_from", ts_t),
                   StructField("valid_to", ts_t),
                   StructField("is_current", BooleanType())]))
        merged = scd2_merge(hist, latest, key_cols, attr_cols,
                            ts_col=ts_col)
        land_batch(merged.localCheckpoint(eager=True), history_dir,
                   batch_id)

    return _batch, read_history


def _snapshot_sink(state_dir: str, build, merge,
                   idempotent: bool = False):
    """foreachBatch wiring shared by the snapshot-store sinks: per
    micro-batch, `build` the batch's increment, `merge(prev, inc)` it
    into the newest committed snapshot and land the full merged state
    under `state_dir/batch=<id>`. An additive state reads only batches
    STRICTLY EARLIER than the current id, so an at-least-once replay
    regenerates the byte-identical snapshot instead of double-counting;
    an `idempotent` merge reads the newest snapshot unconditionally.

    Returns (foreachBatch callable, read_state callable)."""
    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        inc = build(batch_df)
        prev = latest_batch(batch_df.sparkSession, state_dir,
                            None if idempotent else batch_id)
        merged = inc if prev is None else merge(prev, inc)
        land_batch(merged.localCheckpoint(eager=True), state_dir,
                   batch_id)

    if idempotent:
        return _batch, lambda spark: latest_batch(spark, state_dir)
    return _batch, (lambda spark, before_batch=None:
                    latest_batch(spark, state_dir, before_batch))


def stream_rollup(
    state_dir: str,
    ts_col: str = "ts",
    grain: str = "day",
    dims: "list[str] | None" = None,
    value_col: str | None = None,
):
    """foreachBatch wiring of continuous-aggregate maintenance
    (operators/rollup.py): each micro-batch's events collapse to an
    additive (bucket, dims) increment merged into the committed state
    — the streaming leg of the rollup family (rollup_build = batch
    bootstrap, rollup_merge = backfill, this = continuous).

    Per micro-batch:
      1. rollup_build over the batch (map-side combine to state cells),
      2. rollup_merge with the LATEST state snapshot COMMITTED BY AN
         EARLIER BATCH (strictly batch < id — counts are additive, so
         unlike scd2_merge a replay re-merging its OWN committed
         snapshot would double-count; reading only earlier batches
         makes an at-least-once replay regenerate the byte-identical
         snapshot instead),
      3. land the full merged state under `state_dir/batch=<id>`
         (dynamic-partition-overwrite; readers take max(batch)).

    The state stays ≤ buckets·dims cells, so landing the full snapshot
    per batch is a few KB/MB regardless of stream volume; prune
    superseded `batch=` partitions with a retention sweep, never
    compact_catalog.

    Returns (foreachBatch callable, read_state callable)."""
    from ..operators.rollup import rollup_build, rollup_merge

    dims = list(dims or [])
    return _snapshot_sink(
        state_dir,
        lambda df: rollup_build(df, ts_col, grain, dims, value_col),
        lambda prev, inc: rollup_merge(prev, inc, dims=dims))


def stream_hll(
    state_dir: str,
    col: str,
    group_by: "list[str] | None" = None,
    b: int = 12,
    seed: int = 0,
):
    """foreachBatch wiring of continuous distinct-count maintenance
    over the portable HLL registers (operators/sketch.py): each
    micro-batch's values fold into the committed register table.
    Unlike stream_rollup's additive counters, register merge is MAX —
    idempotent — so a replay may safely re-merge its OWN committed
    snapshot: the state is read at max(batch) unconditionally, and the
    rewrite is byte-identical either way. State ≤ groups · 2^b rows.

    Returns (foreachBatch callable, read_state callable); estimate
    the current state with sketch.hll_estimate(read_state(spark),
    group_by, b)."""
    from ..operators.sketch import hll_merge, hll_partials

    gb = list(group_by or [])
    return _snapshot_sink(
        state_dir, lambda df: hll_partials(df, col, gb, b, seed),
        hll_merge, idempotent=True)


def stream_cms(
    state_dir: str,
    col: str,
    group_by: "list[str] | None" = None,
    d: int = 4,
    w: int = 2048,
    seed: int = 0,
):
    """foreachBatch wiring of continuous frequency-sketch maintenance
    (count-min, operators/sketch.py): each micro-batch's values fold
    into the committed counter table. Counters are ADDITIVE like
    stream_rollup's — so the previous state is read from batches
    STRICTLY EARLIER than the current id, making at-least-once
    replays regenerate byte-identical snapshots instead of
    double-counting (contrast stream_hll, whose register max is
    idempotent and may re-read its own snapshot). State ≤
    groups · d · w rows.

    Returns (foreachBatch callable, read_state callable); answer
    point queries with sketch.cms_estimate(read_state(spark), items,
    col, group_by, d, w, seed)."""
    from ..operators.sketch import cms_build, cms_merge

    gb = list(group_by or [])
    return _snapshot_sink(
        state_dir,
        lambda df: cms_build(df, col, gb, d, w, seed),
        cms_merge)


def stream_histogram(
    state_dir: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
    group_by: "list[str] | None" = None,
):
    """foreachBatch wiring of continuous histogram maintenance
    (operators/histogram.py): per micro-batch bin counts merged into
    the committed state. Counts are ADDITIVE — prior state is read
    strictly from earlier batches (the stream_rollup/stream_cms
    replay posture). Quantiles at any time:
    histogram.histogram_quantiles(read_state(spark), qs, lo, hi,
    n_bins, group_by). State ≤ groups · n_bins rows."""
    from ..operators.histogram import histogram_build, histogram_merge

    gb = list(group_by or [])
    return _snapshot_sink(
        state_dir,
        lambda df: histogram_build(df, value_col, lo, hi, n_bins, gb),
        histogram_merge)


def stream_km(
    state_dir: str,
    duration_col: str = "duration",
    event_col: str = "event",
    group_by: "list[str] | None" = None,
):
    """foreachBatch wiring of continuous Kaplan-Meier maintenance
    (operators/survival.py): per micro-batch (group, t) event/censor
    counts merged into the committed state. Counts are ADDITIVE —
    prior state is read strictly from earlier batches (the
    stream_rollup/stream_cms/stream_histogram replay posture), so an
    at-least-once replay regenerates byte-identical snapshots instead
    of double-counting. INPUT CONTRACT: each row is ONE subject's
    final duration record (a churn/conversion export), not raw
    events — a subject arriving twice counts twice, exactly like the
    batch operator. Curve at any time:
    survival.km_from_counts(read_state(spark), group_by). State ≤
    groups · distinct-durations rows."""
    from ..operators.survival import km_counts, km_merge

    gb = list(group_by or [])
    return _snapshot_sink(
        state_dir,
        lambda df: km_counts(df, duration_col, event_col, gb),
        lambda prev, inc: km_merge(prev, inc, gb))


def stream_touch_conversion_pairs(
    touches,
    conversions,
    lookback_days: int = 30,
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
):
    """Streaming half of the attribution family: a stream-stream
    inner join matching every conversion to its same-user lookback
    touches as they arrive — (conv_id, conv_ts, conv_value,
    touch_id, touch_type, touch_ts) candidate-credit rows.

    Bounded state for free: the attribution window condition
    (conv_ts − lookback <= touch_ts <= conv_ts) bounds each side's
    event time against the other in BOTH directions — exactly the
    shape Spark's stream-stream join needs to evict state — so a
    touch's state is dropped once the watermark passes
    touch_ts + lookback, and a conversion's once its lookback is
    fully covered. Both sides carry `watermark`; late events beyond
    it are dropped (the standard trade documented on every streaming
    operator here).

    Model weighting (first/last/linear/position) needs each
    conversion's COMPLETE touch set, i.e. an arbitrary-key
    aggregation after a stream-stream join — Spark only emits such
    aggregates on event-time windows, so the credit WEIGHTS are the
    batch half's job over the landed pair stream:
    `attribution_report` / `attribute_conversions`
    (operators/attribution.py) run unchanged on this output (they
    accept the pair table via their events contract), the
    interval-join family's established landed-batch posture."""
    from pyspark.sql import functions as F

    t = (touches
         .select(F.col(user_col).alias("__tu"),
                 F.col(id_col).alias("touch_id"),
                 F.col(type_col).alias("touch_type"),
                 F.col(ts_col).alias("touch_ts"))
         .withWatermark("touch_ts", watermark))
    c = (conversions
         .select(F.col(user_col).alias("__cu"),
                 F.col(id_col).alias("conv_id"),
                 F.col(ts_col).alias("conv_ts"),
                 F.col(value_col).alias("conv_value"))
         .withWatermark("conv_ts", watermark))
    cond = ((t["__tu"] == c["__cu"])
            & (t["touch_ts"] <= c["conv_ts"])
            & (t["touch_ts"] >= c["conv_ts"]
               - F.expr(f"INTERVAL {int(lookback_days)} DAYS")))
    return (t.join(c, cond, "inner")
            .select(F.col("__cu").alias(user_col),
                    "conv_id", "conv_ts", "conv_value",
                    "touch_id", "touch_type", "touch_ts"))


def stream_sessionize(
    events,
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
):
    """Streaming sessionization on Spark's NATIVE session windows:
    groupBy(session_window(ts, gap)) keeps one open window per user
    in the state store, extends it while events keep arriving within
    the gap, and emits the closed session once the watermark passes
    its end — the always-on counterpart of the batch gaps-and-islands
    `sessionize`. Output per closed session: (user, session_start,
    session_end, n_events, total_value).

    Boundary contract vs the batch operator: session_window merges
    events with inter-event gap STRICTLY LESS than `gap_seconds`,
    while batch sessionize splits on truncated-second gap > gap — so
    for integer-second data, stream gap = batch gap + 1 makes the two
    partitions IDENTICAL (pinned in pytest). session_end is the last
    event time + gap (Spark's window-end convention); n_events /
    total_value match the batch session exactly.

    State is per OPEN session per user — bounded by active users, not
    history; late events beyond the watermark drop (the standard
    trade, same as every stateful operator here)."""
    from pyspark.sql import functions as F

    w = events.withWatermark(ts_col, watermark)
    return (w.groupBy(
        F.col(user_col),
        F.session_window(F.col(ts_col), f"{int(gap_seconds)} seconds"))
        .agg(F.count("*").alias("n_events"),
             dround(F.sum(value_col), 2).alias("total_value"))
        .select(F.col(user_col),
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events", "total_value"))


def stream_quality_monitor(
    stream,
    rules: "list[tuple]",
    output_dir: str,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming half of the expectations module: per micro-batch,
    run check_expectations (ONE scan for all rules — the batch
    operator's plan, unchanged) and append the report rows to
    `output_dir` parquet with (batch_id, ...rule columns) — the
    admission-gate audit log a landing pipeline keeps next to its
    data. The append write is at-least-once on failure replay (the
    documented posture every foreachBatch sink here shares); the
    recorded batch_id lets downstream readers drop replay duplicates
    deterministically.

    Returns the started StreamingQuery; callers drain with
    awaitTermination (availableNow default)."""
    from ..operators.expectations import check_expectations

    return _start_report_sink(
        stream, lambda df: check_expectations(df, rules), output_dir,
        checkpoint_dir, trigger_available_now)


def _start_report_sink(stream, report, output_dir: str,
                       checkpoint_dir: "str | None",
                       trigger_available_now: bool):
    """Start a foreachBatch query that appends `report(batch_df)` with
    its `batch_id` to `output_dir` parquet — the monitors' audit log."""
    def _each(batch_df, batch_id: int):
        (report(batch_df).withColumn("batch_id", F.lit(int(batch_id)))
         .coalesce(1).write.mode("append").parquet(output_dir))

    w = stream.writeStream.foreachBatch(_each)
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_drift_monitor(
    stream,
    ref,
    value_col: str,
    lo: float,
    hi: float,
    output_dir: str,
    group_cols: "list[str] | tuple[str, ...]" = (),
    bins: int = 10,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming half of the drift module: per micro-batch, run
    distribution_drift(ref, batch) on the fixed [lo, hi) frame and
    append (group..., n_ref, n_cur, psi, ks, batch_id) to
    `output_dir` parquet — the "did the data change under me"
    tripwire a landing pipeline keeps beside its admission audit log
    (stream_quality_monitor).

    `ref` is the frozen batch-side reference snapshot; pass it
    CACHED (or pre-subsampled) — its bin counts are recomputed
    inside each micro-batch plan, which is one map-side agg over the
    cached frame per batch. The frame is fixed at deploy time so
    per-batch binning is pure arithmetic — no quantiles recomputed
    on the stream. Append is at-least-once on failure replay (the
    shared foreachBatch posture); the recorded batch_id lets readers
    drop replay duplicates deterministically."""
    from ..operators.drift import distribution_drift

    return _start_report_sink(
        stream, lambda df: distribution_drift(
            ref, df, value_col, group_cols=group_cols,
            lo=lo, hi=hi, bins=bins),
        output_dir, checkpoint_dir, trigger_available_now)
