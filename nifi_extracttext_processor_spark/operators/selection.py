"""Data selection via importance resampling (DSIR — Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
NeurIPS): pick raw-corpus documents whose hashed-n-gram distribution
looks like a small TARGET corpus (Wikipedia, textbooks, a domain
seed) — the published complement to the trained quality classifier
(operators/classifier.py): no labels needed, only a target sample.

Method (paper §3, re-expressed Spark-first):
1. Features: word unigrams + bigrams hashed into m buckets (the
   paper's hashed n-gram features; house token convention, xxhash64
   scale path / _u32 md5 oracle twin like split_by_hash).
2. Fit two bag-of-hashed-ngrams models by counting buckets over the
   TARGET and the RAW corpus — one map-side-combinable aggregation
   each, m-row results that BROADCAST.
3. Per raw document, the log importance weight is
   sum over its ngram occurrences of  log p_target(b) − log p_raw(b)
   (add-1 smoothing) — an explode + two broadcast joins + one per-doc
   sum; zero UDF, the document text never shuffles (only (id, bucket)
   rows).
4. Selection = Gumbel top-k: add a deterministic Gumbel(0,1) draw
   (seeded per id — pure function of (id, seed), so reruns pick the
   SAME set) to each log weight and take the global top-k
   (TakeOrdered, never a full sort). Gumbel-top-k IS sampling
   without replacement proportional to softmax(log w) (Vieira 2014),
   the paper's sampling step made deterministic and distributed.

Scale shape: the target model is built from a SMALL corpus (that is
the premise); the raw pass is ONE token-explode aggregation plus one
rescan for scoring — both shuffles carry (id/bucket, count) longs
only. At 100 TB the optional raw-model sample_fraction fits the
bucket distribution on a Bernoulli sample (rank-stable for m ≪
corpus) so the model pass is cheap; scoring stays a full single
scan, which is the floor for any per-document decision.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from .rounding import dround


DEFAULT_BUCKETS = 1 << 14


def _u32(col: Column) -> Column:
    # the ONE md5-bucket definition (operators/corpus.py:274) — keep
    # byte-compatible so every DuckDB twin shares it
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10) \
            .cast("long")


def _ngram_strings(text_col: str) -> Column:
    """Array of unigram+bigram STRINGS for a text column. Kept hash-
    free so callers can explode first and hash the exploded column as
    a flat projection: expressions inside higher-order-function
    lambdas are INTERPRETED per element (no whole-stage codegen),
    while the same md5/conv chain over an exploded column is
    codegen'd — measured ~8x cheaper per gram at sf0.1."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
                r"\s+"),
        lambda t: F.length(t) > 0)
    unis = toks
    bis = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat(F.element_at(toks, i + 1), F.lit(" "),
                               F.element_at(toks, i + 2)))
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(unis, bis)


def _bucket_of(gram: Column, n_buckets: int, md5: bool) -> Column:
    """Hash bucket id of ONE gram string (flat, codegen-friendly).
    Same value as the historical in-lambda spelling. The null guard is
    load-bearing for an explode_outer'd empty doc: xxhash64 IGNORES
    null inputs and returns the seed hash (non-null!), which would
    mint a phantom gram — the in-lambda spelling never saw a null
    because the array was simply empty."""
    if md5:
        h = F.pmod(
            F.conv(F.substring(F.md5(gram), 1, 8), 16, 10)
            .cast("long"),
            F.lit(n_buckets))
    else:
        h = F.pmod(F.xxhash64(gram), F.lit(n_buckets))
    return F.when(gram.isNotNull(), h)


def fit_hash_ngram_model(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    md5: bool = False,
    sample_fraction: float | None = None,
    seed: int = 0,
) -> DataFrame:
    """Bucket-count model: (bucket, cnt) over the corpus' hashed
    unigrams+bigrams — one map-side-combinable aggregation. The
    result is ≤ n_buckets rows (broadcastable by construction).
    Input is _spread first: n-gram hashing cost tracks rows, not
    bytes, so a single-file local input must fan out (SURVEY §4
    'Parallelism'; at scale the scan is already wide and _spread is
    a no-op)."""
    from .dedup import _spread

    src = df if sample_fraction is None else \
        df.sample(fraction=sample_fraction, seed=seed)
    # explode the gram STRINGS, hash flat: same buckets, codegen'd
    # hash instead of an interpreted per-element lambda
    return (_spread(src)
            .select(F.explode(_ngram_strings(text_col)).alias("__g"))
            .select(_bucket_of(F.col("__g"), n_buckets, md5)
                    .alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("cnt")))


def dsir_logweights(
    raw: DataFrame,
    target_model: DataFrame,
    raw_model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    md5: bool = False,
) -> DataFrame:
    """Per-document DSIR log importance weight →
    (id_col, n_grams, logw 6dp). Docs with no tokens get logw 0.0
    (weightless, not dropped — selection decides). Add-1 smoothing on
    both models keeps unseen buckets finite."""
    from .dedup import _spread

    exploded = _spread(raw).select(
        F.col(id_col),
        F.explode_outer(_ngram_strings(text_col)).alias("__g")
    ).select(
        F.col(id_col),
        _bucket_of(F.col("__g"), n_buckets, md5).alias("bucket"))
    return _logweights_from_exploded(exploded, target_model,
                                     raw_model, id_col, n_buckets)


def _logweights_from_exploded(
    exploded: DataFrame,
    target_model: DataFrame,
    raw_model: DataFrame,
    id_col: str,
    n_buckets: int,
) -> DataFrame:
    """Shared scoring tail of dsir_logweights over a prebuilt
    (id_col, bucket) frame (bucket null = a gram-less doc)."""
    t_tot = target_model.agg(
        F.sum("cnt").cast("double").alias("__tt"))
    r_tot = raw_model.agg(F.sum("cnt").cast("double").alias("__rt"))
    j = (exploded
         .join(F.broadcast(target_model
                           .select("bucket",
                                   F.col("cnt").alias("__tc"))),
               "bucket", "left")
         .join(F.broadcast(raw_model
                           .select("bucket",
                                   F.col("cnt").alias("__rc"))),
               "bucket", "left")
         .crossJoin(F.broadcast(t_tot))
         .crossJoin(F.broadcast(r_tot)))
    m = float(n_buckets)
    logp = F.log((F.coalesce(F.col("__tc"), F.lit(0)).cast("double")
                  + F.lit(1.0))
                 / (F.col("__tt") + F.lit(m)))
    logq = F.log((F.coalesce(F.col("__rc"), F.lit(0)).cast("double")
                  + F.lit(1.0))
                 / (F.col("__rt") + F.lit(m)))
    term = F.when(F.col("bucket").isNotNull(), logp - logq) \
            .otherwise(F.lit(0.0))
    return (j.groupBy(id_col)
            .agg(F.count("bucket").cast("long").alias("n_grams"),
                 dround(F.sum(term), 6).alias("logw")))


def dsir_logweights_intarget(
    raw: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    md5: bool = False,
) -> DataFrame:
    """dsir_logweights for the IN-TABLE-target shape (target = the
    raw rows where `target_pred` holds, raw model = the whole raw
    corpus): value-identical to

        tm = fit_hash_ngram_model(raw.filter(target_pred), ...)
        rm = fit_hash_ngram_model(raw, ...)
        dsir_logweights(raw, tm, rm, ...)

    but with TWO hash passes instead of three — one agg pass fits
    BOTH models at once, one scoring pass — and no cached
    intermediate (the codegen'd flat hash is cheap enough that
    recomputing beats materializing a corpus-sized (id, bucket)
    cache, locally and at 100 TB). Counts are exact either way, so
    the outputs match bucket-for-bucket."""
    from .dedup import _spread

    exploded = (
        _spread(raw).select(
            F.col(id_col), target_pred.alias("__is_t"),
            F.explode_outer(_ngram_strings(text_col)).alias("__g"))
        .select(F.col(id_col), F.col("__is_t"),
                _bucket_of(F.col("__g"), n_buckets, md5)
                .alias("bucket")))
    # BOTH models from ONE aggregation job, collected (<= n_buckets
    # rows — the same bound that makes the models broadcastable) and
    # re-shipped as driver-local relations: the model sides of the
    # scoring joins then cost nothing to broadcast, instead of four
    # concurrent broadcast-build jobs re-deriving model lineages.
    rows = (exploded.filter(F.col("bucket").isNotNull())
            .groupBy("bucket")
            .agg(F.count("*").alias("cnt"),
                 F.count_if(F.col("__is_t")).alias("tcnt"))
            .collect())
    import pandas as pd

    spark = raw.sparkSession
    schema = "bucket bigint, cnt bigint"
    # pandas + Arrow -> a JVM LocalRelation; a plain list-of-tuples
    # createDataFrame would instead build a Python-pickled RDD whose
    # every downstream task round-trips through a Python worker
    rm = spark.createDataFrame(pd.DataFrame(
        {"bucket": pd.Series([r["bucket"] for r in rows],
                             dtype="int64"),
         "cnt": pd.Series([r["cnt"] for r in rows],
                          dtype="int64")}), schema)
    tr = [r for r in rows if r["tcnt"] > 0]
    tm = spark.createDataFrame(pd.DataFrame(
        {"bucket": pd.Series([r["bucket"] for r in tr],
                             dtype="int64"),
         "cnt": pd.Series([r["tcnt"] for r in tr],
                          dtype="int64")}), schema)
    return _logweights_from_exploded(
        exploded.select(id_col, "bucket"), tm, rm, id_col, n_buckets)


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    temperature: float = 1.0,
    seed: int = 0,
    md5: bool = False,
    raw_sample_fraction: float | None = None,
) -> DataFrame:
    """Select k raw documents by Gumbel-top-k over DSIR log weights →
    (id_col, n_grams, logw, gumbel_key), ordered by key desc.

    Deterministic: the Gumbel draw is a pure function of (id, seed)
    (u = (u32(id#seed)+1)/2^32+1 ∈ (0,1), g = −ln(−ln u)), so reruns
    and other clusters select the SAME k documents. temperature → 0
    approaches hard top-k by weight; 1.0 is the paper's sampling."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    tm = fit_hash_ngram_model(target, text_col, n_buckets, md5=md5)
    rm = fit_hash_ngram_model(raw, text_col, n_buckets, md5=md5,
                              sample_fraction=raw_sample_fraction,
                              seed=seed)
    w = dsir_logweights(raw, tm, rm, id_col, text_col, n_buckets,
                        md5=md5)
    u = ((_u32(F.concat(F.col(id_col).cast("string"),
                        F.lit(f"#g{seed}"))) + F.lit(1.0))
         / F.lit(float(1 << 32) + 2.0))
    gumbel = -F.log(-F.log(u))
    key = dround(F.col("logw") / F.lit(float(temperature)) + gumbel, 6)
    return (w.withColumn("gumbel_key", key)
            .orderBy(F.desc("gumbel_key"), F.asc(id_col))
            .limit(k))


def dsir_logweights_sql(
    raw_table: str = "documents",
    target_pred: str = "TRUE",
    id_col: str = "doc_id",
    text_expr: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
) -> str:
    """DuckDB twin of fit(target = raw_table WHERE target_pred) +
    fit(raw) + dsir_logweights, md5 buckets — same tokens, same
    smoothing, same 6dp rounding."""
    toks = (f"list_filter(string_split_regex(lower(trim(coalesce("
            f"{text_expr}, ''))), '\\s+'), t -> len(t) > 0)")
    grams = (f"list_concat({toks}, CASE WHEN len({toks}) >= 2 THEN "
             f"list_transform(range(1, len({toks})), i -> "
             f"{toks}[i] || ' ' || {toks}[i + 1]) "
             f"ELSE [] END)")
    bucket = (f"('0x' || substr(md5(g.g), 1, 8))::BIGINT % {n_buckets}")
    m = float(n_buckets)
    return f"""
WITH g_raw AS (
  SELECT {id_col}, {bucket} AS bucket
  FROM {raw_table}, unnest({grams}) AS g(g)
), tmodel AS (
  SELECT {bucket} AS bucket, count(*) AS tc
  FROM (SELECT * FROM {raw_table} WHERE {target_pred}),
       unnest({grams}) AS g(g)
  GROUP BY 1
), rmodel AS (
  SELECT bucket, count(*) AS rc FROM g_raw GROUP BY 1
), tot AS (
  SELECT (SELECT SUM(tc)::DOUBLE FROM tmodel) AS tt,
         (SELECT SUM(rc)::DOUBLE FROM rmodel) AS rt
), docs AS (
  SELECT {id_col} FROM {raw_table}
), scored AS (
  SELECT g_raw.{id_col},
         count(*) AS n_grams,
         sum(ln((coalesce(tc, 0)::DOUBLE + 1.0) / (tt + {m!r}))
             - ln((coalesce(rc, 0)::DOUBLE + 1.0) / (rt + {m!r})))
           AS w
  FROM g_raw
  LEFT JOIN tmodel USING (bucket)
  LEFT JOIN rmodel USING (bucket)
  CROSS JOIN tot
  GROUP BY 1
)
SELECT docs.{id_col},
       CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
       round(coalesce(w, 0.0), 6) AS logw
FROM docs LEFT JOIN scored USING ({id_col})
"""
