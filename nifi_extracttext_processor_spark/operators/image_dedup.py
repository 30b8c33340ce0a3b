"""Perceptual image deduplication: pHash (DCT low-band fingerprints,
Zauner 2010 / the classic imagehash algorithm) over the engine's real
raster decoders, plus banded hamming-join pair generation — the image
counterpart of SemDeDup/SimHash for image-text corpora (the one dedup
modality r7 lacked: text had exact/near/substring/semantic, images had
real decoders but nothing deduplicating them).

Algorithm (real kernel): decode_raster_gray → index-sample to
img_size² (32×32) → orthonormal 2-D DCT-II → top-left hash_size²
(8×8) low-frequency block → bit i = coeff_i > median → 64-bit hash as
16 hex chars. Robust to re-encoding (PNG↔JPEG), mild resizing, and
small edits; NOT to crops/rotations (documented non-claim).

Scale shape:
- hashing is a map-only Arrow kernel (images are the parallel unit,
  like archives in unpack); a failed decode yields a NULL hash with
  `phash_error` set (the A6 skip-don't-fail posture), so one corrupt
  image never kills a 100 TB job.
- pair generation never goes O(n²): the 64-bit hash splits into
  2^b-bit band chunks; pigeonhole guarantees hamming ≤ n_bands - 1
  implies an identical chunk, so ONE hash equi-join on (chunk_id,
  chunk) keyed by longs finds every candidate, then an exact popcount
  filter — the simhash_pairs machinery (operators/dedup.py)
  applied to image hashes. Only (id, 16-char hash) rows ever shuffle,
  never pixels.
- `fake=True` swaps the decode+DCT kernel for a deterministic
  md5-prefix stand-in (the multimodal fake-kernel convention,
  operators/multimodal.py:_fake_pixels): the banding/hamming/pair
  plumbing — the part that matters at scale — runs identically and
  replays value-exactly in DuckDB (phash_pairs_sql) for the driver
  oracle gate; the real kernel is golden-tested in pytest against an
  independent pure-Python DCT.
"""

from __future__ import annotations

import math
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _HEX, _hex_hamming

DEFAULT_IMG_SIZE = 32
DEFAULT_HASH_SIZE = 8


# ---------------------------------------------------------------------------
# hashing
# ---------------------------------------------------------------------------

_DCT_CACHE: dict[int, "object"] = {}


def _dct_matrix(n: int):
    """Orthonormal DCT-II basis: D[k,j] = c_k cos(pi (2j+1) k / 2n)."""
    import numpy as np

    m = _DCT_CACHE.get(n)
    if m is None:
        j = np.arange(n)
        k = j.reshape(-1, 1)
        m = np.cos(math.pi * (2 * j + 1) * k / (2 * n)) * math.sqrt(2 / n)
        m[0] *= 1 / math.sqrt(2)
        _DCT_CACHE[n] = m
    return m


def _pool_axis(a, n: int, size: int, axis: int):
    """Area-average one axis down to `size` buckets (bucket b = mean
    of input indices i with (i*size)//n == b). Upscales (n < size)
    fall back to nearest-index sampling — every bucket would not be
    populated."""
    import numpy as np

    if n < size:
        idx = (np.arange(size) * n) // size
        return np.take(a, idx, axis=axis)
    buckets = (np.arange(n) * size) // n
    starts = np.searchsorted(buckets, np.arange(size))
    counts = np.bincount(buckets, minlength=size).astype(np.float64)
    summed = np.add.reduceat(a, starts, axis=axis)
    shape = [1, 1]
    shape[axis] = size
    return summed / counts.reshape(shape)


def _phash_hex(w: int, h: int, px, img_size: int, hash_size: int) -> str:
    import numpy as np

    a = np.asarray(px, dtype=np.float64).reshape(h, w)
    # area-average (box-filter) pre-pool, the imagehash/Zauner
    # convention — index sampling alone leaves the hash sensitive to
    # high-frequency content under heavy downscale (a 4000px image vs
    # its 200px thumbnail; r8 VERDICT What's wrong #3)
    small = _pool_axis(_pool_axis(a, h, img_size, 0), w, img_size, 1)
    d = _dct_matrix(img_size)
    low = (d @ small @ d.T)[:hash_size, :hash_size].ravel()
    med = float(np.median(low))
    bits = (low > med)
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return format(val, f"0{(hash_size * hash_size) // 4}x")


def phash_reference(w: int, h: int, px: list[float],
                    img_size: int = DEFAULT_IMG_SIZE,
                    hash_size: int = DEFAULT_HASH_SIZE) -> str:
    """Independent pure-Python pHash (plain loops, no numpy, no
    shared helpers) for test goldens — same area-average pre-pool
    convention as the kernel: bucket (by,bx) = mean over input pixels
    (y,x) with (y*img_size)//h == by and (x*img_size)//w == bx;
    nearest-index on the upscale axis."""
    if h >= img_size:
        row_groups = [[] for _ in range(img_size)]
        for y in range(h):
            row_groups[(y * img_size) // h].append(y)
    else:
        row_groups = [[(by * h) // img_size] for by in range(img_size)]
    if w >= img_size:
        col_groups = [[] for _ in range(img_size)]
        for x in range(w):
            col_groups[(x * img_size) // w].append(x)
    else:
        col_groups = [[(bx * w) // img_size] for bx in range(img_size)]
    small = []
    for ys_ in row_groups:
        row = []
        for xs_ in col_groups:
            acc = 0.0
            for y in ys_:
                for x in xs_:
                    acc += px[y * w + x]
            row.append(acc / (len(ys_) * len(xs_)))
        small.append(row)
    n = img_size

    def c(k: int) -> float:
        return math.sqrt(1 / n) if k == 0 else math.sqrt(2 / n)

    low = []
    for u in range(hash_size):
        for v in range(hash_size):
            s = 0.0
            for y in range(n):
                for x in range(n):
                    s += (small[y][x]
                          * math.cos(math.pi * (2 * y + 1) * u / (2 * n))
                          * math.cos(math.pi * (2 * x + 1) * v / (2 * n)))
            low.append(c(u) * c(v) * s)
    srt = sorted(low)
    m = len(srt)
    med = (srt[m // 2] if m % 2 else
           (srt[m // 2 - 1] + srt[m // 2]) / 2.0)
    val = 0
    for coeff in low:
        val = (val << 1) | (1 if coeff > med else 0)
    return format(val, f"0{(hash_size * hash_size) // 4}x")


def phash64_table(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    out_col: str = "phash",
    fake: bool = False,
    img_size: int = DEFAULT_IMG_SIZE,
    hash_size: int = DEFAULT_HASH_SIZE,
) -> DataFrame:
    """Per-image perceptual hash: the input columns plus
    (out_col 16-hex | NULL, phash_error NULL | reason) — all input
    columns pass through (map-only, so the operator composes with
    Structured Streaming sources unchanged, like unpack_archives).
    fake=True = md5-prefix stand-in (zero-UDF Catalyst,
    DuckDB-replayable); fake=False = the real decode→DCT Arrow
    kernel."""
    if hash_size * hash_size != 64:
        raise ValueError("hash_size must be 8 (64-bit hashes)")
    if fake:
        return (df.withColumn(
            out_col, F.substring(F.md5(F.col(content_col)), 1, 16))
            .withColumn("phash_error", F.lit(None).cast("string")))

    import pandas as pd

    from .multimodal import decode_raster_gray

    schema = (", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                        for f in df.schema.fields)
              + f", {out_col} string, phash_error string")

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes, errs = [], []
            for b in pdf[content_col]:
                try:
                    w, h, px = decode_raster_gray(bytes(b or b""))
                    hashes.append(_phash_hex(w, h, px, img_size,
                                             hash_size))
                    errs.append(None)
                except Exception as exc:
                    hashes.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}")
            out = pdf.copy()
            out[out_col] = hashes
            out["phash_error"] = errs
            yield out

    return df.mapInPandas(_run, schema=schema)


def phash_table_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    content_expr: str = "text",
) -> str:
    """DuckDB twin of the FAKE kernel (md5 prefix over the same
    bytes); `content_expr` should produce the same bytes the Spark
    side hashed (e.g. a text column fed through encode())."""
    return (f"SELECT {id_col} AS media_id, "
            f"substr(md5({content_expr}), 1, 16) AS phash, "
            f"CAST(NULL AS VARCHAR) AS phash_error FROM {table}")


# ---------------------------------------------------------------------------
# pair generation (banded hamming join)
# ---------------------------------------------------------------------------

def _n_bands(max_hamming: int) -> int:
    """Smallest band count with the pigeonhole guarantee (an identical
    chunk exists whenever hamming <= max_hamming) that still divides
    the 16-hex hash evenly."""
    if not 0 <= max_hamming <= 15:
        raise ValueError("max_hamming must be in [0, 15]")
    for b in (2, 4, 8, 16):
        if b > max_hamming:
            return b
    raise AssertionError


def phash_pairs(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    max_hamming: int = 6,
    fake: bool = False,
    img_size: int = DEFAULT_IMG_SIZE,
    hash_size: int = DEFAULT_HASH_SIZE,
) -> DataFrame:
    """Near-duplicate image pairs: (id1, id2, hamming) with
    hamming <= max_hamming and id1 < id2. Undecodable images (NULL
    hash) never pair. Feed the result to dedup.duplicate_clusters /
    keep_best_per_cluster exactly like the text pair ops."""
    # project down to (id, hash) BEFORE any banding: the passthrough
    # columns (pixels!) must never reach the shuffle
    sig = (phash64_table(df, content_col, id_col, out_col="ph",
                         fake=fake, img_size=img_size,
                         hash_size=hash_size)
           .select(id_col, "ph")
           .filter(F.col("ph").isNotNull()))
    nb = _n_bands(max_hamming)
    clen = 16 // nb
    banded = sig.select(
        id_col, "ph",
        F.posexplode(F.array(*[
            F.substring(F.col("ph"), b * clen + 1, clen)
            for b in range(nb)
        ])).alias("chunk_id", "chunk"))
    l, r = banded.alias("l"), banded.alias("r")
    return (l.join(r, (F.col("l.chunk_id") == F.col("r.chunk_id"))
                   & (F.col("l.chunk") == F.col("r.chunk"))
                   & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("id1"),
                    F.col(f"r.{id_col}").alias("id2"),
                    F.col("l.ph").alias("h1"),
                    F.col("r.ph").alias("h2"))
            .dropDuplicates(["id1", "id2"])
            .withColumn("hamming", _hex_hamming(F.col("h1"),
                                                F.col("h2")))
            .filter(F.col("hamming") <= max_hamming)
            .select("id1", "id2",
                    F.col("hamming").cast("long").alias("hamming")))


def phash_dedup_incremental(
    new_df: DataFrame,
    catalog_df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    max_hamming: int = 6,
    fake: bool = False,
) -> DataFrame:
    """Dedup a NEW image batch against a historical pHash catalog,
    then within itself — the dedup_exact_incremental shape
    (operators/dedup.py) for images: at 100 TB you hash the delta and
    band-join it against the persisted catalog, never re-decode the
    archive.

    catalog_df needs one `phash` column (16 hex chars — what
    update_phash_catalog writes). A new image is dropped when some
    catalog hash is within max_hamming (band-join candidates →
    popcount filter, hashes only — pixels never shuffle), or when a
    SMALLER-id batch sibling is within max_hamming (min of each
    near-dup chain survives, deterministic). Undecodable images pass
    through (NULL hash — the A6 posture: extraction decides their
    fate, dedup never silently drops them)."""
    sig = phash64_table(new_df, content_col, id_col, out_col="ph",
                        fake=fake).select(id_col, "ph")
    hashed = sig.filter(F.col("ph").isNotNull())
    nb = _n_bands(max_hamming)
    clen = 16 // nb

    def band(df, hcol):
        return df.select(
            *df.columns,
            F.posexplode(F.array(*[
                F.substring(F.col(hcol), b * clen + 1, clen)
                for b in range(nb)])).alias("chunk_id", "chunk"))

    new_b = band(hashed, "ph")
    cat_b = band(catalog_df.select(F.col("phash").alias("cph"))
                 .distinct(), "cph")
    vs_cat = (new_b.join(cat_b, ["chunk_id", "chunk"])
              .dropDuplicates([id_col, "cph"])
              .withColumn("hd", _hex_hamming(F.col("ph"),
                                             F.col("cph")))
              .filter(F.col("hd") <= max_hamming)
              .select(id_col).distinct())
    fresh = hashed.join(vs_cat, id_col, "left_anti")
    # within-batch: drop any row with a smaller near-identical sibling
    fb = band(fresh, "ph")
    l, r = fb.alias("l"), fb.alias("r")
    losers = (l.join(r, (F.col("l.chunk_id") == F.col("r.chunk_id"))
                     & (F.col("l.chunk") == F.col("r.chunk"))
                     & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
              .select(F.col(f"l.{id_col}").alias("id1"),
                      F.col(f"r.{id_col}").alias("id2"),
                      F.col("l.ph").alias("h1"),
                      F.col("r.ph").alias("h2"))
              .dropDuplicates(["id1", "id2"])
              .withColumn("hd", _hex_hamming(F.col("h1"),
                                             F.col("h2")))
              .filter(F.col("hd") <= max_hamming)
              .select(F.col("id2").alias(id_col)).distinct())
    keep = fresh.join(losers, id_col, "left_anti").select(id_col)
    undecodable = sig.filter(F.col("ph").isNull()).select(id_col)
    return new_df.join(keep.union(undecodable), id_col, "left_semi")


def update_phash_catalog(
    new_df: DataFrame,
    catalog_path: str,
    content_col: str = "content",
    id_col: str = "media_id",
    fake: bool = False,
) -> None:
    """Append the batch's distinct perceptual hashes to the parquet
    catalog (append-only, same posture as update_fingerprint_catalog:
    duplicate catalog rows only cost space — the incremental band
    join's semantics don't change; compact with
    sources.tables.compact_catalog)."""
    (phash64_table(new_df, content_col, id_col, out_col="phash",
                   fake=fake)
     .select("phash")
     .filter(F.col("phash").isNotNull())
     .distinct()
     .write.mode("append").parquet(catalog_path))


def stream_phash_dedup(
    docs: DataFrame,
    content_col: str = "content",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    id_col: str = "media_id",
    fake: bool = False,
) -> DataFrame:
    """Streaming EXACT-pHash dedup: first arrival of each perceptual
    hash within the watermark horizon wins
    (dropDuplicatesWithinWatermark — the stream_dedup_exact shape).
    State holds only (hash, window) keys, 16 bytes/distinct image in
    the horizon; pixels never enter state. Exact hash equality
    catches byte-identical images AND most re-encodes (pHash is
    frequently bit-identical across PNG/JPEG of the same picture);
    for hamming > 0 matching, run phash_dedup_incremental per
    micro-batch against a catalog via foreachBatch — banded joins
    need a shuffle Structured Streaming's dedup operator cannot
    express. Undecodable images pass through: a NULL hash coalesces
    to a per-row unique key ('err:' + id), so failures never collide
    with each other or with real hashes."""
    return (phash64_table(docs, content_col, id_col, out_col="phash",
                          fake=fake)
            .withColumn("__dk", F.coalesce(
                F.col("phash"),
                F.concat(F.lit("err:"), F.col(id_col).cast("string"))))
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["__dk"])
            .drop("phash", "phash_error", "__dk"))


def phash_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    content_expr: str = "text",
    max_hamming: int = 6,
) -> str:
    """DuckDB twin of phash_pairs(fake=True): same md5-prefix hashes,
    same banding, same per-nibble popcount, same threshold."""
    nb = _n_bands(max_hamming)
    clen = 16 // nb
    chunks = " UNION ALL ".join(
        f"SELECT media_id, phash, {b} AS chunk_id, "
        f"substr(phash, {b * clen + 1}, {clen}) AS chunk FROM sig"
        for b in range(nb))
    ham = " + ".join(
        "bit_count(xor("
        f"(strpos('{_HEX}', substr(h1, {i}, 1)) - 1)::BIGINT, "
        f"(strpos('{_HEX}', substr(h2, {i}, 1)) - 1)::BIGINT))"
        for i in range(1, 17))
    return f"""
WITH sig AS (
  SELECT {id_col} AS media_id,
         substr(md5({content_expr}), 1, 16) AS phash
  FROM {table}
), banded AS ({chunks}),
cand AS (
  SELECT DISTINCT l.media_id AS id1, r.media_id AS id2,
         l.phash AS h1, r.phash AS h2
  FROM banded l JOIN banded r
    ON l.chunk_id = r.chunk_id AND l.chunk = r.chunk
   AND l.media_id < r.media_id
), scored AS (
  SELECT id1, id2, CAST(({ham}) AS BIGINT) AS hamming FROM cand
)
SELECT id1, id2, hamming FROM scored WHERE hamming <= {max_hamming}
"""


def phash_clusters(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    max_hamming: int = 6,
    fake: bool = False,
) -> DataFrame:
    """Connected components over phash_pairs edges: (id_col,
    cluster_id = min reachable id; undecodable images are singleton
    clusters of themselves). Feed to keep-best selection the same way
    the text family feeds duplicate_clusters."""
    from .dedup import components_from_pairs

    pairs = phash_pairs(df, content_col, id_col,
                        max_hamming=max_hamming, fake=fake)
    return components_from_pairs(df.select(id_col), pairs,
                                 id_col=id_col)


def keep_best_image_per_cluster(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    max_hamming: int = 6,
    fake: bool = False,
    prefer: str = "largest",
) -> DataFrame:
    """One representative per near-duplicate image cluster:
    prefer='largest' keeps the highest-byte-count member (the
    least-recompressed copy — the keep-best-quality convention),
    ties/prefer='min_id' keep the lowest id. Returns the surviving
    rows of `df`."""
    if prefer not in ("largest", "min_id"):
        raise ValueError(f"unknown prefer {prefer!r}")
    clusters = phash_clusters(df, content_col, id_col,
                              max_hamming=max_hamming, fake=fake)
    joined = df.join(clusters, id_col)
    if prefer == "largest":
        ranked = joined.withColumn(
            "__sz", F.length(F.col(content_col)))
        from pyspark.sql import Window
        w = Window.partitionBy("cluster_id").orderBy(
            F.desc("__sz"), F.asc(id_col))
        keep = (ranked.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(id_col))
    else:
        keep = (joined.groupBy("cluster_id")
                .agg(F.min(id_col).alias(id_col))
                .select(id_col))
    return df.join(keep, id_col, "left_semi")
