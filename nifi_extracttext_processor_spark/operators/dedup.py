"""Deduplication suite (north star, BASELINE.json): exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine.

Design for 100 TB:
  * exact        — one hash-shuffle on a 32-byte key (map-side partial
                   agg), no text movement: group on md5(normalized).
  * minhash LSH  — per-doc signatures are narrow (no shuffle); the only
                   shuffle is the band-bucket self-join, whose fan-in is
                   bounded by band width; candidate pairs are verified
                   with exact Jaccard before reporting. Never O(n²).
  * simhash      — 64-bit signature per doc, computed with higher-order
                   array expressions (zero UDF); near-dup via banded
                   hamming join (pigeonhole: 4 bands catch distance ≤ 3).
  * ngram jaccard— exact pairwise, but only within LSH candidate buckets.
  * embedding    — cosine pairs; brute-force form for the oracle,
                   hyperplane-LSH bucketed form as the scale path.

Every deterministic signature has a DuckDB SQL twin (same constants,
same hash = md5 → portable) for the driver's correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from .rounding import dround


# Catalyst TreePatterns of the logical nodes whose presence means the
# frame has already been through (or will introduce) a shuffle — its
# partitioning is the shuffle width, not the input file count, so
# spreading again is a pure extra Exchange
_WIDE_PATTERNS = ("JOIN", "AGGREGATE", "WINDOW", "REPARTITION_OPERATION",
                  "SORT", "DISTINCT_LIKE")


def _spread(df: DataFrame, already_wide: bool = False) -> DataFrame:
    """Repartition up to the cluster's parallelism when the input scan
    gave too few partitions (small files + heavy per-row compute —
    signature hashing cost tracks rows, not input bytes; SURVEY §4
    'Parallelism').

    Uses the leaf-file count as a cheap width proxy instead of
    df.rdd.getNumPartitions() — building the RDD lineage costs a plan
    conversion per call and defeats AQE. At scale the scan has >> target
    files and this is a no-op (no shuffle of the wide input); only tiny
    local inputs (one file / driver-local) get spread.

    A low file count is NOT sufficient evidence of a narrow frame: a
    shuffle-derived intermediate (post-groupBy/join/repartition) still
    reports its LEAF scan's files (or zero when driver-local) but is
    already at shuffle width — repartitioning it again is a pure extra
    Exchange (the r8 semantic_dedup_k256 +44% regression). So the
    ANALYZED logical plan (no physical planning, no RDD conversion) is
    asked for shuffle-introducing node patterns (`containsPattern`:
    plan structure, never column names) and such a frame is left
    alone. Callers that know their input is wide pass already_wide."""
    if already_wide:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    # few/zero leaf files — but inputFiles() traverses to the LEAF
    # scan, so a shuffle-derived frame over one file still reports 1;
    # the logical plan is the authority on whether a shuffle already
    # widened it
    patterns = getattr(getattr(df._sc._jvm.org.apache.spark.sql.catalyst
                               .trees, "TreePattern$"), "MODULE$")
    logical = df._jdf.queryExecution().analyzed()
    if any(logical.containsPattern(getattr(patterns, p)())
           for p in _WIDE_PATTERNS):
        return df
    return df.repartition(target)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def _norm(text_col: str) -> Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


NORM_SQL = "regexp_replace(lower(trim({t})), '\\s+', ' ', 'g')"


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (post-normalization) docs:
    (fingerprint, n_docs, doc_ids sorted). Only hashes shuffle."""
    return (df
            .select(F.md5(_norm(text_col)).alias("fingerprint"),
                    F.col(id_col))
            .groupBy("fingerprint")
            .agg(F.count("*").alias("n_docs"),
                 F.array_sort(F.collect_list(id_col)).alias("doc_ids"))
            .filter(F.col("n_docs") > 1))


def dedup_exact(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per fingerprint group.

    Two narrow-payload shuffles: (hash,id) pairs only — the document
    text never moves. At 100 TB this is the difference between a 100 TB
    shuffle and a ~3% one.
    """
    w = df.select(F.col(id_col), F.md5(_norm(text_col)).alias("fingerprint"))
    keep = w.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingles + MinHash
# ---------------------------------------------------------------------------

DEFAULT_SHINGLE_N = 3
DEFAULT_NUM_HASHES = 12
DEFAULT_BAND_ROWS = 3  # 12 hashes / 3 rows = 4 bands


def shingles(text_col: str, n: int = DEFAULT_SHINGLE_N) -> Column:
    """Distinct word n-gram shingles as strings (JVM-side).

    Docs shorter than n tokens yield an EMPTY shingle set (guarded:
    Spark's sequence(1, 0) counts DOWN, which would feed slice a 0)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))))
    ).otherwise(F.array().cast("array<string>"))


def shingles_sql(text_expr: str, n: int = DEFAULT_SHINGLE_N) -> str:
    toks = f"string_split(trim(lower({text_expr})), ' ')"
    return (f"list_distinct(list_transform("
            f"range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
            f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))")


_M32 = 4294967296  # 2^32


def minhash_halves(sh: Column) -> Column:
    """Per-shingle (h1, h2) = the two 32-bit halves of md5(shingle) —
    the ONE real hash pass. md5 + hex→int is the portable hash family:
    DuckDB reproduces every value exactly.

    IMPORTANT: materialize this into a persisted intermediate before
    fanning out to the k signature slots. Referencing it as an inline
    subexpression re-inlines the md5 fold into every slot (Catalyst
    collapses projections, and codegen subexpression elimination does
    not fire across higher-order-function lambdas), turning one hash
    pass into k.
    """
    return F.transform(
        F.transform(sh, F.md5),
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("h2")))


def minhash_signature_from_halves(halves: Column,
                                  k: int = DEFAULT_NUM_HASHES) -> Column:
    """k MinHashes by Kirsch-Mitzenmacher double hashing:
    h_i = (h1 + i·h2) mod 2^32 — arithmetic only, no re-hashing.
    Signatures are longs, not 32-char strings — 8× less shuffle
    payload than hex signatures."""
    return F.array(*[
        F.array_min(F.transform(
            halves, lambda e: (e["h1"] + i * e["h2"]) % _M32))
        for i in range(k)])


def minhash_halves_sql(sh_expr: str) -> str:
    """DuckDB twin of the per-shingle (h1, h2) md5 halves."""
    return (f"list_transform(list_transform({sh_expr}, s -> md5(s)), "
            f"h -> {{h1: ('0x' || substr(h, 1, 8))::BIGINT, "
            f"h2: ('0x' || substr(h, 9, 8))::BIGINT}})")


def minhash_signature_sql(halves_expr: str,
                          k: int = DEFAULT_NUM_HASHES) -> str:
    parts = ", ".join(
        f"list_min(list_transform({halves_expr}, "
        f"e -> (e.h1 + {i} * e.h2) % {_M32}))"
        for i in range(k))
    return f"[{parts}]"


def minhash_bands(sig_col: Column, k: int = DEFAULT_NUM_HASHES,
                  rows: int = DEFAULT_BAND_ROWS) -> list[Column]:
    """Band keys: null-propagating concat of `rows` signature slots —
    empty docs (null minhash) never join."""
    bands = []
    for b in range(k // rows):
        slots = [sig_col.getItem(b * rows + r).cast("string")
                 for r in range(rows)]
        parts: list[Column] = []
        for s in slots:
            parts += [s, F.lit("|")]
        bands.append(F.concat(*parts[:-1]))
    return bands


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_base(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """Persisted (id, sh) — the ONE expensive shingle pass.

    Build it once and pass it to several minhash_lsh_pairs /
    ngram_jaccard_pairs calls with different band configs or
    thresholds: at 100 TB the corpus is shingled a single time and
    every LSH variant derives its signatures from the stored arrays
    (the md5 pass itself runs codegen'd over the EXPLODED shingle
    stream inside _minhash_sig — one hash-agg per k, memoized on this
    object). Registered with operators.lifecycle — release_all()
    frees it."""
    from .lifecycle import track_persist

    sh = shingles(text_col, n)
    # Persist (id, sh): the cache boundary materializes the shingle
    # arrays ONCE, so the signature agg and both verify joins read
    # stored arrays instead of re-shingling the corpus per traversal.
    # (Until r16 this frame also carried per-shingle md5 halves
    # computed INSIDE a transform lambda — interpreted per element, no
    # codegen. The halves column is gone: _minhash_sig explodes the
    # stored shingles and hashes the flat column under whole-stage
    # codegen instead, the same explode-then-hash restructure that
    # took dsir_weights from 396 to ~46 core-s.)
    base = track_persist(
        _spread(df).select(F.col(id_col), sh.alias("sh")))
    # materialize the shingle pass NOW: the consumers (signature agg
    # plus the two verify joins) otherwise race on the lazy cache
    # inside one action and can each recompute the full shingle pass
    # (r16; same fix as survival_report/dsir)
    base.count()
    base._minhash_sig_cache = {}
    # tag the build parameters so consumers can reject a base built
    # with a different shingle n / text column (silently wrong pairs
    # otherwise). CAVEAT: the tag is a plain Python attribute on the
    # DataFrame object — ANY transformation of the base (even
    # .repartition() or .alias()) returns a new DataFrame without it,
    # silently degrading _check_base_params to the hand-built-base
    # no-validation behavior. Pass the returned object through
    # unmodified.
    base._minhash_params = (id_col, text_col, n)
    return base


def _check_base_params(base: DataFrame, id_col: str, text_col: str,
                       n: int) -> None:
    """Reject a prebuilt minhash_base whose build parameters differ
    from the call's — the base's shingles win, so a mismatch would
    silently produce pairs for the WRONG n/text_col. A base without
    the tag (hand-built) is accepted as-is."""
    params = getattr(base, "_minhash_params", None)
    if params is not None and params != (id_col, text_col, n):
        raise ValueError(
            f"minhash_base was built with (id_col, text_col, n)="
            f"{params} but this call asked for "
            f"{(id_col, text_col, n)}; rebuild the base or align the "
            "call's parameters")


def _minhash_sig(base: DataFrame, id_col: str,
                 k: int = DEFAULT_NUM_HASHES) -> DataFrame:
    """Persisted (id, __m0..__m{k-1}) signature table from a
    minhash_base: explode the stored shingles, md5 the FLAT column
    (whole-stage codegen — a transform-lambda md5 runs interpreted per
    element), then ONE hash aggregation with k min columns.

    Value-identical to array_min over the per-row halves arrays:
    slot i = min over the doc's distinct shingles of
    (h1 + i·h2) mod 2^32 — a min is order-free, and explode preserves
    exactly the distinct shingle set. Docs with an EMPTY shingle array
    (shorter than n tokens) produce no exploded rows and therefore no
    signature row at all, where the array form produced all-NULL
    slots; both are inert downstream (NULL band keys never satisfy an
    equi-join, absent rows never enter it).

    Shuffle cost: the agg is map-side combinable, so only per-partition
    (id, k longs) partials move — never a per-shingle row. The result
    is persisted (lifecycle-tracked) and memoized per (base, k): both
    sides of the band self-join and every same-k pairs call over one
    base read a single materialized table.
    """
    cache = getattr(base, "_minhash_sig_cache", None)
    if cache is not None and k in cache:
        return cache[k]
    from .lifecycle import track_persist

    h = F.md5(F.col("__s"))
    ex = (base
          .select(F.col(id_col), F.explode(F.col("sh")).alias("__s"))
          .select(
              F.col(id_col),
              F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
               .alias("__h1"),
              F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
               .alias("__h2")))
    sig = track_persist(ex.groupBy(id_col).agg(*[
        F.min((F.col("__h1") + i * F.col("__h2")) % _M32)
         .alias(f"__m{i}")
        for i in range(k)]))
    # materialize now: the band self-join's two sides otherwise race
    # the lazy cache inside one action (same fix as minhash_base)
    sig.count()
    if cache is not None:
        cache[k] = sig
    return sig


def _band_keys_from_cols(sig: DataFrame, k: int,
                         rows: int) -> list[Column]:
    """Band keys over the k min COLUMNS of a _minhash_sig table — the
    same null-propagating '|'-joined strings minhash_bands builds from
    a signature array."""
    bands = []
    for b in range(k // rows):
        parts: list[Column] = []
        for r in range(rows):
            parts += [sig[f"__m{b * rows + r}"].cast("string"),
                      F.lit("|")]
        bands.append(F.concat(*parts[:-1]))
    return bands


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    k: int = DEFAULT_NUM_HASHES,
    rows: int = DEFAULT_BAND_ROWS,
    threshold: float = 0.5,
    base: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id1 < id2, jaccard ≥ threshold).

    shingle→minhash→band→bucket-join→exact-verify. Deterministic: a
    pair appears iff it shares ≥1 band AND true Jaccard ≥ threshold —
    reproducible in SQL for the oracle.

    Scale shape: the expensive shingle+signature pass runs ONCE and is
    persisted as (id, sh); the band self-join moves only (id, band_key)
    — candidate discovery shuffles ~40 bytes/row, not shingle arrays.
    Shingles travel only to verify surviving candidates.

    The persisted intermediate is registered with
    operators.lifecycle — long-running sessions call
    lifecycle.release_all() between jobs to free the block manager.
    Pass `base` (a minhash_base result) to share the hash pass across
    several band configs/thresholds.
    """
    if base is None:
        base = minhash_base(df, id_col, text_col, n)
    else:
        _check_base_params(base, id_col, text_col, n)
    sig = _minhash_sig(base, id_col, k)
    banded = sig.select(
        id_col, F.posexplode(F.array(*_band_keys_from_cols(sig, k, rows)))
        .alias("band_id", "band_key"))
    left, right = banded.alias("l"), banded.alias("r")
    cand = (left.join(
        right,
        (F.col("l.band_id") == F.col("r.band_id"))
        & (F.col("l.band_key") == F.col("r.band_key"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(F.col(f"l.{id_col}").alias("id1"),
                F.col(f"r.{id_col}").alias("id2"))
        .dropDuplicates(["id1", "id2"]))
    sh1 = base.select(F.col(id_col).alias("id1"), F.col("sh").alias("sh1"))
    sh2 = base.select(F.col(id_col).alias("id2"), F.col("sh").alias("sh2"))
    return (cand.join(sh1, "id1").join(sh2, "id2")
            .withColumn("jaccard", dround(
                jaccard(F.col("sh1"), F.col("sh2")), 4))
            .filter(F.col("jaccard") >= threshold)
            .select("id1", "id2", "jaccard"))


def minhash_lsh_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    k: int = DEFAULT_NUM_HASHES,
    rows: int = DEFAULT_BAND_ROWS,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of minhash_lsh_pairs (same constants and hashes)."""
    sh = shingles_sql(text_expr, n)
    halves = minhash_halves_sql("sh")
    sig = minhash_signature_sql("halves", k)
    band_exprs = []
    for b in range(k // rows):
        slots = [f"sig[{b * rows + r + 1}]" for r in range(rows)]
        band_exprs.append(" || '|' || ".join(slots))
    bands_list = ", ".join(band_exprs)
    return f"""
WITH sh_t AS (
  SELECT {id_col}, {sh} AS sh FROM {table}
), halves_t AS (
  SELECT {id_col}, sh, {halves} AS halves FROM sh_t
), sig_t AS (
  SELECT {id_col}, sh, {sig} AS sig FROM halves_t
), banded AS (
  SELECT {id_col}, sh,
         unnest(range({k // rows})) AS band_id,
         unnest([{bands_list}]) AS band_key
  FROM sig_t
), cand AS (
  SELECT l.{id_col} AS id1, r.{id_col} AS id2,
         any_value(l.sh) AS sh1, any_value(r.sh) AS sh2
  FROM banded l JOIN banded r
    ON l.band_id = r.band_id AND l.band_key = r.band_key
   AND l.{id_col} < r.{id_col}
  GROUP BY 1, 2
)
SELECT id1, id2,
       round(CASE WHEN len(list_distinct(list_concat(sh1, sh2))) > 0
             THEN len(list_intersect(sh1, sh2))::DOUBLE
                  / len(list_distinct(list_concat(sh1, sh2)))
             ELSE 0.0 END, 4) AS jaccard
FROM cand
WHERE round(CASE WHEN len(list_distinct(list_concat(sh1, sh2))) > 0
      THEN len(list_intersect(sh1, sh2))::DOUBLE
           / len(list_distinct(list_concat(sh1, sh2)))
      ELSE 0.0 END, 4) >= {threshold}
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def simhash64_table(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    out_col: str = "simhash",
                    pre_aggregate: bool = False) -> DataFrame:
    """64-bit SimHash per row as a 16-hex-char string — zero-UDF.

    Spark-first shape: explode tokens (narrow), one md5 per token, then
    ONE hash aggregation with 64 simple sum columns (map-side partial
    agg → a single shuffle keyed by id). Every expression stays inside
    whole-stage codegen; a 64-wide nested higher-order fold compiles
    pathologically (≈90 s for 500 rows when tried), this runs in
    milliseconds and scales: shuffle traffic is 64 ints per id.

    pre_aggregate=True first reduces occurrences to (id, token, count)
    and weights the bit votes by count — identical output (sum of
    per-occurrence bits ≡ count-weighted bit). Trade-off: it roughly
    halves the 64-sum CPU when tokens repeat (measured 2.05 s → 0.95 s
    at sf0.1) but shuffles distinct (id, token-hash, count) triples
    instead of 65 longs per id — on a network-bound 100 TB cluster
    with documents of hundreds of distinct tokens, the default shape
    shuffles 10-50× less and wins; flip this on for CPU-bound or
    high-repetition corpora.

    Portable: DuckDB twin simhash64_sql reproduces it digit for digit
    (either mode — the output is identical).
    """
    others = [c for c in df.columns if c != text_col]
    toks = _spread(df).select(
        *others,
        F.explode(F.split(F.lower(F.trim(F.col(text_col))),
                          r"\s+")).alias("__tok"))
    if pre_aggregate:
        toks = (toks.groupBy(*others, "__tok")
                .agg(F.count("*").alias("__c")))
    else:
        toks = toks.withColumn("__c", F.lit(1))
    # First 64 md5 bits as two 32-bit longs: one conv() per half beats
    # 64 instr+substring string ops per token by ~an order of magnitude
    # (bit i = bit (31 - i%32) of half i//32, matching hex-string order).
    h = F.md5(F.col("__tok"))
    toks = toks.withColumn(
        "__h0", F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    ).withColumn(
        "__h1", F.conv(F.substring(h, 9, 8), 16, 10).cast("long"))

    def bit(i: int) -> Column:
        half = F.col("__h0") if i < 32 else F.col("__h1")
        return F.shiftrightunsigned(half, 31 - (i % 32)).bitwiseAND(F.lit(1))

    votes = toks.groupBy(id_col).agg(
        F.sum("__c").alias("__n"),
        *[F.sum(F.col("__c") * bit(i)).alias(f"__v{i}") for i in range(64)])
    # majority vote: sum(2b-1) > 0  ⟺  2*sum(b) > n
    bits = [F.when(2 * F.col(f"__v{i}") > F.col("__n"), 1).otherwise(0)
            for i in range(64)]
    nibbles = [
        F.substring(F.lit(_HEX),
                    (bits[j * 4] * 8 + bits[j * 4 + 1] * 4
                     + bits[j * 4 + 2] * 2 + bits[j * 4 + 3]) + 1, 1)
        for j in range(16)]
    return votes.select(F.col(id_col), F.concat(*nibbles).alias(out_col))


def simhash64_sql(text_expr: str) -> str:
    """DuckDB twin of simhash64."""
    toks = f"string_split(trim(lower({text_expr})), ' ')"
    bit = ("((strpos('0123456789abcdef', substr(md5(t), {nib} + 1, 1)) - 1)"
           " // {p}) % 2")
    vote_cols = []
    for i in range(64):
        nib, p = i // 4, 2 ** (3 - i % 4)
        b = bit.format(nib=nib, p=p)
        vote_cols.append(
            f"CASE WHEN list_sum(list_transform({toks}, "
            f"t -> 2 * ({b}) - 1)) > 0 THEN 1 ELSE 0 END")
    digits = []
    for j in range(16):
        b0, b1, b2, b3 = vote_cols[j * 4 : j * 4 + 4]
        digits.append(
            f"substr('0123456789abcdef', "
            f"({b0}) * 8 + ({b1}) * 4 + ({b2}) * 2 + ({b3}) + 1, 1)")
    return " || ".join(digits)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Banding on 4×16-bit chunks (pigeonhole: distance ≤ 3 ⇒ at least
    one identical chunk) keeps the join keyed, never O(n²).
    """
    sig = simhash64_table(df.select(id_col, text_col), id_col, text_col,
                          out_col="sim")
    banded = sig.select(
        id_col, "sim",
        F.posexplode(F.array(*[
            F.substring(F.col("sim"), b * 4 + 1, 4) for b in range(4)
        ])).alias("chunk_id", "chunk"))
    l, r = banded.alias("l"), banded.alias("r")

    def hamming(a: Column, b: Column) -> Column:
        # per-hex-digit popcount of XOR via nibble lookup
        idx = F.sequence(F.lit(1), F.lit(16))
        nib = lambda s, i: F.instr(F.lit(_HEX), F.substring(s, i, 1)) - 1
        return F.aggregate(
            idx, F.lit(0),
            lambda acc, i: acc + F.bit_count(
                nib(a, i).bitwiseXOR(nib(b, i))))

    return (l.join(r, (F.col("l.chunk_id") == F.col("r.chunk_id"))
                   & (F.col("l.chunk") == F.col("r.chunk"))
                   & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("id1"),
                    F.col(f"r.{id_col}").alias("id2"),
                    F.col("l.sim").alias("s1"), F.col("r.sim").alias("s2"))
            .dropDuplicates(["id1", "id2"])
            .withColumn("hamming", hamming(F.col("s1"), F.col("s2")))
            .filter(F.col("hamming") <= max_hamming)
            .select("id1", "id2", "hamming"))


def duplicate_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_iter: int = 50,
    base: DataFrame | None = None,
) -> DataFrame:
    """Connected components over near-duplicate edges: every doc gets
    cluster_id = min id reachable through minhash_lsh_pairs edges
    (docs with no near-dups are their own singleton cluster).

    The LSH pairs feed components_from_pairs, the package's one
    min-label kernel; cluster_id is then cast to long. Near-dup
    clusters are shallow, so the kernel converges in a few rounds.
    Failure policy is _fixpoint's, shared by all five fixpoint
    operators: max_iter < 1 raises ValueError and no fixpoint within
    max_iter rounds raises RuntimeError.

    DuckDB twin: duplicate_clusters_sql (recursive CTE reachability) —
    the fixpoint of min-label propagation IS min reachable id, so both
    engines agree exactly.
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold=threshold,
                              base=base)
    return (components_from_pairs(df.select(id_col), pairs, id_col,
                                  max_iter=max_iter)
            .withColumn("cluster_id", F.col("cluster_id").cast("long")))


def duplicate_clusters_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of duplicate_clusters: recursive reachability, then
    min reachable id per node."""
    pairs_sql = minhash_lsh_pairs_sql(
        table, id_col, text_expr, threshold=threshold)
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL
  SELECT id2, id1 FROM pairs
),
reach(id, r) AS (
  SELECT {id_col}, {id_col} FROM {table}
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
)
SELECT id AS {id_col}, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
"""


def keep_best_per_cluster(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    base: DataFrame | None = None,
) -> DataFrame:
    """Near-dedup selection policy: resolve duplicate_clusters, score
    every doc with quality_score, keep the best doc per cluster
    (quality desc, id asc tie-break). This is the operator a training
    pipeline actually runs — pairs/clusters are diagnostics; this emits
    the surviving corpus.

    Scale: the rank window is partitioned by cluster_id (keyed, no
    global sort); the clusters join is id-keyed. Returns
    (id, cluster_id, quality, cluster_size).
    """
    from pyspark.sql import Window

    from .text_analysis import quality_score

    clusters = duplicate_clusters(df, id_col, text_col,
                                  threshold=threshold, base=base)
    scored = (quality_score(df.select(id_col, text_col), text_col)
              .select(id_col, "quality")
              .join(clusters, id_col))
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc(id_col))
    return (scored
            .withColumn("__rk", F.row_number().over(w))
            .withColumn("cluster_size",
                        F.count("*").over(
                            Window.partitionBy("cluster_id")).cast("long"))
            .filter(F.col("__rk") == 1)
            .select(id_col, "cluster_id", "quality", "cluster_size"))


def keep_best_per_cluster_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    threshold: float = 0.5,
) -> str:
    """DuckDB twin: duplicate_clusters_sql CTE + quality window rank."""
    from .text_analysis import quality_score_sql

    clusters = duplicate_clusters_sql(table, id_col, text_expr, threshold)
    quality = quality_score_sql(text_expr)
    return f"""
WITH clusters AS ({clusters}),
scored AS (
  SELECT d.{id_col}, c.cluster_id, {quality} AS quality
  FROM {table} d JOIN clusters c USING ({id_col})
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, {id_col}) AS rk,
         CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS cluster_size
  FROM scored
)
SELECT {id_col}, cluster_id, quality, cluster_size
FROM ranked WHERE rk = 1
"""


def simhash_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    max_hamming: int = 3,
) -> str:
    """DuckDB twin of simhash_pairs: same 4×16-bit chunk banding, same
    nibble-XOR-popcount hamming — hash-matches the Spark result."""
    sig = simhash64_sql(text_expr)
    chunks = ", ".join(f"substr(sim, {b * 4 + 1}, 4)" for b in range(4))
    ham = (
        "CAST(list_sum(list_transform(range(16), i -> "
        "bit_count(xor(strpos('0123456789abcdef', s1[i + 1]) - 1, "
        "strpos('0123456789abcdef', s2[i + 1]) - 1)))) AS BIGINT)")
    return f"""
WITH sig_t AS (
  SELECT {id_col}, {sig} AS sim FROM {table}
), banded AS (
  SELECT {id_col}, sim,
         unnest(range(4)) AS chunk_id,
         unnest([{chunks}]) AS chunk
  FROM sig_t
), cand AS (
  SELECT l.{id_col} AS id1, r.{id_col} AS id2,
         any_value(l.sim) AS s1, any_value(r.sim) AS s2
  FROM banded l JOIN banded r
    ON l.chunk_id = r.chunk_id AND l.chunk = r.chunk
   AND l.{id_col} < r.{id_col}
  GROUP BY 1, 2
), ham_t AS (
  SELECT id1, id2, {ham} AS hamming FROM cand
)
SELECT id1, id2, hamming FROM ham_t WHERE hamming <= {max_hamming}
"""


def embedding_dup_pairs_lsh_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 16,
    bands: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of embedding_dup_pairs_lsh — identical md5-seeded
    hyperplanes (embedded as exact DOUBLE literals), banding, and
    round-4 cosine verify, so the approximate path is hash-checkable."""
    from ..functions.portable import band_keys_sql, cosine_sql

    hps = random_hyperplanes(dim, planes)
    band_exprs = ", ".join(band_keys_sql("v", hps, bands))
    cos = cosine_sql("v1", "v2")
    return f"""
WITH v_t AS (
  SELECT {id_col}, {vec_col}::DOUBLE[] AS v FROM {table}
), banded AS (
  SELECT {id_col}, v,
         unnest(range({bands})) AS band_id,
         unnest([{band_exprs}]) AS band_key
  FROM v_t
), cand AS (
  SELECT l.{id_col} AS id1, r.{id_col} AS id2,
         any_value(l.v) AS v1, any_value(r.v) AS v2
  FROM banded l JOIN banded r
    ON l.band_id = r.band_id AND l.band_key = r.band_key
   AND l.{id_col} < r.{id_col}
  GROUP BY 1, 2
), scored AS (
  SELECT id1, id2, round({cos}, 4) AS cosine FROM cand
)
SELECT id1, id2, cosine FROM scored WHERE cosine >= {threshold}
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, LSH-blocked)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    threshold: float = 0.3,
    base: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over LSH candidate pairs (wide-net band
    config so the exact filter dominates)."""
    return minhash_lsh_pairs(df, id_col, text_col, n=n,
                             k=DEFAULT_NUM_HASHES, rows=2,
                             threshold=threshold, base=base)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def l2_normalize(v: Column) -> Column:
    """v / ||v||2 (zero vector stays the zero vector — sim 0.0
    semantics, matching cosine()). The ONE definition shared by
    clustering.semantic_dedup* and text_analysis.hashed_tf_embedding;
    its SQL twin is functions.portable.l2_normalize_sql."""
    norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))
    return F.when(norm > 0, F.transform(v, lambda x: x / norm)) \
            .otherwise(F.transform(v, lambda x: x * 0.0))


def cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Brute-force cosine pairs ≥ threshold (id1 < id2) — the oracle
    form. Quadratic: only for verification scale; use
    embedding_dup_pairs_lsh at corpus scale."""
    v = df.select(F.col(id_col),
                  F.col(vec_col).cast("array<double>").alias("v"))
    l, r = v.alias("l"), v.alias("r")
    return (l.join(r, F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            .select(F.col(f"l.{id_col}").alias("id1"),
                    F.col(f"r.{id_col}").alias("id2"),
                    dround(cosine(F.col("l.v"), F.col("r.v")), 4)
                     .alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def random_hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 bits (no RNG
    state, reproducible across engines/runs)."""
    import hashlib
    out = []
    for p in range(planes):
        vec = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            vec.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)
        out.append(vec)
    return out


def embedding_dup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Scale path: sign-of-projection LSH buckets → exact cosine verify.

    `planes` sign bits split into `bands` band keys; high-cosine pairs
    collide in ≥1 band with high probability. Join is keyed (shuffle on
    band keys), verification only touches candidates.

    Pass `dim` (the vector dimensionality): the `first()` fallback
    costs one driver action — an extra Spark job — per call in
    composed pipelines (same contract as similarity._lsh_banded).
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    hps = random_hyperplanes(dim, planes)
    v = df.select(F.col(id_col),
                  F.col(vec_col).cast("array<double>").alias("v"))

    def sign_bit(vec: Column, plane: list[float]) -> Column:
        lit = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(F.zip_with(vec, lit, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        return F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0"))

    bits = [sign_bit(F.col("v"), hp) for hp in hps]
    per_band = planes // bands
    band_cols = [F.concat(*bits[b * per_band:(b + 1) * per_band])
                 for b in range(bands)]
    # candidates-first: the band self-join and the pair de-dup move
    # (id, band_id, band_key) only; vectors re-join keyed on surviving
    # candidate ids for the exact verify (same shape as
    # minhash_lsh_pairs / knn_join_lsh_candidates)
    banded = v.select(
        id_col,
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_key"))
    l, r = banded.alias("l"), banded.alias("r")
    cand = (l.join(r, (F.col("l.band_id") == F.col("r.band_id"))
                   & (F.col("l.band_key") == F.col("r.band_key"))
                   & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("id1"),
                    F.col(f"r.{id_col}").alias("id2"))
            .dropDuplicates(["id1", "id2"]))
    v1 = v.select(F.col(id_col).alias("id1"), F.col("v").alias("v1"))
    v2 = v.select(F.col(id_col).alias("id2"), F.col("v").alias("v2"))
    return (cand.join(v1, "id1").join(v2, "id2")
            .withColumn("cosine", dround(
                cosine(F.col("v1"), F.col("v2")), 4))
            .filter(F.col("cosine") >= threshold)
            .select("id1", "id2", "cosine"))


def dedup_exact_incremental(
    new_df: DataFrame,
    catalog_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup a NEW batch against a historical fingerprint catalog, then
    within itself — the shape an always-on ingest pipeline needs: at
    100 TB you dedup the delta against a persisted catalog, never the
    whole corpus again.

    catalog_df needs one `fingerprint` column (md5 of normalized text —
    what update_fingerprint_catalog writes). Survivors = rows whose
    fingerprint is absent from the catalog, minus in-batch duplicates
    (min id wins). Both steps are fingerprint-keyed (32-byte keys):
    anti-join + semi-join; document text never shuffles.
    """
    from .text_analysis import fingerprint

    fp = fingerprint(new_df.select(id_col, text_col), text_col)
    fresh = fp.join(catalog_df.select("fingerprint"),
                    "fingerprint", "left_anti")
    keep = (fresh.groupBy("fingerprint")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col))
    return new_df.join(keep, id_col, "left_semi")


def update_fingerprint_catalog(
    new_df: DataFrame,
    catalog_path: str,
    text_col: str = "text",
) -> None:
    """Append the batch's distinct fingerprints to the parquet catalog
    (idempotent consumers dedup on read via dedup_exact_incremental's
    anti-join, so duplicate catalog rows only cost space)."""
    from .text_analysis import fingerprint

    (fingerprint(new_df.select(text_col), text_col)
     .select("fingerprint").distinct()
     .write.mode("append").parquet(catalog_path))


# ---------------------------------------------------------------------------
# prefix-bucketed fingerprint catalog (partition-pruned delta dedup)
# ---------------------------------------------------------------------------

_CATALOG_BUCKETS = 256   # fingerprint first-byte buckets: a delta of
                         # d docs reads <= min(d, 256) partitions


def _fp_bucket(col: Column) -> Column:
    """Partition key = first fingerprint byte (md5 is uniform, so the
    256 buckets are balanced by construction)."""
    return F.conv(F.substring(col, 1, 2), 16, 10).cast("int")


def update_fingerprint_catalog_bucketed(
    new_df: DataFrame,
    catalog_path: str,
    text_col: str = "text",
) -> None:
    """update_fingerprint_catalog with the persisted-index layout
    (search.build_bm25_index's trick applied to the dedup catalog):
    fingerprints land partitioned by their first byte, so
    dedup_exact_incremental_pruned reads ONLY the partitions a delta
    batch actually touches. At 100 TB the catalog is the corpus-sized
    object and the delta is small — the plain anti-join rescans the
    whole catalog per batch; the pruned path reads <= |delta|/avg +
    listing cost. Compatible with compact_catalog (per-partition
    small files fold the same way)."""
    from .text_analysis import fingerprint

    (fingerprint(new_df.select(text_col), text_col)
     .select("fingerprint").distinct()
     .withColumn("bucket", _fp_bucket(F.col("fingerprint")))
     .write.mode("append").partitionBy("bucket").parquet(catalog_path))


def dedup_exact_incremental_pruned(
    new_df: DataFrame,
    catalog_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """dedup_exact_incremental against a BUCKETED catalog path: the
    delta's distinct fingerprint buckets (<= 256 ints) collect to the
    driver and push into the catalog scan as a partition IN-filter
    (PartitionFilters — plan-asserted in tests), so catalog bytes
    read scale with the DELTA, not the corpus. Verdicts are identical
    to the unpruned operator (equivalence-tested); a missing catalog
    bootstraps to within-batch dedup only, and a corrupt one raises
    (read_catalog posture)."""
    from ..sources.tables import read_catalog
    from .text_analysis import fingerprint

    spark = new_df.sparkSession
    fp = fingerprint(new_df.select(id_col, text_col), text_col)
    probe = read_catalog(spark, catalog_path, None)
    if probe is None:
        fresh = fp
    else:
        buckets = sorted(
            r["b"] for r in
            fp.select(_fp_bucket(F.col("fingerprint")).alias("b"))
            .distinct().collect())
        # -1 is the reserved fold partition a DEFAULT compact_catalog
        # run would create; including it keeps verdicts correct even
        # if someone compacted without preserve_partitions=True
        catalog = (probe
                   .filter(F.col("bucket").isin(buckets + [-1]))
                   .select("fingerprint"))
        fresh = fp.join(catalog, "fingerprint", "left_anti")
    keep = (fresh.groupBy("fingerprint")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col))
    return new_df.join(keep, id_col, "left_semi")


def _fixpoint(op: str, state: DataFrame, step, unchanged,
              max_iter: int) -> "tuple[DataFrame, int]":
    """The one iteration loop behind the fixpoint operators
    (components_from_pairs and, through it, duplicate_clusters and
    graph.connected_components; graph.connected_components_large and
    graph.core_numbers with their own steps).

    Each round computes `step(state)` and checkpoints it with
    localCheckpoint(eager=False), so the plan stays one round deep and
    nothing runs yet. `unchanged(prev, state)` then makes the round's
    one scalar read; it must scan every partition of the new state, so
    that same read also materializes the checkpoint. The seed state is
    checkpointed the same way.

    Failure policy, the same for every caller: max_iter < 1 raises
    ValueError, and no fixpoint within max_iter rounds raises
    RuntimeError naming `op` — an unconverged result is never
    returned. Returns (fixpoint state, rounds run); the last round is
    the one that found nothing changed."""
    if max_iter < 1:
        raise ValueError(f"{op}: max_iter must be >= 1")
    state = state.localCheckpoint(eager=False)
    for rounds in range(1, max_iter + 1):
        prev, state = state, step(state).localCheckpoint(eager=False)
        if unchanged(prev, state):
            return state, rounds
    raise RuntimeError(
        f"{op}: no fixpoint after max_iter={max_iter} rounds; raise "
        "max_iter for this input")


def components_from_pairs(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over an ARBITRARY pair table (id1, id2):
    (id_col, cluster_id = min id reachable). The package's one
    min-label kernel, fed by any edge source (LSH, pHash and
    fuzzy-match pairs, graph edges). Ids keep their
    input type, so integer ids take the numeric min and strings the
    lexicographic min.

    Per round: one keyed join + partial-agg min over the symmetrized
    edges; the round's state carries the previous label as a column,
    and the fixpoint test counts changed labels on it: one scalar read
    per round, which also materializes the round's checkpoint. Rounds
    grow with cluster diameter; graph.connected_components_large
    covers unbounded diameter. Failure policy is _fixpoint's:
    max_iter < 1 raises ValueError, and no fixpoint within max_iter
    rounds raises RuntimeError."""
    edges = pairs.select("id1", "id2").unionAll(
        pairs.select(F.col("id2").alias("id1"),
                     F.col("id1").alias("id2")))
    # lazy like _fixpoint's own checkpoints: round 1's read
    # materializes it
    edges = edges.localCheckpoint(eager=False)

    def step(labels: DataFrame) -> DataFrame:
        nbr = (edges.join(labels, edges["id2"] == labels["id"])
               .groupBy("id1").agg(F.min("label").alias("nbr")))
        return (labels.join(nbr, labels["id"] == nbr["id1"], "left")
                .select(labels["id"],
                        F.col("label").alias("__old"),
                        F.least(F.col("label"),
                                F.coalesce(F.col("nbr"), F.col("label")))
                        .alias("label")))

    def unchanged(_, labels: DataFrame) -> bool:
        return (labels.filter(F.col("label") != F.col("__old"))
                .count() == 0)

    labels, _ = _fixpoint(
        "components_from_pairs",
        ids.select(F.col(id_col).alias("id"), F.col(id_col).alias("label")),
        step, unchanged, max_iter)
    return labels.select(F.col("id").alias(id_col),
                         F.col("label").alias("cluster_id"))


def dedup_savings_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 4,
) -> DataFrame:
    """Exact-dedup ROI report: one row per duplicate-cluster SIZE —
    (cluster_size, n_clusters, n_docs, n_chars_dropped, frac_docs,
    frac_chars) where the dropped figures count everything a
    keep-min-id pass (dedup_exact) would remove. The capacity-planning
    readout ("dedup buys us 31% of the corpus back") that the boolean
    keep/drop operators don't surface; the observability sibling of
    contamination_report.

    Shuffle carries (fingerprint, id, n_chars) — text never moves;
    per-cluster dropped chars = total chars − the KEEPER's chars
    (min id, the dedup_exact policy, so the report reconciles exactly
    with what dedup_exact would do). Fractions are against the whole
    corpus (a 1-row broadcast)."""
    base = df.select(F.col(id_col).alias("__id"),
                     F.md5(_norm(text_col)).alias("__fp"),
                     F.length(text_col).cast("long").alias("__len"))
    per_fp = (base.groupBy("__fp")
              .agg(F.count("*").alias("cluster_size"),
                   F.sum("__len").alias("__chars"),
                   F.min(F.struct("__id", "__len")).alias("__keep")))
    dups = per_fp.filter(F.col("cluster_size") > 1)
    per_size = (dups.groupBy("cluster_size")
                .agg(F.count("*").alias("n_clusters"),
                     F.sum(F.col("cluster_size")).alias("n_docs"),
                     F.sum(F.col("__chars")
                           - F.col("__keep.__len"))
                     .alias("n_chars_dropped")))
    tot = base.agg(F.count("*").alias("__n"),
                   F.sum("__len").alias("__c"))
    j = per_size.crossJoin(F.broadcast(tot))
    dropped_docs = (F.col("cluster_size") - 1) * F.col("n_clusters")
    return (j.select(
        "cluster_size", "n_clusters", "n_docs", "n_chars_dropped",
        dround(dropped_docs.cast("double")
                / F.col("__n").cast("double"), round_dp)
        .alias("frac_docs"),
        dround(F.col("n_chars_dropped").cast("double")
                / F.col("__c").cast("double"), round_dp)
        .alias("frac_chars"))
        .orderBy("cluster_size"))


def dedup_savings_report_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    round_dp: int = 4,
) -> str:
    """DuckDB twin of dedup_savings_report (same fingerprint, same
    min-(id, len) keeper, same fractions)."""
    norm = NORM_SQL.format(t=text_expr)
    return f"""
WITH base AS (
  SELECT {id_col} AS id, md5({norm}) AS fp,
         length({text_expr})::BIGINT AS len
  FROM {table}
),
per_fp AS (
  SELECT fp, count(*) AS cluster_size, sum(len) AS chars,
         (min(struct_pack(id := id, len := len))).len AS keep_len
  FROM base GROUP BY fp
),
per_size AS (
  SELECT cluster_size, count(*) AS n_clusters,
         CAST(sum(cluster_size) AS BIGINT) AS n_docs,
         CAST(sum(chars - keep_len) AS BIGINT) AS n_chars_dropped
  FROM per_fp WHERE cluster_size > 1 GROUP BY cluster_size
),
tot AS (SELECT count(*) AS n, sum(len) AS c FROM base)
SELECT cluster_size, n_clusters, n_docs, n_chars_dropped,
       round((cluster_size - 1) * n_clusters::DOUBLE / n::DOUBLE,
             {round_dp}) AS frac_docs,
       round(n_chars_dropped::DOUBLE / c::DOUBLE, {round_dp})
         AS frac_chars
FROM per_size CROSS JOIN tot
ORDER BY cluster_size
"""
