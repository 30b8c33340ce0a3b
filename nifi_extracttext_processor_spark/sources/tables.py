"""Parquet table loader for the synthetic star schema (TESTDATA.md).

Normalizes physical-type quirks so queries see clean logical types:
  * events.ts is TIMESTAMP(NANOS) in parquet — Spark reads it as long
    (spark.sql.legacy.parquet.nanosAsLong) and we convert to a proper
    timestamp here (nanos → micros truncation, matching how DuckDB's
    date_trunc treats the same instants).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The conf must be set on *this* session (callers may hand us a session
    # built without it — e.g. an external harness) or the TIMESTAMP(NANOS)
    # physical type in events.parquet is rejected with PARQUET_TYPE_ILLEGAL.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # pre-3.2 Sparks lack the conf; the read will surface any issue
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # integer `div`, not `/1000` — epoch-nanos exceed double's 53-bit
        # mantissa, so float division can be off by ±1 µs vs the exact
        # truncation DuckDB applies when it reads TIMESTAMP(NANOS)
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_catalog(spark: SparkSession, path: str,
                 cols: "tuple[str, ...] | None" = None):
    """Read an append-only parquet catalog, or return None when the
    path does not exist (first run). Existence is checked through the
    Hadoop FileSystem API — works for local paths, HDFS and object
    stores alike — so that ONLY genuine absence bootstraps: a broad
    `except AnalysisException` would also swallow a corrupt or
    mis-schemaed catalog and silently re-process the whole corpus.
    Corruption therefore propagates as an error, which is the safe
    behavior for a dedup/progress catalog."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    df = spark.read.parquet(path)
    return df.select(*cols) if cols else df


# 128 MiB per compacted file — one comfortable task's worth
_COMPACT_TARGET_BYTES = 128 << 20


def compact_catalog(spark: SparkSession, path: str,
                    preserve_partitions: bool = False) -> int:
    """Compact an append-only catalog directory (fingerprints,
    processed-segment paths, batch-partitioned streaming catalogs)
    that has accreted one small parquet file per micro-batch/run —
    the classic small-file killer: at 100 TB a year-old catalog is
    10^5-10^6 tiny files and every read pays the listing + open cost.
    Returns the number of old files removed.

    FAIL-SAFE ORDERING, not atomicity: a dedup/progress catalog has
    asymmetric failure modes — DUPLICATE rows are benign (semi/anti
    join verdicts are set-based), but an ABSENT catalog makes
    read_catalog bootstrap and silently re-ingest the corpus. So the
    rename-swap pattern (old away, new in) is wrong here: a crash
    between the renames loses the catalog. Instead:

      1. snapshot the current data-file list;
      2. write the compacted copy to a sibling temp dir;
      3. MOVE the compacted files INTO the catalog (unique names —
         for a batch-partitioned catalog, under the reserved
         ``batch=-1`` partition so the directory structure stays
         consistent for partition discovery);
      4. delete exactly the files snapshotted in (1).

    A crash at any step leaves a catalog whose verdicts are
    IDENTICAL (worst case: rows present twice until a re-run).
    Files that land between (1) and (4) — a concurrent writer — are
    not touched, but run this only with writers quiesced: a
    dynamic-partition-overwrite replay of a batch whose rows were
    already folded into the compacted copy would duplicate them
    (benign for verdicts, still churn). Checkpoint-committed batches
    never replay, so compacting after a graceful stream stop is safe.

    `preserve_partitions=False` (default) folds a single-level
    partitioned catalog into the reserved `<col>=-1` partition —
    right when the partition value is bookkeeping (streaming
    `batch=` ids). Pass `preserve_partitions=True` when the value is
    SEMANTIC — a pruning key like the bucketed fingerprint catalog's
    `bucket=` (dedup.update_fingerprint_catalog_bucketed) — to
    compact each partition's files in place instead (one file per
    partition value), keeping partition-pruned reads intact.
    """
    import uuid

    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        raise FileNotFoundError(f"no catalog at {path}")

    def walk(p):
        out = []
        for st in fs.listStatus(p):
            if st.isDirectory():
                out += walk(st.getPath())
            else:
                out.append(st)
        return out

    old = [st for st in walk(root)
           if not st.getPath().getName().startswith(("_", "."))]
    total = sum(st.getLen() for st in old)
    n_out = max(1, -(-total // _COMPACT_TARGET_BYTES))

    df = spark.read.parquet(path)
    # single partition level is what our catalogs use; detect it from
    # the first partition-style DIRECTORY (a stray _SUCCESS file at
    # the root must not be mistaken for the partition scheme)
    part_col = next(
        (st.getPath().getName().split("=", 1)[0]
         for st in fs.listStatus(root)
         if st.isDirectory() and "=" in st.getPath().getName()),
        None)
    if preserve_partitions and part_col is None:
        raise ValueError(
            f"preserve_partitions=True but {path} is not partitioned")
    tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    tmp_path = jvm.org.apache.hadoop.fs.Path(tmp)
    if part_col is not None and preserve_partitions:
        # one task per partition value -> one compacted file per value,
        # landing under its ORIGINAL partition dir (pruning preserved)
        (df.repartition(part_col)
         .write.mode("overwrite").partitionBy(part_col).parquet(tmp))
        moved = 0
        for st in walk(tmp_path):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            part_dir = st.getPath().getParent().getName()  # col=value
            dest = jvm.org.apache.hadoop.fs.Path(root, part_dir)
            fs.mkdirs(dest)
            dst = jvm.org.apache.hadoop.fs.Path(
                dest, f"compact-{uuid.uuid4().hex[:8]}-{name}")
            if not fs.rename(st.getPath(), dst):
                raise IOError(f"rename {st.getPath()} -> {dst} failed")
            moved += 1
        fs.delete(tmp_path, True)
        removed = 0
        for st in old:
            if fs.delete(st.getPath(), False):
                removed += 1
        for st in fs.listStatus(root):
            if (st.isDirectory()
                    and len(fs.listStatus(st.getPath())) == 0):
                fs.delete(st.getPath(), False)
        return removed
    if part_col is not None:
        df = df.drop(part_col)

    df.coalesce(int(n_out)).write.mode("overwrite").parquet(tmp)

    dest_dir = root
    if part_col is not None:
        # reserved partition value no live batch uses; keeps the
        # directory structure uniform for partition discovery
        dest_dir = jvm.org.apache.hadoop.fs.Path(
            root, f"{part_col}=-1")
        fs.mkdirs(dest_dir)
    moved = 0
    for st in walk(tmp_path):
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        dst = jvm.org.apache.hadoop.fs.Path(
            dest_dir, f"compact-{uuid.uuid4().hex[:8]}-{name}")
        if not fs.rename(st.getPath(), dst):
            raise IOError(f"rename {st.getPath()} -> {dst} failed")
        moved += 1
    fs.delete(tmp_path, True)
    # 4. drop exactly the snapshotted originals (+ emptied partition
    # dirs); anything newer stays
    removed = 0
    for st in old:
        if fs.delete(st.getPath(), False):
            removed += 1
    if part_col is not None:
        for st in fs.listStatus(root):
            if (st.isDirectory()
                    and st.getPath().getName() != f"{part_col}=-1"
                    and len(fs.listStatus(st.getPath())) == 0):
                fs.delete(st.getPath(), False)
    return removed
