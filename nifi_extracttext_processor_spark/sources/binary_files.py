"""Document sources: B1 ListFile + B2 FetchFile, fused into one scan.

NiFi lists (metadata-only FlowFiles) then fetches (content read) in two
processors; Spark's `binaryFile` source does both in one distributed
scan with partition pruning and a path-glob filter
(56409-tika.xml:2305-2342 — dir, File Filter regex, min age/size,
ignore hidden).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_documents(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    min_size: int = 0,
    min_age_sec: int = 0,
    ignore_hidden: bool = True,
    recursive: bool = True,
) -> DataFrame:
    """binaryFile scan → (path, modificationTime, length, content, filename).

    Filter defaults mirror ListFile's template config when requested:
    min_size=50, min_age_sec=30, hidden ignored, filter `[^\\.].*`
    (56409-tika.xml:2308-2342).
    """
    reader = (spark.read.format("binaryFile")
              .option("recursiveFileLookup", str(recursive).lower()))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    df = df.withColumn(
        "filename", F.element_at(F.split(F.col("path"), "/"), -1))
    if ignore_hidden:
        df = df.filter(~F.col("filename").startswith("."))
    if min_size > 0:
        df = df.filter(F.col("length") >= min_size)
    if min_age_sec > 0:
        cutoff = F.current_timestamp() - F.expr(
            f"INTERVAL {int(min_age_sec)} SECONDS")
        df = df.filter(F.col("modificationTime") <= cutoff)
    return df
