"""B12 QueryRecord: SQL predicate routing over a record stream.

Reference (56409-tika.xml:1848-1890): one SQL statement per
user-defined relationship over a `FLOWFILE` view —
  bad     SELECT * FROM FLOWFILE WHERE sentiment = 'NEGATIVE'
  good    SELECT * FROM FLOWFILE WHERE sentiment = 'POSITIVE'
  neutral SELECT * FROM FLOWFILE WHERE sentiment = 'NEUTRAL'
NiFi runs Calcite; we run Spark SQL (a strict superset of the SELECT/
WHERE surface Calcite exposes there).

Scale note (SURVEY §3): NiFi's queue fan-out re-reads the flow once per
relationship for free; in Spark the N routes share ONE scan only if the
input is cached/persisted first — `query_routes` does this explicitly so
a 3-way route at 100 TB costs one pass, not three.
"""

from __future__ import annotations

import re
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_VIEW_LOCK = threading.Lock()

# single-quoted SQL string literal, '' = escaped quote (ANSI)
_SQL_LITERAL = re.compile(r"'(?:[^']|'')*'")


def _sub_outside_literals(pattern: re.Pattern, repl: str, sql: str) -> str:
    """Apply pattern.sub only OUTSIDE single-quoted string literals, so a
    predicate like `note = 'FLOWFILE'` keeps its literal intact."""
    out: list[str] = []
    last = 0
    for m in _SQL_LITERAL.finditer(sql):
        out.append(pattern.sub(repl, sql[last:m.start()]))
        out.append(m.group(0))
        last = m.end()
    out.append(pattern.sub(repl, sql[last:]))
    return "".join(out)


def query_routes(
    df: DataFrame,
    routes: dict[str, str],
    view_name: str = "FLOWFILE",
    cache: bool = True,
    drop_empty: bool = False,
) -> dict[str, DataFrame]:
    """Run one SQL per named route against `df` registered as FLOWFILE.

    drop_empty mirrors `include-zero-record-flowfiles=false`
    (56409-tika.xml:1871 region): routes with no rows are dropped from
    the result dict (costs an extra count per route — off by default
    for the lazy path).

    Lifecycle: one STABLE temp view per view_name, atomically replaced
    (never dropped — dropTempView would uncache the fan-out cache, and
    per-call unique names grow the catalog forever in a long-running
    session). Catalog footprint is bounded at one entry per view_name;
    a module lock makes register+analyze safe for concurrent pipelines
    in one session. With cache=True the INPUT df is marked cached so
    the N routes share one scan; the caller owns that cache — call
    df.unpersist() when the routes are consumed (for the document flow,
    `FlowResult.release()` does this).
    """
    spark = df.sparkSession
    if cache:
        df = df.cache()
    name = f"__graft_{view_name.lower()}"
    # word-boundary + case-insensitive so FROM(FLOWFILE), lowercase
    # flowfile, and columns like X_FLOWFILE all behave correctly; string
    # literals are left untouched (WHERE note = 'FLOWFILE')
    pattern = re.compile(rf"\b{re.escape(view_name)}\b", re.IGNORECASE)
    out: dict[str, DataFrame] = {}
    with _VIEW_LOCK:
        df.createOrReplaceTempView(name)
        for route, sql in routes.items():
            q = _sub_outside_literals(pattern, name, sql)
            routed = spark.sql(q)  # analyzes eagerly: view binding is done
            if drop_empty and routed.isEmpty():
                continue
            out[route] = routed
    return out


SENTIMENT_ROUTES = {
    # verbatim from 56409-tika.xml:1848-1859
    "bad": "SELECT * FROM FLOWFILE WHERE sentiment = 'NEGATIVE'",
    "good": "SELECT * FROM FLOWFILE WHERE sentiment = 'POSITIVE'",
    "neutral": "SELECT * FROM FLOWFILE WHERE sentiment = 'NEUTRAL'",
}


def route_column(df: DataFrame, route_exprs: dict[str, str],
                 out_col: str = "route",
                 default: str | None = None) -> DataFrame:
    """Single-pass alternative: materialize the route as a column
    (one scan, then partitioned write by route — the shape you want
    when sinks are files, since `partitionBy(route)` avoids N filters).
    """
    expr: F.Column = F.lit(default)
    for name, predicate in reversed(list(route_exprs.items())):
        expr = F.when(F.expr(predicate), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)
