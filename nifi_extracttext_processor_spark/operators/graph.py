"""Link-graph analytics over a web corpus: outlink extraction, the
host-level link graph, and PageRank.

Crawl-scale corpora carry a quality prior in their link structure —
Common Crawl publishes host/domain-level rank files (harmonic
centrality / PageRank) exactly so pipelines can weight or filter
documents by the standing of their host. This module closes that loop
natively: extract outlinks (Catalyst regex — no HTML parse needed for
absolute links), collapse to a host->host edge list, and run power-
iteration PageRank (Page et al. 1999) as pure DataFrame ops.

Scale design:
- extract_links / host_edges are narrow regex projections + ONE
  map-side-combinable (src, dst) count — the house URL conventions
  (URL_RE, url_host) shared with top_domains/blocklist, so a "host"
  means the same thing across the corpus ops.
- pagerank is the canonical iterative-join workload: the edge list
  (with out-weight totals pre-joined) is computed ONCE and persisted;
  each iteration is one (src) hash join + one (dst) aggregation —
  both map-side combinable — and the rank vector is
  localCheckpoint-ed per iteration, which TRUNCATES the logical plan
  (persist alone caches data but the analyzed plan still triples per
  iteration — Catalyst analysis OOMs near ~50 iterations; reproduced
  in tests before switching). Durable restartability at 100 TB comes
  from writing ranks to storage between jobs.
  Dangling mass is a 1-row aggregate broadcast, never a driver
  collect inside the loop.
- Convergence on web graphs takes ~50 iterations at damping 0.85;
  the driver/oracle queries run 3 so DuckDB can replay the EXACT
  computation as an unrolled CTE chain (pagerank_sql) — the same
  fixed-iteration-unroll trick the semantic-dedup oracle uses for
  Lloyd's algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from .rounding import dround


from .text_analysis import URL_RE, url_host

# href capture: the attribute value up to the closing quote —
# re2-safe (no backreferences), shared verbatim with the DuckDB twin
HREF_RE = r"""href=["']([^"']+)["']"""


def extract_links(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "urls",
) -> DataFrame:
    """One row per outlink: (id_col, link). mode='urls' finds absolute
    http(s) URLs anywhere in the text (works on extracted plain text —
    no markup needed); mode='href' captures href="..." attribute
    values from raw HTML (relative links included, NOT resolved
    against a base — resolve downstream where the page URL lives);
    mode='both' unions the two (distinct). Narrow regex projection +
    explode; zero UDF."""
    if mode not in ("urls", "href", "both"):
        raise ValueError(f"unknown mode {mode!r}")
    c = F.col(text_col)
    urls = F.regexp_extract_all(c, F.lit(URL_RE), 0)
    hrefs = F.regexp_extract_all(c, F.lit(HREF_RE), 1)
    arr = {"urls": urls, "href": hrefs,
           "both": F.array_distinct(F.concat(urls, hrefs))}[mode]
    return (df.select(F.col(id_col), F.explode(arr).alias("link"))
            .filter(F.length("link") > 0))


def extract_links_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "urls",
) -> str:
    """DuckDB twin of extract_links (same regexes, same union)."""
    href_re = HREF_RE.replace("'", "''")
    urls = f"regexp_extract_all({text_col}, '{URL_RE}')"
    hrefs = f"regexp_extract_all({text_col}, '{href_re}', 1)"
    arr = {"urls": urls, "href": hrefs,
           "both": f"list_distinct(list_concat({urls}, {hrefs}))"}[mode]
    return f"""
SELECT {id_col}, t.link AS link
FROM {table}, unnest({arr}) AS t(link)
WHERE len(t.link) > 0
"""


def host_edges(
    links: DataFrame,
    src_url_col: str = "url",
    link_col: str = "link",
    keep_self: bool = False,
) -> DataFrame:
    """Collapse (page url, outlink) rows to the host graph:
    (src, dst, weight) with weight = link count. Scheme-less links
    (relative hrefs) produce '' hosts and are dropped; self-loops are
    dropped unless `keep_self` (they contribute nothing to PageRank
    but matter for e.g. internal-link ratios). One map-side-
    combinable aggregation."""
    e = (links
         .select(url_host(F.col(src_url_col)).alias("src"),
                 url_host(F.col(link_col)).alias("dst"))
         .filter((F.length("src") > 0) & (F.length("dst") > 0)))
    if not keep_self:
        e = e.filter(F.col("src") != F.col("dst"))
    return e.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("weight"))


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iters: int = 3,
    damping: float = 0.85,
    round_dp: int = 6,
    tol: float | None = None,
) -> DataFrame:
    """Weighted PageRank by power iteration. Returns (node, rank)
    over every node appearing as src or dst; ranks sum to 1 (dangling
    mass redistributed uniformly, the standard formulation):

        r'(v) = (1-d)/N + d * (sum_{u->v} r(u) * w(u,v)/W_out(u)
                                + dangling_mass / N)

    Parallel edges combine by weight; `weight_col=None` counts each
    edge once. Rounded to `round_dp` at the END only (the oracle
    replays the full double-precision chain).

    `tol`: convergence mode — stop EARLY once the L1 delta
    sum|r' - r| falls below tol (checked from iteration 2; `iters`
    becomes the max). The delta is a 1-row aggregate over the already-
    materialized old+new vectors — one scalar driver read per
    iteration, the same k-bounded posture as kmeans_fit. The
    fixed-iters default stays the oracle-replayable path (an early
    stop is data-dependent, which an unrolled SQL chain can't
    express)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if tol is not None and tol <= 0:
        raise ValueError("tol must be > 0")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"),
                      w.alias("w"))
         .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    out_w = e.groupBy("src").agg(F.sum("w").alias("wout"))
    # pre-divide once: contribution fraction per edge is loop-invariant
    ef = (e.join(out_w, "src")
          .select("src", "dst", (F.col("w") / F.col("wout"))
                  .alias("frac"))
          .persist())
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    try:
        n = nodes.count()
        if n == 0:
            raise ValueError("pagerank: empty edge list")
        ranks = (nodes.withColumn("rank", F.lit(1.0 / n))
                 .localCheckpoint(eager=True))
        srcs = out_w.select(F.col("src").alias("node"))
        last = None
        for _ in range(iters):
            contribs = (ef.join(ranks, ef["src"] == ranks["node"])
                        .groupBy("dst")
                        .agg(F.sum(F.col("rank") * F.col("frac"))
                             .alias("c")))
            dangling = (ranks.join(srcs, "node", "left_anti")
                        .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                             .alias("dm")))
            new_ranks = (nodes
                         .join(contribs, nodes["node"] == contribs["dst"],
                               "left")
                         .crossJoin(F.broadcast(dangling))
                         .select(
                             nodes["node"],
                             (F.lit((1.0 - damping) / n)
                              + F.lit(damping)
                              * (F.coalesce(F.col("c"), F.lit(0.0))
                                 + F.col("dm") / F.lit(float(n))))
                             .alias("rank")))
            # tol mode: eager=False — the delta aggregate below is the
            # first action over new_ranks and computes every partition,
            # so ONE job both materializes the checkpoint and reads the
            # scalar (2 jobs/iteration -> 1; values unchanged — a
            # localCheckpoint is value-neutral). Fixed-iters mode keeps
            # eager=True: it has no per-iteration action to fuse into,
            # and an unmaterialized lazy chain would nest the plan.
            new_ranks = new_ranks.localCheckpoint(eager=(tol is None))
            if tol is not None:
                delta = (new_ranks
                         .join(ranks.withColumnRenamed("rank", "_old"),
                               "node")
                         .agg(F.sum(F.abs(F.col("rank")
                                          - F.col("_old"))))
                         .collect()[0][0])
            else:
                delta = None
            ranks = last = new_ranks
            if delta is not None and delta < tol:
                break
        del last  # checkpoint blocks are freed when the DF is GC'd
        return ranks.select("node", dround("rank", round_dp)
                            .alias("rank"))
    finally:
        ef.unpersist()
        nodes.unpersist()


def pagerank_sql(
    edges_sql: str,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iters: int = 3,
    damping: float = 0.85,
    round_dp: int = 6,
) -> str:
    """DuckDB twin: the power iteration UNROLLED as one CTE chain per
    iteration (contribs_i, dangling_i, ranks_i) — same arithmetic,
    same end-only rounding. Usable for the driver-scale fixed-iters
    runs; a convergence run would unroll too far (use the Spark op)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    w = f"CAST({weight_col} AS DOUBLE)" if weight_col else "1.0"
    d = repr(float(damping))
    parts = [f"""
_raw AS ({edges_sql}),
_e AS (
  SELECT {src_col} AS src, {dst_col} AS dst, sum({w}) AS w
  FROM _raw GROUP BY 1, 2
),
_outw AS (SELECT src, sum(w) AS wout FROM _e GROUP BY 1),
_ef AS (SELECT _e.src, _e.dst, _e.w / _outw.wout AS frac
        FROM _e JOIN _outw USING (src)),
_nodes AS (SELECT src AS node FROM _e
           UNION SELECT dst FROM _e),
_n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM _nodes),
ranks_0 AS (SELECT node, 1.0 / n AS rank FROM _nodes CROSS JOIN _n)"""]
    for i in range(1, iters + 1):
        p = f"ranks_{i - 1}"
        parts.append(f"""
contribs_{i} AS (
  SELECT dst, sum(rank * frac) AS c
  FROM _ef JOIN {p} ON _ef.src = {p}.node GROUP BY dst
),
dangling_{i} AS (
  SELECT coalesce(sum(rank), 0.0) AS dm FROM {p}
  WHERE node NOT IN (SELECT src FROM _outw)
),
ranks_{i} AS (
  SELECT _nodes.node,
         (1.0 - {d}) / n + {d} * (coalesce(c, 0.0) + dm / n) AS rank
  FROM _nodes
  LEFT JOIN contribs_{i} ON _nodes.node = contribs_{i}.dst
  CROSS JOIN dangling_{i} CROSS JOIN _n
)""")
    return ("WITH " + ",".join(parts)
            + f"\nSELECT node, round(rank, {round_dp}) AS rank "
              f"FROM ranks_{iters}")


def pagerank_reference(
    edges: list[tuple[str, str, float]],
    iters: int = 3,
    damping: float = 0.85,
) -> dict[str, float]:
    """Independent dense-numpy power iteration for test goldens."""
    import numpy as np

    agg: dict[tuple[str, str], float] = {}
    for s, t, w in edges:
        agg[(s, t)] = agg.get((s, t), 0.0) + w
    nodes = sorted({s for s, _ in agg} | {t for _, t in agg})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for (s, t), w in agg.items():
        M[idx[t], idx[s]] += w
    col = M.sum(axis=0)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        nz = col > 0
        contrib = M[:, nz] @ (r[nz] / col[nz])
        dm = r[~nz].sum()
        r = (1.0 - damping) / n + damping * (contrib + dm / n)
    return {v: round(float(r[idx[v]]), 6) for v in nodes}


# ---------------------------------------------------------------------------
# triangle counting + clustering coefficients
# ---------------------------------------------------------------------------

def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    round_dp: int = 4,
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over
    the UNDIRECTED simple graph induced by `edges` (direction,
    duplicates and self-loops are normalized away first):
    (node, degree, triangles, lcc) with lcc = 2T/(d(d-1)) for d >= 2
    else 0.0, rounded to `round_dp`. Every node of the graph gets a
    row, triangle-free ones with triangles=0.

    Scale design — degree-ordered wedge enumeration (the
    compact-forward scheme; Schank & Wagner 2005, Cohen 2009): each
    undirected edge is oriented from its (degree, node)-smaller
    endpoint to the larger, wedges are generated only at a vertex's
    OUT-neighbors, and the closing edge is probed in the oriented
    table. Work is O(m^1.5) regardless of degree skew — a star
    hub with 10^7 followers generates ZERO wedges at the hub (all
    its edges point inward), where the naive u-join-u scheme would
    try 10^14 pairs. All joins are hash equi-joins on node keys;
    each triangle is produced exactly once (at its lowest-ranked
    vertex), so per-node counts need no dedup."""
    a, b = "a", "b"
    e = (edges
         .filter(F.col(src).isNotNull() & F.col(dst).isNotNull()
                 & (F.col(src) != F.col(dst)))
         .select(F.least(src, dst).alias(a),
                 F.greatest(src, dst).alias(b))
         .distinct())
    deg = (e.select(F.col(a).alias("node"))
           .unionAll(e.select(F.col(b).alias("node")))
           .groupBy("node").agg(F.count("*").alias("degree")))
    # orient by (degree, node): u -> v iff rank(u) < rank(v)
    ranked = (e
              .join(deg.select(F.col("node").alias(a),
                               F.col("degree").alias("da")), a)
              .join(deg.select(F.col("node").alias(b),
                               F.col("degree").alias("db")), b))
    fwd = F.struct(F.col("da").alias("d"), F.col(a).alias("n")) < \
        F.struct(F.col("db").alias("d"), F.col(b).alias("n"))
    oriented = (ranked.select(
        F.when(fwd, F.col(a)).otherwise(F.col(b)).alias("u"),
        F.when(fwd, F.col(b)).otherwise(F.col(a)).alias("v"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv"))
        .persist())
    # wedges at u between two out-neighbors, rank-ordered so each
    # unordered pair appears once and the closing edge is (v -> w)
    o1 = oriented.select("u", F.col("v").alias("v1"),
                         F.col("dv").alias("d1"))
    o2 = oriented.select("u", F.col("v").alias("v2"),
                         F.col("dv").alias("d2"))
    wedges = (o1.join(o2, "u")
              .filter(F.struct(F.col("d1").alias("d"),
                               F.col("v1").alias("n")) <
                      F.struct(F.col("d2").alias("d"),
                               F.col("v2").alias("n")))
              .select("u", F.col("v1").alias("v"),
                      F.col("v2").alias("w")))
    tris = wedges.join(
        oriented.select(F.col("u").alias("v"), F.col("v").alias("w")),
        ["v", "w"])
    per_node = (tris.select(F.explode(F.array("u", "v", "w"))
                            .alias("node"))
                .groupBy("node").agg(F.count("*").alias("triangles")))
    out = (deg.join(per_node, "node", "left")
           .select(
               "node", "degree",
               F.coalesce("triangles", F.lit(0)).alias("triangles"),
               dround(
                   F.when(F.col("degree") >= 2,
                          2.0 * F.coalesce("triangles", F.lit(0))
                          / (F.col("degree")
                             * (F.col("degree") - 1.0)))
                   .otherwise(F.lit(0.0)), round_dp).alias("lcc")))
    oriented.unpersist()
    return out


def triangle_counts_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    round_dp: int = 4,
) -> str:
    """DuckDB twin over an edge-producing SELECT: id-ordered triangle
    enumeration (a<b<c needs edges ab, bc, ac) — a different join
    order than the degree-ordered Spark plan, but the same triangle
    SET, so per-node counts and lcc agree exactly."""
    return f"""
WITH raw AS ({edges_sql}),
e AS (
  SELECT DISTINCT least({src}, {dst}) AS a, greatest({src}, {dst}) AS b
  FROM raw
  WHERE {src} IS NOT NULL AND {dst} IS NOT NULL AND {src} <> {dst}
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY 1
),
tris AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
per_node AS (
  SELECT node, count(*) AS triangles FROM (
    SELECT x AS node FROM tris
    UNION ALL SELECT y FROM tris
    UNION ALL SELECT z FROM tris
  ) GROUP BY 1
)
SELECT deg.node, deg.degree,
       coalesce(per_node.triangles, 0) AS triangles,
       round(CASE WHEN degree >= 2
                  THEN 2.0 * coalesce(per_node.triangles, 0)
                       / (degree * (degree - 1.0))
                  ELSE 0.0 END, {int(round_dp)}) AS lcc
FROM deg LEFT JOIN per_node USING (node)
"""


def triangle_reference(
    edges: list[tuple[str, str]],
) -> dict[str, tuple[int, int, float]]:
    """Independent brute-force triangle counter for test goldens:
    {node: (degree, triangles, lcc)} via adjacency-set intersection
    over all id-ordered triples."""
    adj: dict[str, set[str]] = {}
    for s, t in edges:
        if s == t:
            continue
        adj.setdefault(s, set()).add(t)
        adj.setdefault(t, set()).add(s)
    tri = {v: 0 for v in adj}
    nodes = sorted(adj)
    for i, x in enumerate(nodes):
        for y in sorted(adj[x]):
            if y <= x:
                continue
            for z in adj[x] & adj[y]:
                if z > y:
                    tri[x] += 1
                    tri[y] += 1
                    tri[z] += 1
    return {v: (len(adj[v]), tri[v],
                round(2.0 * tri[v] / (len(adj[v]) * (len(adj[v]) - 1)), 4)
                if len(adj[v]) >= 2 else 0.0)
            for v in adj}


# ---------------------------------------------------------------------------
# HITS (hubs & authorities)
# ---------------------------------------------------------------------------

def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """Kleinberg's HITS (1999) by fixed-iteration power method:
    authority(v) = Σ hub(u) over in-edges, hub(u) = Σ authority(v)
    over out-edges, each vector L1-normalized after its half-step.
    Returns (node, authority, hub) over every node appearing as src
    or dst; nodes with no in-edges get authority 0, no out-edges hub
    0. Parallel edges count once (DISTINCT — the usual adjacency-
    matrix formulation). Rounded to `round_dp` at the END only, so
    the unrolled DuckDB twin replays the full double chain.

    The complement to pagerank for crawl-frontier curation: pagerank
    scores global endorsement, HITS separates "pages good to crawl
    FROM" (hubs — link lists, indexes) from "pages worth having"
    (authorities). Same scale shape as pagerank: per-iteration one
    keyed join + partial agg each direction, scores
    localCheckpoint-ed so the plan doesn't grow with iterations; the
    L1 norm is a 1-row aggregate broadcast back."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .distinct().persist())
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    try:
        if e.isEmpty():
            raise ValueError("hits: empty edge list")
        hub = nodes.withColumn("h", F.lit(1.0)) \
            .localCheckpoint(eager=True)
        auth = None
        for _ in range(iters):
            araw = (e.join(hub, e["src"] == hub["node"])
                    .groupBy("dst").agg(F.sum("h").alias("a")))
            asum = araw.agg(F.sum("a").alias("s"))
            auth = (nodes.join(araw, nodes["node"] == araw["dst"],
                               "left")
                    .crossJoin(F.broadcast(asum))
                    .select(nodes["node"],
                            (F.coalesce("a", F.lit(0.0))
                             / F.col("s")).alias("a"))
                    .localCheckpoint(eager=True))
            hraw = (e.join(auth, e["dst"] == auth["node"])
                    .groupBy("src").agg(F.sum("a").alias("h")))
            hsum = hraw.agg(F.sum("h").alias("s"))
            hub = (nodes.join(hraw, nodes["node"] == hraw["src"],
                              "left")
                   .crossJoin(F.broadcast(hsum))
                   .select(nodes["node"],
                           (F.coalesce("h", F.lit(0.0))
                            / F.col("s")).alias("h"))
                   .localCheckpoint(eager=True))
        return (auth.join(hub, "node")
                .select("node",
                        dround("a", round_dp).alias("authority"),
                        dround("h", round_dp).alias("hub")))
    finally:
        e.unpersist()
        nodes.unpersist()


def hits_sql(
    edges_sql: str,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    round_dp: int = 6,
) -> str:
    """DuckDB twin of hits: the power method unrolled one CTE pair
    per iteration, same L1 normalization, same end-only rounding."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    parts = [f"""
WITH e AS (
  SELECT DISTINCT {src_col} AS src, {dst_col} AS dst
  FROM ({edges_sql})
),
nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
),
h0 AS (SELECT node, 1.0 AS h FROM nodes)"""]
    prev_h = "h0"
    for i in range(1, iters + 1):
        parts.append(f""",
a{i}r AS (
  SELECT e.dst AS node, sum(p.h) AS a
  FROM e JOIN {prev_h} p ON e.src = p.node GROUP BY e.dst
),
a{i} AS (
  SELECT n.node,
         coalesce(r.a, 0) / (SELECT sum(a) FROM a{i}r) AS a
  FROM nodes n LEFT JOIN a{i}r r USING (node)
),
h{i}r AS (
  SELECT e.src AS node, sum(p.a) AS h
  FROM e JOIN a{i} p ON e.dst = p.node GROUP BY e.src
),
h{i} AS (
  SELECT n.node,
         coalesce(r.h, 0) / (SELECT sum(h) FROM h{i}r) AS h
  FROM nodes n LEFT JOIN h{i}r r USING (node)
)""")
        prev_h = f"h{i}"
    parts.append(f"""
SELECT a.node, round(a.a, {round_dp}) AS authority,
       round(h.h, {round_dp}) AS hub
FROM a{iters} a JOIN h{iters} h USING (node)""")
    return "".join(parts)


def core_numbers(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """Per-node coreness (k-core decomposition) — the graph family's
    density ladder beside pagerank's centrality and lcc's cohesion:
    node v has coreness k iff it survives in the maximal subgraph
    where every node keeps degree >= k. Corpus reading: link-farm /
    spam clusters live in abnormally high cores; crawl frontier
    pruning keeps the k-core.

    Algorithm: distributed h-index propagation (Lü, Zhou et al. 2016,
    "The H-index of a network node"): initialize c(v) = degree(v),
    iterate c(v) <- H({c(u) : u ~ v}) where H is the h-index (the
    largest h such that >= h neighbors have value >= h). The sequence
    is monotonically non-increasing and its fixpoint is EXACTLY the
    coreness — a convergence result that turns the inherently
    sequential Matula-Beck peel into a per-node local update, the
    same shape as the components label loop.

    Per round: one keyed join (edge, value) + one per-node window to
    rank neighbor values + one agg — shuffles carry (node, int)
    pairs. The h-index of a node needs only its TOP-c(v) neighbor
    values, so rows rank desc and cap at min(rn, value); a 10^7-degree
    hub pays one keyed sort of ints, not a collect. The round's state
    carries the previous value, and the fixpoint test counts changed
    values on it; the loop, checkpoints and failure policy are
    dedup._fixpoint's (max_iter < 1 raises ValueError, no fixpoint
    within max_iter rounds raises RuntimeError).
    Undirected simple graph: edges normalize (least/greatest,
    distinct, self-loops dropped)."""
    from pyspark.sql import Window

    from .dedup import _fixpoint

    und = (edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("a"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct())
    adj = (und.select(F.col("a").alias("node"),
                      F.col("b").alias("nbr"))
           .unionAll(und.select(F.col("b").alias("node"),
                                F.col("a").alias("nbr"))))
    adj = adj.localCheckpoint(eager=False)
    w = Window.partitionBy("node").orderBy(F.desc("nv"),
                                           F.asc("nbr"))

    def step(vals: DataFrame) -> DataFrame:
        nbrv = (adj.join(vals.select(F.col("node").alias("nbr"),
                                     F.col("c").alias("nv")), "nbr"))
        hidx = (nbrv
                .withColumn("rn", F.row_number().over(w))
                .groupBy("node")
                .agg(F.max(F.least(F.col("rn"), F.col("nv")))
                     .alias("h")))
        return (vals.join(hidx, "node", "left")
                .select("node",
                        F.col("c").alias("__old"),
                        F.least(F.col("c"),
                                F.coalesce(F.col("h"), F.lit(0)))
                        .alias("c")))

    def unchanged(_, vals: DataFrame) -> bool:
        return vals.filter(F.col("c") != F.col("__old")).count() == 0

    vals, _ = _fixpoint(
        "core_numbers", adj.groupBy("node").agg(F.count("*").alias("c")),
        step, unchanged, max_iter)
    return vals.select("node", F.col("c").alias("coreness"))


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Nodes of the k-core (coreness >= k). The k-core is UNIQUE, so
    the result is order- and partitioning-independent."""
    if k < 1:
        raise ValueError("k must be >= 1")
    return (core_numbers(edges, src_col, dst_col)
            .filter(F.col("coreness") >= k)
            .select("node"))


def core_reference(pairs: "list[tuple]") -> "dict":
    """Independent exact coreness oracle for tests: the sequential
    Matula-Beck peel (repeatedly remove the minimum-degree node; its
    coreness is the running max of min-degrees seen)."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    core: dict = {}
    live = set(adj)
    cur = 0
    while live:
        v = min(live, key=lambda x: (deg[x], str(x)))
        cur = max(cur, deg[v])
        core[v] = cur
        live.remove(v)
        for u in adj[v]:
            if u in live:
                deg[u] -= 1
    return core


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) — undirected connected components by
    min-label propagation: every node starts labeled with itself;
    each round a node takes the minimum of its own and its
    neighbors' labels; at the fixpoint every node carries its
    component's minimum node id (the canonical representative both
    engines agree on — ids are cast to string and compare
    binary-lexicographic in Spark and DuckDB alike).

    The string-cast edges feed dedup.components_from_pairs, the
    package's one min-label kernel. Convergence is O(component
    diameter) rounds — small for the social/web/dedup graphs this
    targets; connected_components_large covers unbounded diameter.
    Failure policy is dedup._fixpoint's: max_iter < 1 raises
    ValueError, and no fixpoint within max_iter rounds raises
    RuntimeError (a silent partial labeling would corrupt downstream
    grouping).

    Isolated nodes cannot appear in an edge list and are absent by
    construction; self-loops and parallel/reversed duplicates are
    harmless."""
    from .dedup import components_from_pairs

    # lazy checkpoint: the node list and the kernel's edges both read
    # it, so the edge source is computed once
    e = (edges.select(F.col(src_col).cast("string").alias("id1"),
                      F.col(dst_col).cast("string").alias("id2"))
         .filter(F.col("id1").isNotNull() & F.col("id2").isNotNull())
         .distinct().localCheckpoint(eager=False))
    nodes = (e.select(F.col("id1").alias("node"))
             .union(e.select(F.col("id2").alias("node"))).distinct())
    return (components_from_pairs(nodes, e, "node", max_iter=max_iter)
            .withColumnRenamed("cluster_id", "component"))


def connected_components_sql(
    edges_sql: str,
    src_col: str = "src",
    dst_col: str = "dst",
) -> str:
    """DuckDB twin of connected_components: a recursive CTE
    enumerates, for every node, all labels reachable along
    symmetrized edges (UNION dedup guarantees termination), then
    min-reduces — the declarative fixpoint of the same min-label
    semantics. Correctness oracle only: the closure is
    O(nodes·component size) pairs, fine at test scale; the Spark
    side owns the O(diameter)-round physical shape."""
    return f"""
WITH RECURSIVE
ebase AS ({edges_sql}),
und AS (
  SELECT CAST({src_col} AS VARCHAR) AS s,
         CAST({dst_col} AS VARCHAR) AS d
  FROM ebase
  WHERE {src_col} IS NOT NULL AND {dst_col} IS NOT NULL
  UNION
  SELECT CAST({dst_col} AS VARCHAR), CAST({src_col} AS VARCHAR)
  FROM ebase
  WHERE {src_col} IS NOT NULL AND {dst_col} IS NOT NULL
),
reach(node, label) AS (
  SELECT s, s FROM und
  UNION
  SELECT und.s, reach.label
  FROM reach JOIN und ON und.d = reach.node
)
SELECT node, min(label) AS component
FROM reach GROUP BY node
"""


def bfs_distances(
    edges: DataFrame,
    sources: "list[str]",
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 10,
) -> DataFrame:
    """(node, dist) — multi-source BFS over the symmetrized edge
    list: minimum hop count from ANY source, for every node within
    `max_hops` (unreachable nodes are absent — the contract both
    engines share; the hop bound is what makes the declarative twin
    terminate on cyclic graphs). Sources appear at dist 0 whether or
    not they occur in the edge list.

    Frontier expansion, the scalable BFS shape: each round joins the
    CURRENT FRONTIER ONLY (not all settled nodes) against the edge
    list, anti-joins out already-settled nodes, and stops early when
    the frontier empties — O(min(diameter, max_hops)) rounds, one
    scalar emptiness read per round, localCheckpoint lineage
    truncation (the connected_components posture)."""
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    if not sources:
        raise ValueError("sources must be non-empty")
    spark = edges.sparkSession
    e = (edges.select(F.col(src_col).cast("string").alias("s"),
                      F.col(dst_col).cast("string").alias("d"))
         .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
         .distinct())
    und = (e.union(e.select(F.col("d").alias("s"),
                            F.col("s").alias("d")))
           .distinct().persist())
    dist = spark.createDataFrame(
        [(str(x), 0) for x in sources], "node string, dist int") \
        .distinct().localCheckpoint(eager=True)
    frontier = dist
    try:
        for hop in range(1, max_hops + 1):
            cand = (frontier.join(und, frontier["node"] == und["s"])
                    .select(und["d"].alias("node"),
                            F.lit(hop).alias("dist"))
                    .distinct())
            new = (cand.join(dist.select("node"), "node",
                             "left_anti")
                   .localCheckpoint(eager=True))
            if new.isEmpty():
                break
            dist = dist.unionByName(new).localCheckpoint(eager=True)
            frontier = new
        return dist.select("node", F.col("dist").cast("long")
                           .alias("dist"))
    finally:
        und.unpersist()


def bfs_distances_sql(
    edges_sql: str,
    sources: "list[str]",
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 10,
) -> str:
    """DuckDB twin of bfs_distances: recursive CTE bounded by the
    same max_hops (UNION-deduped (node, d) pairs terminate because d
    is capped), min-reduced per node."""
    from ..sqlutil import sql_lit
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    if not sources:
        raise ValueError("sources must be non-empty")
    seeds = " UNION ALL ".join(
        f"SELECT {sql_lit(s)} AS node, 0 AS d" for s in sources)
    return f"""
WITH RECURSIVE
ebase AS ({edges_sql}),
und AS (
  SELECT CAST({src_col} AS VARCHAR) AS u,
         CAST({dst_col} AS VARCHAR) AS v
  FROM ebase
  WHERE {src_col} IS NOT NULL AND {dst_col} IS NOT NULL
  UNION
  SELECT CAST({dst_col} AS VARCHAR), CAST({src_col} AS VARCHAR)
  FROM ebase
  WHERE {src_col} IS NOT NULL AND {dst_col} IS NOT NULL
),
reach(node, d) AS (
  SELECT DISTINCT node, d FROM ({seeds})
  UNION
  SELECT und.v, reach.d + 1
  FROM reach JOIN und ON und.u = reach.node
  WHERE reach.d < {int(max_hops)}
)
SELECT node, CAST(min(d) AS BIGINT) AS dist FROM reach GROUP BY node
"""


def core_numbers_unrolled_sql(
    edges_query: str,
    rounds: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> str:
    """DuckDB twin of core_numbers for graphs whose h-index fixpoint
    round count is KNOWN and bounded (the Hilbert unrolled-state-
    machine posture): `rounds` fixed h-index sweeps are unrolled as a
    CTE chain. The iterated h-index is monotone non-increasing and
    idempotent at its fixpoint (Lü et al. 2016), so any rounds >=
    the measured convergence count replays the Spark loop exactly —
    extra rounds are identity. NOT a general-graph oracle: on
    unbounded inputs the fixpoint round count is data-dependent,
    which is precisely why core_numbers itself iterates with a
    changed-count check. Callers must pin `rounds` with a measured
    margin (pytest asserts convergence <= rounds/2 for the driver
    row's seed graph).

    Each round mirrors core_numbers' update term-for-term: rank
    neighbor values desc (nbr asc tiebreak), h = max(least(rank,
    value)), next = least(current, coalesce(h, 0))."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    parts = [f"""edges_in AS ({edges_query}),
und AS (
  SELECT DISTINCT least({src_col}, {dst_col}) AS a,
                  greatest({src_col}, {dst_col}) AS b
  FROM edges_in WHERE {src_col} <> {dst_col}
),
adj AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL
  SELECT b AS node, a AS nbr FROM und
),
v0 AS MATERIALIZED (
  SELECT node, count(*) AS c FROM adj GROUP BY node
)"""]
    for r in range(1, rounds + 1):
        # AS MATERIALIZED: each round references the previous one
        # TWICE (node side + neighbor side); inlined CTEs would
        # double the expression tree per round — 2^rounds blowup.
        parts.append(f"""v{r} AS MATERIALIZED (
  SELECT node, least(max(c0), coalesce(max(least(rn, nv)), 0)) AS c
  FROM (
    SELECT a.node, v.c AS c0, w.c AS nv,
           row_number() OVER (PARTITION BY a.node
                              ORDER BY w.c DESC, a.nbr ASC) AS rn
    FROM adj a
    JOIN v{r - 1} v ON v.node = a.node
    JOIN v{r - 1} w ON w.node = a.nbr)
  GROUP BY node
)""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT node, CAST(c AS BIGINT) AS coreness"
              f" FROM v{rounds}")


def connected_components_large(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) — the unbounded-diameter escalation of
    connected_components: alternating large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond"), which converges in O(log² n) rounds
    REGARDLESS of diameter, where min-label propagation needs
    O(diameter) rounds (a 10⁶-hop crawl chain = 10⁶ min-label rounds
    but ~20 contraction rounds). Same output contract as
    connected_components: component = the component's minimum node
    id under binary-lexicographic string order (any total order
    works for the contraction; this one is the cross-engine-stable
    choice, so connected_components_sql is this operator's oracle
    too).

    Per round: large-star hangs every node's larger neighbors onto
    its minimum (one symmetrized groupBy-min + one keyed join),
    small-star re-points the smaller neighbors (same shape on the
    max-oriented list) — 2 aggs + 2 joins per round, shuffles carry
    (node, node) string pairs only. Convergence = the edge set is
    unchanged: one scalar read per round compares the (count,
    checksum) of the previous and the new edge set (no edge-diff
    join). The loop, checkpoints and failure policy are
    dedup._fixpoint's (max_iter < 1 raises ValueError, no fixpoint
    within max_iter rounds raises RuntimeError).

    At the fixpoint every surviving edge is (node, component-min),
    so labels read off directly; the component min itself and any
    node whose edges were all absorbed re-enter via the original
    node list with label = min over their final star edges."""
    from .dedup import _fixpoint

    base = (edges.select(F.col(src_col).cast("string").alias("a"),
                         F.col(dst_col).cast("string").alias("b"))
            .filter(F.col("a").isNotNull() & F.col("b").isNotNull()))
    nodes = (base.select(F.col("a").alias("node"))
             .union(base.select(F.col("b").alias("node")))
             .distinct().localCheckpoint(eager=False))
    seed = (base.filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"),
                    F.greatest("a", "b").alias("b"))
            .distinct())

    def step(cur: DataFrame) -> DataFrame:
        # large-star: from each node u, re-hang every LARGER
        # neighbor v onto m = min(Γ(u) ∪ {u})
        sym = cur.select(F.col("a").alias("u"), F.col("b").alias("v")) \
            .union(cur.select(F.col("b").alias("u"),
                              F.col("a").alias("v")))
        mins = (sym.groupBy("u")
                .agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", "u").alias("m")))
        ls = (sym.join(mins, "u")
              .filter(F.col("v") > F.col("u"))
              .select(F.least("v", "m").alias("a"),
                      F.greatest("v", "m").alias("b"))
              .filter(F.col("a") != F.col("b"))
              .distinct())
        # small-star: orient to the larger endpoint, re-point the
        # smaller neighbors (and u itself) at the minimum
        smin = (ls.groupBy("b")
                .agg(F.min("a").alias("m")))
        return (ls.join(smin, "b")
                .select(F.explode(F.array(
                    F.struct(F.least("a", "m").alias("a"),
                             F.greatest("a", "m").alias("b")),
                    F.struct(F.least("b", "m").alias("a"),
                             F.greatest("b", "m").alias("b"))))
                    .alias("e"))
                .select("e.a", "e.b")
                .filter(F.col("a") != F.col("b"))
                .distinct())

    def unchanged(prev: DataFrame, cur: DataFrame) -> bool:
        def sig(e: DataFrame) -> DataFrame:
            return e.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.xxhash64(F.concat_ws("|", "a", "b"))
                                 .cast("decimal(38,0)")), F.lit(0))
                .alias("h"))
        a, b = sig(prev).unionAll(sig(cur)).collect()
        return a == b

    cur, _ = _fixpoint("connected_components_large", seed, step,
                       unchanged, max_iter)
    sym = cur.select(F.col("a").alias("node"),
                     F.col("b").alias("other")) \
        .union(cur.select(F.col("b").alias("node"),
                          F.col("a").alias("other")))
    lab = sym.groupBy("node").agg(F.min("other").alias("mn"))
    return (nodes.join(lab, "node", "left")
            .select("node",
                    F.least(F.coalesce(F.col("mn"), F.col("node")),
                            F.col("node")).alias("component")))
