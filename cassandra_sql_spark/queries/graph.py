"""Graph analytics over the page-transition graph of the event log
(``graph_*``): PageRank, triangles, degrees, clustering, neighbor
similarity, assortativity, shortest hops and link prediction.

The edge list is built once from the raw log and checkpointed; the
pure-SQL CTE form would re-scan the log once per reference under
Catalyst's CTE inlining. The DuckDB oracles keep the CTE form.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.queries.base import (
    PAGE_K_DUCK,
    PAGE_K_SPARK,
    Q,
    df_q,
    sql_q,
)


# ---------------------------------------------------------------------------
# PageRank SQL is built programmatically: same text both engines except
# the JSON field extraction. damping 0.85, 3 unrolled iterations, each
# rank quantized to 9dp (FLOOR(x*1e9+0.5) — exact on both engines for
# these magnitudes) so iteration k+1 starts from identical inputs.

_SCALE = 1000000000


def _q9(expr: str) -> str:
    """Quantize a double expression to 9dp, staying DOUBLE-typed."""
    return (
        f"CAST(CAST(FLOOR(({expr}) * {_SCALE} + 0.5) AS BIGINT) AS DOUBLE)"
        f" / {_SCALE}"
    )


def _pr_iter(prev: str, cur: str) -> str:
    """One PageRank iteration: cur = (1-d)/N + d * sum_in(prev * w)."""
    insum = (
        f"CAST(SUM(CAST(FLOOR(r.pr * w.wt * {_SCALE} + 0.5) AS BIGINT))"
        f" AS DOUBLE) / {_SCALE}"
    )
    rank = _q9("0.15 / nc.n + 0.85 * COALESCE(s.insum, 0.0)")
    return f"""{cur} AS (
  SELECT nodes.page, {rank} AS pr
  FROM nodes CROSS JOIN nc
  LEFT JOIN (
    SELECT w.dst AS page, {insum} AS insum
    FROM w JOIN {prev} r ON w.src = r.page
    GROUP BY w.dst
  ) s ON nodes.page = s.page
)"""


def _pagerank_sql(json_k: str) -> str:
    return f"""
WITH ev AS (
  SELECT user_id, ts, event_id, {json_k} AS page
  FROM events
),
seq AS (
  SELECT page AS src,
         LEAD(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM ev
),
edges AS (
  SELECT src, dst, COUNT(*) AS cnt
  FROM seq WHERE src IS NOT NULL AND dst IS NOT NULL
  GROUP BY src, dst
),
outdeg AS (
  SELECT src, CAST(SUM(cnt) AS BIGINT) AS deg FROM edges GROUP BY src
),
w AS (
  SELECT e.src, e.dst, e.cnt / CAST(o.deg AS DOUBLE) AS wt
  FROM edges e JOIN outdeg o ON e.src = o.src
),
nodes AS (
  SELECT DISTINCT page FROM (
    SELECT src AS page FROM edges
    UNION SELECT dst AS page FROM edges
  ) np
),
nc AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (
  SELECT page, {_q9("1.0 / nc.n")} AS pr FROM nodes CROSS JOIN nc
),
{_pr_iter("r0", "r1")},
{_pr_iter("r1", "r2")},
{_pr_iter("r2", "r3")}
SELECT page, pr FROM r3 ORDER BY pr DESC, page
"""


def _pagerank(spark, sf):
    """DataFrame PageRank: the event log is scanned ONCE to build the
    weighted edge list, which is localCheckpoint-ed (it is at most
    |pages|² rows — model-sized, not data-sized); the three rank
    iterations then join only the materialized graph. The equivalent
    pure-SQL CTE chain re-expands `edges` under Catalyst's CTE inlining
    into 22 scans of the raw log — measured here, and fatal at 100 TB.
    The oracle keeps the CTE form (DuckDB materializes CTEs).

    Math matches the oracle bit-for-bit: every per-edge term and every
    rank is quantized to 9dp via FLOOR(x*1e9+0.5) on doubles, so sums
    are order-independent and Python/JVM/DuckDB compute identical IEEE
    results."""
    ev = load(spark, sf, "events")
    page = F.get_json_object("props", "$.k").cast("bigint")
    from pyspark.sql import Window

    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        page.alias("src"), F.col("user_id"), F.col("ts"), F.col("event_id")
    ).select("src", F.lead("src").over(w_user).alias("dst"))
    edges = (
        seq.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    outdeg = edges.groupBy("src").agg(F.sum("cnt").cast("long").alias("deg"))
    wdf = (
        edges.join(outdeg, "src")
        .select("src", "dst", (F.col("cnt") / F.col("deg").cast("double")).alias("wt"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        wdf.select(F.col("src").alias("page"))
        .union(wdf.select(F.col("dst").alias("page")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    scale = float(_SCALE)

    def q9_lit(x: float) -> float:
        return math.floor(x * scale + 0.5) / scale

    def q9_col(c):
        return (
            F.floor(c * F.lit(scale) + F.lit(0.5)).cast("bigint").cast("double")
            / F.lit(scale)
        )

    ranks = nodes.select("page", F.lit(q9_lit(1.0 / n)).alias("pr"))
    teleport = 0.15 / n
    for _ in range(3):
        contrib = (
            wdf.join(ranks, wdf.src == ranks.page)
            .select(
                "dst",
                F.floor(F.col("pr") * F.col("wt") * F.lit(scale) + F.lit(0.5))
                .cast("bigint")
                .alias("_term"),
            )
            .groupBy("dst")
            .agg(
                (F.sum("_term").cast("double") / F.lit(scale)).alias("insum")
            )
        )
        ranks = nodes.join(
            contrib, nodes.page == contrib.dst, "left"
        ).select(
            "page",
            q9_col(
                F.lit(teleport)
                + F.lit(0.85) * F.coalesce(F.col("insum"), F.lit(0.0))
            ).alias("pr"),
        )
    return ranks.orderBy(F.desc("pr"), "page")


_EDGES = """
pages AS (
  SELECT user_id, ts, event_id, {k} AS page
  FROM events WHERE ts IS NOT NULL
),
hops AS (
  SELECT page AS src,
         LEAD(page) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dst
  FROM pages
),
edges AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM hops
  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
)"""


def _canonical_edges(spark, sf, view: str):
    """Build the canonical undirected page-transition edge list ONCE
    from the event log and localCheckpoint it (model-sized: at most
    |pages|^2 rows). The pure-SQL CTE form re-expands `edges` under
    Catalyst's CTE inlining — clustering-coefficient references it four
    times and neighbor-Jaccard five, i.e. 4-5 full scans of the raw log
    at 100 TB (the same trap _pagerank documented and dodged)."""
    from pyspark.sql import Window

    ev = load(spark, sf, "events").filter(F.col("ts").isNotNull())
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.expr(PAGE_K_SPARK).alias("src"), "user_id", "ts", "event_id"
    ).select("src", F.lead("src").over(w_user).alias("dst"))
    edges = (
        seq.filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges.createOrReplaceTempView(view)
    return edges


# Per-node local clustering coefficient: closed wedges / possible
# wedges. Triangles enumerate once over the canonical edge set (the
# same two-join shape as graph_triangle_count — |edges| shuffle rows,
# never the event log), then each triangle credits its three corners.
# 2T and d(d-1) are exact ints; one double division per node.
_CLUSTERING_TAIL = """
WITH tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM {v} e1
  JOIN {v} e2 ON e1.b = e2.a
  JOIN {v} e3 ON e3.a = e1.a AND e3.b = e2.b
),
tcnt AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS t
  FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y AS node FROM tri
    UNION ALL SELECT z AS node FROM tri
  ) tn GROUP BY node
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (
    SELECT a AS node FROM {v} UNION ALL SELECT b AS node FROM {v}
  ) dn GROUP BY node
)
SELECT deg.node AS page, deg.d AS degree,
       CAST(COALESCE(tcnt.t, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.d >= 2
            THEN CAST(2 * COALESCE(tcnt.t, 0) AS DOUBLE)
                 / (deg.d * (deg.d - 1))
            ELSE 0.0 END AS clustering_coeff
FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node
ORDER BY page
"""

# Structural-equivalence mining: page pairs ranked by neighbor-set
# Jaccard. Candidates come from the wedge join (pairs sharing >= 1
# neighbor — sum(deg^2) fan-out, the usual degree-cap lever at scale),
# |A union B| = dA + dB - shared, all exact ints.
_JACCARD_TAIL = """
WITH und AS (
  SELECT a AS u, b AS v FROM {v} UNION ALL SELECT b AS u, a AS v FROM {v}
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY u),
wedge AS (
  SELECT n1.u AS p, n2.u AS q
  FROM und n1 JOIN und n2 ON n1.v = n2.v AND n1.u < n2.u
),
shared AS (
  SELECT p, q, CAST(COUNT(*) AS BIGINT) AS c FROM wedge GROUP BY p, q
)
SELECT s.p AS page_a, s.q AS page_b, s.c AS shared_neighbors,
       da.d AS deg_a, db.d AS deg_b,
       CAST(s.c AS DOUBLE) / (da.d + db.d - s.c) AS jaccard
FROM shared s
JOIN deg da ON s.p = da.u
JOIN deg db ON s.q = db.u
ORDER BY jaccard DESC, page_a, page_b
LIMIT 20
"""

# Hot-node guard for the wedge joins:
# wedge enumeration costs sum(d^2) over shared endpoints, so ONE hub in
# a power-law graph dominates the join. degree_cap=N applies hub
# removal — drop every node of degree > N (and its edges) BEFORE the
# wedge join, the standard bounded-fan-out discipline (mirrors the
# dedup family's df_cutoff: a trigram in >64 docs is evidence of
# boilerplate, a page touching >cap others is a nav hub, neither is
# signal). The registry entries run UNCAPPED because this page graph is
# domain-bounded — |pages| = 100 by construction, so d <= 99 and the
# wedge join is <= |V| * 99^2 rows at ANY data volume (same bound class
# as series_autocorr's calendar); SCALE.md documents the bound and the
# cap is the knob a true power-law graph would set.
_CAP_PREFIX = """
rawdeg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS node FROM {v} UNION ALL SELECT b AS node FROM {v}) rn
  GROUP BY node
),
capped AS (
  SELECT e.a, e.b FROM {v} e
  JOIN rawdeg da ON e.a = da.node AND da.d <= {cap}
  JOIN rawdeg db ON e.b = db.node AND db.d <= {cap}
)"""


def _with_cap(tail: str, view: str, degree_cap: int | None) -> str:
    if degree_cap is None:
        return tail.format(v=view)
    prefix = _CAP_PREFIX.format(v=view, cap=int(degree_cap))
    return tail.format(v="capped").replace(
        "WITH ", "WITH" + prefix + ",\n", 1
    )


def _edges_oracle(tail: str) -> str:
    """The DuckDB form of a tail: the edge list as a CTE."""
    return (
        "\nWITH " + _EDGES.format(k=PAGE_K_DUCK) + ",\n"
        + tail.format(v="edges").replace("WITH ", "", 1)
    )


def _clustering_df(spark, sf, degree_cap: int | None = None):
    _canonical_edges(spark, sf, "r8_edges_ccoef")
    return spark.sql(
        _with_cap(_CLUSTERING_TAIL, "r8_edges_ccoef", degree_cap)
    )


def _jaccard_neighbors_df(spark, sf, degree_cap: int | None = None):
    _canonical_edges(spark, sf, "r8_edges_jacc")
    return spark.sql(
        _with_cap(_JACCARD_TAIL, "r8_edges_jacc", degree_cap)
    )


# -- Degree assortativity ----------------------------------------------------
# Newman's degree-assortativity coefficient of the page-transition
# graph (same canonical undirected edge set as the r8 graph entries):
# Pearson correlation of endpoint degrees over directed edge stubs.
# Both orientations of every edge enter, so the j and k marginals
# coincide and r = (Sjk/m - (Sj/m)^2) / (Sj2/m - (Sj/m)^2) with all
# sums exact BIGINTs (degrees are bounded by the page-id domain, the
# same bound the wedge entries document). Edge/degree tables are
# |edges|-sized — the event log is scanned once to build hops.
_ASSORT_BODY = """
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (
    SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
  ) stubs GROUP BY node
), de AS (
  SELECT da.d AS j, db.d AS k
  FROM edges e
  JOIN deg da ON e.a = da.node
  JOIN deg db ON e.b = db.node
), stub2 AS (
  SELECT j, k FROM de UNION ALL SELECT k AS j, j AS k FROM de
), s AS (
  SELECT COUNT(*) AS m, SUM(j) AS sj, SUM(j * k) AS sjk,
         SUM(j * j) AS sj2
  FROM stub2
)
SELECT CAST(m AS BIGINT) AS m_stubs,
       -- a REGULAR graph has zero degree variance (m*sj2 = sj^2 in
       -- exact integers) and r is undefined: NULL, not a 0/0 — the
       -- sf0.1 page graph IS regular, so this branch is exercised
       CASE WHEN m * sj2 = sj * sj THEN CAST(NULL AS DOUBLE)
            ELSE CAST(CAST(
              (CAST(sjk AS DOUBLE) / m
                 - (CAST(sj AS DOUBLE) / m) * (CAST(sj AS DOUBLE) / m))
              / (CAST(sj2 AS DOUBLE) / m
                 - (CAST(sj AS DOUBLE) / m) * (CAST(sj AS DOUBLE) / m))
              AS DECIMAL(18,6)) AS DOUBLE)
       END AS assortativity
FROM s
"""


def _assortativity(spark, sf):
    """The Spark side builds the canonical edge list ONCE via the
    checkpointed r8 helper (the pure-SQL CTE form expanded `edges`
    under every reference — 10 scans of the raw log; plan-pinned to
    one parquet scan + ExistingRDD reads)."""

    _canonical_edges(spark, sf, "assort_edges")
    return spark.sql(
        "WITH " + _ASSORT_BODY.replace("edges", "assort_edges")
    )


_ASSORT_DUCK = f"WITH {_EDGES.format(k=PAGE_K_DUCK)}, {_ASSORT_BODY}"

# -- BFS shortest hops (recursive CTE) ----------------------------------------
# Minimum hop distance from the smallest page node over the canonical
# page graph, depth-capped at 4 — the reachability primitive (crawl
# radius, link-rot audit) expressed as a RECURSIVE CTE, which Spark 4
# executes natively (the reference's Calcite build has no recursion,
# sql/SqlParser.java). UNION ALL + GROUP BY MIN collapses the path
# enumeration; the cap bounds it at degree^4 over the domain-bounded
# page graph (the wedge entries' documented bound), independent of the
# event-log size — the log is scanned once to build hops.
_BFS_BODY = """
sym AS (
  SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges
), src AS (
  SELECT MIN(a) AS s FROM edges
), walk(node, dist) AS (
  SELECT s, 0 FROM src
  UNION ALL
  -- DISTINCT per frontier caps each level at |nodes| rows: raw UNION
  -- ALL enumerates PATHS (degree^4 of them — it tripped Spark's 1M
  -- recursion row limit at sf0.01), the deduped frontier enumerates
  -- node-visits
  SELECT DISTINCT sym.b, walk.dist + 1
  FROM walk JOIN sym ON walk.node = sym.a
  WHERE walk.dist < 4
)
SELECT node, CAST(MIN(dist) AS BIGINT) AS hops
FROM walk GROUP BY node ORDER BY node
"""


def _shortest_hops(spark, sf):
    """Recursion over the CHECKPOINTED edge view: with the edges CTE
    inlined, each recursive iteration would re-derive the edge list
    from the raw log."""

    _canonical_edges(spark, sf, "bfs_edges")
    return spark.sql(
        "WITH RECURSIVE " + _BFS_BODY.replace("edges", "bfs_edges")
    )


_BFS_DUCK = f"WITH RECURSIVE {_EDGES.format(k=PAGE_K_DUCK)}, {_BFS_BODY}"

# -- Adamic-Adar link prediction ----------------------------------------------
# Top-20 NON-edge page pairs by Adamic-Adar score sum(1/ln(deg(w)))
# over common neighbors w — the classic link-prediction index one tier
# above neighbor-Jaccard (graph_jaccard_neighbors): low-degree shared
# neighbors count for more. Candidates come from the same wedge join
# (sum(deg^2) fan-out; the degree-cap/hub-removal knob and the
# |pages|<=100 domain bound are documented at the r8 wedge entries);
# existing edges are anti-joined out. A shared neighbor has degree
# >= 2 by construction, so ln(deg) > 0 always. Per-wedge 1/ln terms
# quantize onto the 1e-9 grid — the ORDER BY runs on the exact integer
# term sum, so the top-20 cut is grid-deterministic.
_AA_TAIL = """
WITH und AS (
  SELECT a AS u, b AS v FROM {v}
  UNION ALL SELECT b AS u, a AS v FROM {v}
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY u),
wedge AS (
  SELECT n1.u AS p, n2.u AS q, n1.v AS w
  FROM und n1 JOIN und n2 ON n1.v = n2.v AND n1.u < n2.u
),
contrib AS (
  SELECT wg.p, wg.q,
         CAST(FLOOR(1e9 / LN(CAST(dw.d AS DOUBLE)) + 0.5) AS BIGINT)
           AS t
  FROM wedge wg JOIN deg dw ON wg.w = dw.u
),
aa AS (
  SELECT c.p, c.q, CAST(COUNT(*) AS BIGINT) AS cn, SUM(c.t) AS s
  FROM contrib c GROUP BY c.p, c.q
),
nonedge AS (
  SELECT aa.p, aa.q, aa.cn, aa.s
  FROM aa LEFT JOIN {v} e ON aa.p = e.a AND aa.q = e.b
  WHERE e.a IS NULL
)
SELECT p AS page_a, q AS page_b, cn AS common_neighbors,
       CAST(CAST(CAST(s AS DOUBLE) / 1e9 AS DECIMAL(18,6)) AS DOUBLE)
         AS adamic_adar
FROM nonedge
ORDER BY s DESC, page_a, page_b
LIMIT 20
"""


def _adamic_adar(spark, sf):
    """Canonical edge list built once and checkpointed (the tail
    references it four times; CTE inlining would re-scan the raw log
    per reference — the r8 graph-entry discipline)."""

    _canonical_edges(spark, sf, "aa_edges")
    return spark.sql(_AA_TAIL.format(v="aa_edges"))


def _aa_duck():

    return (
        "WITH "
        + _EDGES.format(k=PAGE_K_DUCK)
        + ", "
        + _AA_TAIL.format(v="edges").replace("WITH ", "", 1)
    )


QUERIES: dict[str, Q] = {
    # PageRank (damping 0.85, 3 unrolled iterations) over the page
    # transition graph: nodes = props.k page ids, edges = consecutive
    # events of the same user, edge weight = transition count /
    # out-degree. Dangling pages keep their teleport share (no
    # redistribution) — identical simplification both engines.
    "graph_pagerank": df_q(
        _pagerank,
        ("events",),
        oracle=_pagerank_sql(PAGE_K_DUCK),
    ),
    # Triangle counting on the undirected page-transition graph (the
    # standard clustering-coefficient / community-density primitive).
    # The raw log collapses to the DISTINCT canonical edge set first
    # (a < b), so the two triangle joins shuffle |edges| rows — bounded
    # by |pages|^2 — and never re-touch the event log. At scale, order
    # edge endpoints by degree before the joins (the compact-forward
    # trick) to bound per-key fan-out; the page domain here is small
    # enough that the plain form is the right plan. TRY_CAST hardens
    # the JSON extraction against non-numeric props under ANSI mode.
    "graph_triangle_count": sql_q(
        """
        WITH pages AS (
          SELECT user_id, ts, event_id, TRY_CAST(get_json_object(props, '$.k') AS BIGINT) AS page FROM events
        ),
        hops AS (
          SELECT page AS src,
                 LEAD(page) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
          FROM pages
        ),
        edges AS (
          SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM hops
          WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e1.b = e2.a
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
        """,
        ("events",),
        oracle="""
        WITH pages AS (
          SELECT user_id, ts, event_id, TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props) THEN JSON_EXTRACT_STRING(props, '$.k') END AS BIGINT) AS page FROM events
        ),
        hops AS (
          SELECT page AS src,
                 LEAD(page) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
          FROM pages
        ),
        edges AS (
          SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM hops
          WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e1.b = e2.a
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
        """,
    ),
    # Degree distribution of the bipartite user<->active-day graph plus
    # the event-type degree range per bucket — the standard first look
    # at interaction-graph shape. One user_id shuffle; the histogram
    # itself is calendar-bounded.
    "graph_degree_distribution": sql_q(
        """
        WITH deg AS (
          SELECT user_id,
                 COUNT(DISTINCT event_type) AS type_degree,
                 COUNT(DISTINCT CAST(ts AS DATE)) AS day_degree
          FROM events
          WHERE ts IS NOT NULL
          GROUP BY user_id
        )
        SELECT CAST(day_degree AS BIGINT) AS day_degree,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(MIN(type_degree) AS BIGINT) AS min_types,
               CAST(MAX(type_degree) AS BIGINT) AS max_types
        FROM deg
        GROUP BY day_degree
        """,
        ("events",),
    ),
    # Directed-graph reciprocity over the page-transition graph (same
    # edge extraction as graph_pagerank/graph_triangle_count): the
    # fraction of distinct src->dst edges whose reverse edge exists.
    # The log collapses to the DISTINCT edge set (bounded by |pages|^2)
    # before the self-join, so the join never touches raw events.
    "graph_reciprocity": sql_q(
        """
        WITH ev AS (
          SELECT user_id, ts, event_id,
                 TRY_CAST(get_json_object(props, '$.k') AS BIGINT) AS page
          FROM events
        ), seq AS (
          SELECT page AS src,
                 LEAD(page) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
          FROM ev
        ), e AS (
          SELECT DISTINCT src, dst FROM seq
          WHERE src IS NOT NULL AND dst IS NOT NULL AND src != dst
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_reciprocal,
               CAST(SUM(CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS reciprocity
        FROM e a LEFT JOIN e b ON a.src = b.dst AND a.dst = b.src
        """,
        ("events",),
        oracle="""
        WITH ev AS (
          SELECT user_id, ts, event_id,
                 TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                               THEN JSON_EXTRACT_STRING(props, '$.k') END
                          AS BIGINT) AS page
          FROM events
        ), seq AS (
          SELECT page AS src,
                 LEAD(page) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
          FROM ev
        ), e AS (
          SELECT DISTINCT src, dst FROM seq
          WHERE src IS NOT NULL AND dst IS NOT NULL AND src != dst
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_reciprocal,
               CAST(SUM(CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS reciprocity
        FROM e a LEFT JOIN e b ON a.src = b.dst AND a.dst = b.src
        """,
    ),
    "graph_clustering_coeff": df_q(
        _clustering_df,
        ("events",),
        oracle=_edges_oracle(_CLUSTERING_TAIL),
    ),
    "graph_jaccard_neighbors": df_q(
        _jaccard_neighbors_df,
        ("events",),
        oracle=_edges_oracle(_JACCARD_TAIL),
    ),
    "graph_degree_assortativity": df_q(
        _assortativity, ("events",), oracle=_ASSORT_DUCK
    ),
    "graph_shortest_hops": df_q(
        _shortest_hops, ("events",), oracle=_BFS_DUCK
    ),
    "graph_adamic_adar_topk": df_q(
        _adamic_adar, ("events",), oracle=_aa_duck()
    ),
}
