"""Graph analytics over relational co-occurrence — triangle counting.

The reference has no graph surface at all (its only dataflow is
map→shuffle→reduce, src/mr/worker.rs:16-25); this module extends the
engine's graph family (PageRank and connected components live in
``llm/pipeline.py``) with the canonical MapReduce-hard graph metric:
triangle counting, here over the parts-co-purchased-together graph.

Scale design — the Suri–Vassilvitskii / Cohen degree-orientation
scheme: orient every undirected edge from its lower-(degree, id)
endpoint to the higher one, generate length-2 paths ("wedges") only
from each node's OUT-edges, and close wedges against the canonical
edge set. After orientation every out-degree is O(√m) on any graph,
so the wedge set is O(m^1.5) worst-case instead of Σdeg² — the
difference between a star-node (one celebrity part in every order)
producing C(deg,2) ≈ 10¹⁰ wedges and the same node producing none.
Each triangle is generated exactly once, by its lowest-(degree, id)
corner. One kernel, ``_triangle_corners``, lists the triangles for
every query of the family, on one of two size-gated physical paths:
below ``BROADCAST_EDGE_LIMIT`` an in-row intersect of broadcast
out-adjacency arrays (no wedge rows, no closure shuffle); at an unknown
or larger size the wedge self-join and the closure join, both
shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions import spread
from mapreduce_rust_spark.memo import session_memo
from mapreduce_rust_spark.tables import load_table


def _ordered_pairs(arr) -> F.Column:
    """All (x, y) pairs with x before y in a SORTED array — in-row
    pair generation (``arr`` must be a resolved column attribute so
    the inner references are slot reads, not re-evaluated
    expressions). array<struct<u,v>> out."""
    n = F.size(arr)
    # sequence(1, 0) DESCENDS in Spark — guard the <2-element case
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)) \
           .otherwise(F.expr("CAST(array() AS array<int>)"))
    return F.flatten(F.transform(
        idx,
        lambda i: F.transform(
            F.slice(arr, i + 1, n),
            lambda y: F.struct(F.element_at(arr, i).alias("u"),
                               y.alias("v")))))


# Per-order basket-width cap for edge generation: in-row pair
# generation is quadratic in basket width, so ONE crawler-artifact /
# data-bug mega-order (say 100k distinct parts) would emit 5·10⁹ edge
# rows from a single basket. Deterministic cap = the n SMALLEST part
# ids per order (slice of the sorted set — retry-stable, no hash
# dependence), mirrored in every oracle that builds edges via
# ROW_NUMBER() OVER (PARTITION BY o ORDER BY p) <= cap. TPC-H baskets
# are ≤ 7 so the cap never binds on real data; the planted wide-basket
# worst case is measured in tests/test_worstcase_scale.py (SCALE.md).
# Same discipline as olap.ASSOC_MAX_BASKET.
COPURCHASE_MAX_BASKET = 256


def copurchase_edges(li: DataFrame) -> DataFrame:
    """Distinct undirected edges (u < v): two parts appearing in the
    same order. Pair generation is IN-ROW over each order's sorted
    part set (collect_set dedupes multi-line parts; bounded by
    ``COPURCHASE_MAX_BASKET`` — see comment above; TPC-H baskets are
    ≤ 7 so the cap never binds there), never corpus-wide. Two
    shuffles total (order-key groupBy, then edge dedup) vs the
    (o,p)-distinct + self-join form's three — measured 5.3 s → see
    SCALE.md."""
    arrs = (li.groupBy(F.col("l_orderkey").alias("o"))
              .agg(F.slice(F.array_sort(F.collect_set("l_partkey")),
                           1, COPURCHASE_MAX_BASKET).alias("ps")))
    # round 12: the basket aggregate lands AQE-coalesced (KB of
    # arrays), serializing the quadratic in-row pair HOF — spread it
    # across the cluster first (functions.spread)
    return (spread(arrs, "o")
                .select(F.explode(_ordered_pairs(F.col("ps"))).alias("e"))
                .select("e.u", "e.v")
                .distinct())


# The materialized co-purchase edge list is a ``result`` session memo:
# nine graph queries derive from the SAME edge table, and rebuilding it
# per query re-pays two lineitem shuffles each time. Keyed by the input
# plan, so planted test DataFrames and other sf_dirs miss. ~20 MB at
# sf0.1 (distinct (u,v) longs); bounded by the distinct co-purchase
# pair count, not lineitem.
def copurchase_edges_cached(li: DataFrame) -> DataFrame:
    return session_memo(
        li.sparkSession, "result", ("copurchase_edges", li.semanticHash()),
        lambda: copurchase_edges(li).localCheckpoint(eager=True))


def _bidir_adjacency(edges: DataFrame) -> DataFrame:
    """Both directions of a distinct (u < v) edge list, materialized
    ONCE (every fixed-point round consumes it; without materialization
    the basket build re-executes per round — measured 5.05 s → 3.63 s
    on ppr_seeded_parts at sf0.1, SCALE.md round 6). Shared by
    pagerank_exact / kcore / ppr."""
    return (edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
            .unionAll(edges.select(F.col("v").alias("a"),
                                   F.col("u").alias("b")))
            .localCheckpoint(eager=True))


def _rank_rounds(adj: DataFrame, deg: DataFrame, n: int, r: DataFrame,
                 iters: int, share: F.Column, update: F.Column) -> DataFrame:
    """``iters`` rounds of rank propagation: the one loop of the float
    ``llm/pipeline.pagerank``, ``pagerank_exact_parts`` and
    ``ppr_seeded_parts``. ``adj`` is ``(a, b)`` with both directions of
    every edge, ``deg`` is ``(node, deg)`` over the ``n`` nodes with an
    edge, and ``r`` is the starting ``(node, deg, rank)``.

    Each round sends ``share`` (over ``rank`` and ``deg``) along every
    adjacency row, sums it per receiving node as ``c`` (0 where nothing
    arrives), sets ``rank = update`` on every node of ``deg`` and keeps
    the rows with rank > 0: a no-op for the global forms, whose base is
    positive, and the frontier cut for the seeded one. A round is one
    adjacency ⋈ rank join, one ``(node)`` sum and one left join back
    onto ``deg``. When ``n`` rows fit the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (``n`` bounds every
    round's rank table, a seeded frontier included), the sent ranks
    are broadcast and the summed ``c`` joins ``deg`` by shuffled hash
    where both already sit hash-partitioned on node: ``deg``'s
    exchange is reused across rounds, so a round costs two jobs, the
    broadcast and the contribution shuffle.

    No round is checkpointed. The rounds form one plan whose shuffle
    outputs materialize at each exchange anyway, and Spark reuses them
    within the job. An eager per-round ``localCheckpoint`` made
    ``pagerank_exact_parts`` 4.5x slower (2.2 s -> 10 s at sf0.1);
    a checkpoint pays only where a driver-side collect splits the
    rounds into separate jobs, which this loop never does."""
    conf = adj.sparkSession._jsparkSession.sessionState().conf()
    # the sent (a, s) rows are two 8-byte columns each
    fits = 0 <= 16 * n <= conf.autoBroadcastJoinThreshold()
    for _ in range(iters):
        sent = r.select(F.col("node").alias("a"), share.alias("s"))
        c = (adj.join(F.broadcast(sent) if fits else sent, "a")
             .groupBy(F.col("b").alias("node"))
             .agg(F.sum("s").alias("c")))
        r = (deg.join(c.hint("shuffle_hash") if fits else c, "node", "left")
             .withColumn("c", F.coalesce("c", F.lit(0)))
             .select("node", "deg", update.alias("rank"))
             .where(F.col("rank") > 0))
    return r


# The capped-basket edge CTE every graph oracle embeds — interpolates
# COPURCHASE_MAX_BASKET so the SQL mirror can never drift from the
# Spark-side cap (guarded by the cap-mirror assertion in
# tests/test_worstcase_scale.py).
CAPPED_EDGES_SQL = f"""op AS (
  -- basket-width cap: n smallest part ids (= COPURCHASE_MAX_BASKET)
  SELECT o, p FROM (
    SELECT l_orderkey AS o, l_partkey AS p, ROW_NUMBER() OVER
           (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  ) WHERE rn <= {COPURCHASE_MAX_BASKET}),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
)"""


BROADCAST_EDGE_LIMIT = 5_000_000  # ~80 MB packed; same gate idea as
                                  # llm/pipeline's union-find threshold


def _orient(edges: DataFrame) -> DataFrame:
    """Degree-orient distinct (u < v) edges: src = endpoint with the
    smaller (degree, id) — a total order, so orientation is acyclic
    and out-degrees are O(√m) (module docstring). Materialized
    (localCheckpoint): the listing kernel reads it from ≥2 plan
    branches, and without materialization Catalyst re-executes the
    degree join once per alias."""
    deg = (edges.select(F.col("u").alias("n"))
           .unionAll(edges.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count("*").alias("d")))
    du, dv = deg.alias("du"), deg.alias("dv")
    return (edges
            .join(du, F.col("u") == F.col("du.n"))
            .join(dv, F.col("v") == F.col("dv.n"))
            .select(
                F.when((F.col("du.d") < F.col("dv.d"))
                       | ((F.col("du.d") == F.col("dv.d"))
                          & (F.col("u") < F.col("v"))),
                       F.struct(F.col("u").alias("s"),
                                F.col("v").alias("t")))
                 .otherwise(F.struct(F.col("v").alias("s"),
                                     F.col("u").alias("t")))
                 .alias("e"))
            .select("e.s", "e.t")
            .localCheckpoint(eager=True))


def _triangle_corners(edges: DataFrame, n_edges: int | None) -> DataFrame:
    """The triangle-listing kernel: one row (s, a, b) per triangle of
    distinct (u < v) edges, via degree orientation (module docstring)
    — s the orientation-lowest corner, a < b the other two by id, each
    triangle exactly once.

    The closure probe (wedges ⋈ edges) is the one join whose LEFT side
    is O(m^1.5): when the edge list itself is small enough
    (``n_edges`` < BROADCAST_EDGE_LIMIT, pass the known count to
    enable), broadcast its out-adjacency so the wedge set never
    shuffles — the same size-gated choice the near-dup clustering
    makes between driver-side union-find and distributed pointer
    jumping. At an unknown size or above the gate (a 100 TB graph),
    both sides shuffle-join on (a, b)."""
    oriented = _orient(edges)
    if n_edges is not None and n_edges < BROADCAST_EDGE_LIMIT:
        # FAST PATH (size-gated): edge-iterator with adjacency-set
        # intersection. A triangle a<b<c (orientation order) has
        # oriented edges a→b, a→c, b→c and is listed exactly once,
        # at edge a→b, as c ∈ N⁺(a) ∩ N⁺(b). The out-adjacency table
        # is ≤ n rows of O(√m) arrays — below the gate it BROADCASTS
        # (twice), so the 1.2M-edge stream never shuffles and the
        # O(m^1.5) wedge set is never materialized as rows: the same
        # arithmetic runs as per-row sorted-array intersections.
        # Measured (full op, sf0.1 co-purchase graph): 8.6 s with the
        # wedge join → 4.4 s with this path + the in-row edge build
        # (SCALE.md round 4).
        adj = (oriented.groupBy(F.col("s").alias("n"))
               .agg(F.array_sort(F.collect_list("t")).alias("nbrs")))
        sa, ta = adj.alias("sa"), adj.alias("ta")
        # the oriented table lands AQE-coalesced in one partition, so
        # the O(m^1.5) intersect would run as one task: spread it over
        # every slot (functions.spread). Warm sf0.1 build on 4 cpus:
        # 6.7 → 4.4 s (plans/r23/triangle_family.txt)
        return (spread(oriented, "s")
                .join(F.broadcast(sa), F.col("s") == F.col("sa.n"))
                .join(F.broadcast(ta), F.col("t") == F.col("ta.n"), "left")
                .select(F.col("s"), F.col("t").alias("x"),
                        F.explode(F.array_intersect(
                            F.col("sa.nbrs"),
                            # empty-array fallback typed from the data
                            # (a hard-coded array<bigint> cast would
                            # break int ids on this path only); sa.nbrs
                            # is never null (inner join), so
                            # slice(...,1,0) is safe
                            F.coalesce(F.col("ta.nbrs"),
                                       F.slice(F.col("sa.nbrs"), 1, 0))))
                         .alias("y"))
                .select("s", F.least("x", "y").alias("a"),
                        F.greatest("x", "y").alias("b")))
    # ABOVE the gate (a 100 TB graph) or of unknown size: materialized
    # wedge join — both sides shuffle on (a, b); adjacency arrays
    # would exceed broadcast.
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    # wedges from each source's out-neighborhood; t1 < t2 canonicalizes
    wedges = (w1.join(w2, (F.col("w1.s") == F.col("w2.s"))
                      & (F.col("w1.t") < F.col("w2.t")))
                .select(F.col("w1.s").alias("s"),
                        F.col("w1.t").alias("a"), F.col("w2.t").alias("b")))
    return (wedges.join(edges, (F.col("a") == F.col("u"))
                        & (F.col("b") == F.col("v")))
            .select("s", "a", "b"))


def triangle_count(edges: DataFrame,
                   n_edges: int | None = None) -> DataFrame:
    """Global triangle count of an undirected graph given as distinct
    (u < v) edges: a count over :func:`_triangle_corners` (pass the
    known ``n_edges`` to enable its broadcast path)."""
    return (_triangle_corners(edges, n_edges)
            .agg(F.count("*").cast("long").alias("n_triangles")))


def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the co-purchase graph: part triples pairwise
    bought together. One row: (n_edges, n_triangles)."""
    li = load_table(spark, sf_dir, "lineitem")
    # materialize the edge list once (it feeds the degree table, both
    # wedge sides, and the closure probe — recomputing the dedup 4x is
    # the alternative); localCheckpoint also truncates lineage
    edges = copurchase_edges_cached(li)
    n = edges.count()  # checkpointed: the count is already materialized
    n_edges = edges.agg(F.count("*").cast("long").alias("n_edges"))
    # count over the session-memoized triangle table (shared with the
    # clustering-coefficient and edge-support queries) instead of the
    # standalone in-row counter — one triangle build per session
    n_tri = (triangle_table_cached(edges, n)
             .agg(F.count("*").cast("long").alias("n_triangles")))
    return n_edges.crossJoin(n_tri)


# Oracle counts each triangle once via the u<v canonical form:
# (a<b), (b<c), (a<c) — the naive 3-way join DuckDB can afford at
# sf0.01; the Spark plan above is the one that survives 100 TB.
TRIANGLE_ORACLE = """
WITH op AS (
  -- basket-width cap: n smallest part ids (= COPURCHASE_MAX_BASKET)
  SELECT o, p FROM (
    SELECT l_orderkey AS o, l_partkey AS p, ROW_NUMBER() OVER
           (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  ) WHERE rn <= 256),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
       CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM edges e1
JOIN edges e2 ON e2.u = e1.v
JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
"""


SEED_PARTS = (0, 1, 2)
MAX_HOPS = 2

# Recursive CTE (Spark 4 WITH RECURSIVE — run through the SQL front
# door so Catalyst executes the iteration; DuckDB runs the identical
# text). Walk counts are exact integers, so the result is fully
# hash-checkable. Depth is bounded at MAX_HOPS: per-seed work is
# Σ deg^h for h ≤ 2 — the walks table stays O(deg²) per seed, never
# the factorial path blowup an unbounded closure invites; at 100 TB
# the same recursion runs with the edge list bucketed on u so each
# iteration's join is co-located.
REACHABLE_SQL = f"""
WITH RECURSIVE
op AS (
  -- basket-width cap: n smallest part ids (= COPURCHASE_MAX_BASKET)
  SELECT o, p FROM (
    SELECT l_orderkey AS o, l_partkey AS p, ROW_NUMBER() OVER
           (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  ) WHERE rn <= 256),
half AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
edges AS (SELECT u, v FROM half UNION ALL SELECT v, u FROM half),
walk(seed, node, hops) AS (
  SELECT p, p, 0 FROM (SELECT DISTINCT l_partkey AS p FROM lineitem
                       WHERE l_partkey IN {SEED_PARTS})
  UNION ALL
  SELECT w.seed, e.v, w.hops + 1
  FROM walk w JOIN edges e ON e.u = w.node
  WHERE w.hops < {MAX_HOPS}
)
SELECT seed, node, MIN(hops) AS min_hops,
       CAST(COUNT(*) AS BIGINT) AS n_walks
FROM walk GROUP BY seed, node
"""


# Spark-side variant of REACHABLE_SQL: the recursion itself, reading
# the (u < v) edge list from a temp view over the memoized edge table
# instead of re-deriving it in SQL (the oracle keeps the full
# self-contained text; the in-row capped builder and the SQL
# ROW_NUMBER cap are the same edge set, pinned by the cap-mirror
# tests). Seeds still come from lineitem so an isolated seed part
# (no co-purchase edge) keeps its hops-0 row, exactly as the oracle.
REACHABLE_WALK_SQL = f"""
WITH RECURSIVE
edges AS (SELECT u, v FROM {{view}}
          UNION ALL SELECT v, u FROM {{view}}),
walk(seed, node, hops) AS (
  SELECT p, p, 0 FROM (SELECT DISTINCT l_partkey AS p FROM lineitem
                       WHERE l_partkey IN {SEED_PARTS})
  UNION ALL
  -- SHUFFLE_HASH: the edge table is n-sized (never broadcast it at
  -- scale — and the memoized view now has accurate small-ish stats
  -- that tempt the planner into a driver-memory-hungry broadcast)
  SELECT /*+ SHUFFLE_HASH(e) */ w.seed, e.v, w.hops + 1
  FROM walk w JOIN edges e ON e.u = w.node
  WHERE w.hops < {MAX_HOPS}
)
SELECT seed, node, MIN(hops) AS min_hops,
       CAST(COUNT(*) AS BIGINT) AS n_walks
FROM walk GROUP BY seed, node
"""


def reachable_parts_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth reachability over the co-purchase graph via a
    RECURSIVE CTE: for each seed part, every part within MAX_HOPS
    co-purchase hops, with its minimum hop distance and the exact
    number of distinct ≤-MAX_HOPS walks reaching it (the walk count
    is what a window can't express — recursion or nothing). The
    iterative-DataFrame twin of this shape (unbounded, with
    convergence detection) is ``llm/pipeline.py``'s connected
    components; this is the SQL-front-door form. The recursion reads
    the session's memoized edge table through a temp view (the SQL
    edge rebuild was most of this query's cost once the rest of the
    graph family stopped paying it)."""
    from mapreduce_rust_spark.tables import register_views
    register_views(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges_cached(li)
    # View name carries the memo key (plan hash): interleaved calls
    # over DIFFERENT sf_dirs in one session each get their own view —
    # a shared global name would silently read the other call's edges.
    view = f"copurchase_half_edges_{li.semanticHash() & 0x7FFFFFFF:x}"
    edges.createOrReplaceTempView(view)
    return spark.sql(REACHABLE_WALK_SQL.format(view=view))


def copurchase_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph: how many parts
    have each co-purchase degree — the first thing to look at before
    running the triangle/reachability analytics (it is what the
    BROADCAST_EDGE_LIMIT gate and the O(√m) orientation bound are
    reasoning about). Shares ``copurchase_edges``' two-shuffle edge
    build; then a node-degree aggregate and a ≤ max-degree-sized
    histogram aggregate — all partial-combinable."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges_cached(li)
    # explode both endpoints in ONE pass — a union of two selects
    # would instantiate (and re-run) the edge build per branch
    deg = (edges.select(F.explode(F.array("u", "v")).alias("node"))
           .groupBy("node").agg(F.count("*").alias("degree")))
    return (deg.groupBy("degree")
               .agg(F.count("*").cast("long").alias("n_nodes")))


DEGREE_HIST_ORACLE = """
WITH op AS (
  -- basket-width cap: n smallest part ids (= COPURCHASE_MAX_BASKET)
  SELECT o, p FROM (
    SELECT l_orderkey AS o, l_partkey AS p, ROW_NUMBER() OVER
           (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  ) WHERE rn <= 256),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
"""


def clustering_coeff_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part in the co-purchase
    graph: lcc(n) = 2·tri(n) / (deg(n)·(deg(n)−1)) — what fraction of
    a part's co-purchase neighbors are themselves co-purchased. The
    per-node refinement of ``triangle_count_copurchase`` (Watts–
    Strogatz); nodes with deg < 2 have no defined coefficient and are
    excluded (the oracle applies the same predicate).

    Scale: corner emission inherits the listing kernel's
    (``_triangle_corners``) degree-oriented O(m^1.5) bound and
    broadcast gate; the corner aggregate is a partial-combinable
    count on node id. lcc is one IEEE division of
    two exact BIGINTs — both engines divide the identical integers,
    so the doubles are bit-equal.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges_cached(li)
    n = edges.count()
    # corner explode over the session-memoized (s, a, b) triangle
    # table — {s, a, b} are exactly the triangle's three corners
    ntri = (triangle_table_cached(edges, n)
            .select(F.explode(F.array("s", "a", "b")).alias("n"))
            .groupBy("n").agg(F.count("*").alias("n_tri")))
    deg = (edges.select(F.explode(F.array("u", "v")).alias("n"))
           .groupBy("n").agg(F.count("*").alias("deg")))
    return (deg.where(F.col("deg") >= 2)
            .join(ntri, "n", "left")
            .select(F.col("n").alias("p_partkey"),
                    F.col("deg").cast("long").alias("deg"),
                    F.coalesce(F.col("n_tri"), F.lit(0)).cast("long")
                     .alias("n_tri"),
                    ((F.coalesce(F.col("n_tri"), F.lit(0)) * 2)
                     .cast("double")
                     / (F.col("deg") * (F.col("deg") - 1)).cast("double"))
                    .alias("lcc")))


CLUSTERING_ORACLE = """
WITH op AS (
  -- basket-width cap: n smallest part ids (= COPURCHASE_MAX_BASKET)
  SELECT o, p FROM (
    SELECT l_orderkey AS o, l_partkey AS p, ROW_NUMBER() OVER
           (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  ) WHERE rn <= 256),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
ntri AS (SELECT n, COUNT(*) AS n_tri FROM corners GROUP BY n),
deg AS (
  SELECT n, COUNT(*) AS deg
  FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY n
)
SELECT d.n AS p_partkey,
       CAST(d.deg AS BIGINT) AS deg,
       CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
       CAST(COALESCE(t.n_tri, 0) * 2 AS DOUBLE)
         / CAST(d.deg * (d.deg - 1) AS DOUBLE) AS lcc
FROM deg d LEFT JOIN ntri t ON t.n = d.n
WHERE d.deg >= 2
"""


LABELPROP_ROUNDS = 3


def labelprop_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded synchronous min-label propagation over the co-purchase
    graph: every node starts labeled with its own id; each round
    takes the MIN label over its closed neighborhood (self + nbrs);
    after exactly ``LABELPROP_ROUNDS`` rounds, report per-label
    member counts. This is the ORACLE-CHECKABLE face of connected
    components — the deterministic k-round prefix of the fixpoint
    the rows-only union-find/pointer-jumping op
    (``llm/pipeline.neardup_clusters``) computes, and the shape every
    iterative graph algorithm takes through Catalyst: a fixed-depth
    chain of join + min-aggregate rounds, each one shuffle on node
    id (k rounds resolve components of graph-distance ≤ k from each
    component's minimum; pointer jumping needs O(log d) rounds —
    the declarative-vs-custom tradeoff made measurable).

    The closed neighborhood is adjacency ∪ self-loops, so each round
    is ONE join + ONE min-agg (no union-with-previous step); the
    adjacency is built once (both directions in one explode) and
    persisted across rounds."""
    li = load_table(spark, sf_dir, "lineitem")
    edges, labels = _labelprop_labels_cached(li)
    return (labels.groupBy("lbl").agg(F.count("*").alias("n_nodes"))
            .select(F.col("lbl").alias("component_min"), "n_nodes"))


# The materialized (node, label) table is a ``result`` session memo:
# labelprop_components and component_stats_parts both need the same
# k-round propagation, so the second caller skips three join+min-agg
# rounds. Bounded by the node count.
def _labelprop_labels_cached(li: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(edges, labels) after ``LABELPROP_ROUNDS`` of shared k-round
    min-label propagation, labels materialized and memoized per input
    plan."""
    edges = copurchase_edges_cached(li)
    return edges, session_memo(
        li.sparkSession, "result", ("labelprop_labels", li.semanticHash()),
        lambda: _labelprop_labels(edges))


def _labelprop_labels(edges: DataFrame) -> DataFrame:
    """Materialized labels of ``edges``; the transient
    closed-neighborhood table is persisted only for the duration of
    the propagation."""
    adj = (edges.select(F.explode(F.array(
                F.struct(F.col("u").alias("node"), F.col("v").alias("nbr")),
                F.struct(F.col("v").alias("node"), F.col("u").alias("nbr"))))
            .alias("e"))
           .select("e.node", "e.nbr"))
    nodes = adj.select("node").distinct()
    closed = adj.unionAll(nodes.select(
        "node", F.col("node").alias("nbr"))).persist()
    # round 1 needs no join: labels start as identity, so the min
    # label over the closed neighborhood IS min(nbr) — one agg
    labels = closed.groupBy("node").agg(F.min("nbr").alias("lbl"))
    for _ in range(LABELPROP_ROUNDS - 1):
        labels = (closed
                  .join(labels.withColumnRenamed("node", "nbr"), "nbr")
                  .groupBy("node").agg(F.min("lbl").alias("lbl")))
    labels = labels.localCheckpoint(eager=True)
    closed.unpersist()
    return labels


def _labelprop_cte_prefix() -> tuple[str, str]:
    """The shared chained-CTE body (edges + k propagation rounds) and
    the name of the final labels CTE — nested verbatim by the
    labelprop and component-stats oracles."""
    rounds = []
    prev = "l0"
    for k in range(1, LABELPROP_ROUNDS + 1):
        rounds.append(f"""
l{k} AS (
  SELECT c.node, MIN(x.lbl) AS lbl
  FROM closed c JOIN {prev} x ON x.node = c.nbr
  GROUP BY c.node
)""")
        prev = f"l{k}"
    prefix = f"""op AS (
  -- basket-width cap: n smallest part ids (= COPURCHASE_MAX_BASKET)
  SELECT o, p FROM (
    SELECT l_orderkey AS o, l_partkey AS p, ROW_NUMBER() OVER
           (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  ) WHERE rn <= 256),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
adj AS (SELECT u AS node, v AS nbr FROM edges
        UNION ALL SELECT v, u FROM edges),
nodes AS (SELECT DISTINCT node FROM adj),
closed AS (SELECT * FROM adj UNION ALL SELECT node, node FROM nodes),
l0 AS (SELECT node, node AS lbl FROM nodes),{','.join(rounds)}"""
    return prefix, prev


def _labelprop_oracle() -> str:
    prefix, final = _labelprop_cte_prefix()
    return f"""
WITH {prefix}
SELECT lbl AS component_min, COUNT(*) AS n_nodes
FROM {final} GROUP BY lbl
"""


LABELPROP_ORACLE = _labelprop_oracle()


def component_stats_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-component STRUCTURE report over the labelprop components —
    the readout after any community/component pass (is the giant
    component one blob or did the cap fragment it? are small
    components cliques or chains?): for each component label, node
    count, internal edge count (both endpoints carry the label) and
    integer density in basis points, 2E·10⁴ DIV n(n−1).

    Composition: reuses the SAME k-round propagation
    (``_labelprop_labels_cached`` — memoized per session, so
    running this beside ``labelprop_components`` pays the propagation
    once) and co-purchase edge cache as
    ``labelprop_components``; the oracle nests the shared chained-CTE
    prefix verbatim and adds two label joins. With bounded rounds a
    true component can still straddle labels — internal means
    same-label-at-round-k on BOTH engines, so the artifact stays
    exact.

    Scale: two broadcast-or-shuffle joins of the edge list against
    the (node, label) table keyed on node id; stats are one
    map-side-combined aggregate per label.

    Output: ``(component_min, n_nodes, n_internal_edges,
    density_bp)``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges, labels = _labelprop_labels_cached(li)
    lu = labels.select(F.col("node").alias("u"), F.col("lbl").alias("lu"))
    lv = labels.select(F.col("node").alias("v"), F.col("lbl").alias("lv"))
    internal = (edges.join(lu, "u").join(lv, "v")
                .where(F.col("lu") == F.col("lv"))
                .groupBy(F.col("lu").alias("component_min"))
                .agg(F.count("*").alias("n_internal_edges")))
    sizes = (labels.groupBy(F.col("lbl").alias("component_min"))
                   .agg(F.count("*").alias("n_nodes")))
    return (sizes.join(internal, "component_min", "left")
            .select("component_min", "n_nodes",
                    F.coalesce("n_internal_edges", F.lit(0))
                     .alias("n_internal_edges"))
            .select("component_min", "n_nodes", "n_internal_edges",
                    F.when(F.col("n_nodes") > 1,
                           F.expr("n_internal_edges * 2 * 10000 "
                                  "DIV (n_nodes * (n_nodes - 1))"))
                     .otherwise(F.lit(0)).cast("long")
                     .alias("density_bp")))


def _component_stats_oracle() -> str:
    prefix, final = _labelprop_cte_prefix()
    return f"""
WITH {prefix},
sizes AS (SELECT lbl AS component_min, COUNT(*) AS n_nodes
          FROM {final} GROUP BY lbl),
internal AS (
  SELECT a.lbl AS component_min, COUNT(*) AS n_internal_edges
  FROM edges e JOIN {final} a ON a.node = e.u
               JOIN {final} b ON b.node = e.v
  WHERE a.lbl = b.lbl GROUP BY a.lbl
)
SELECT s.component_min, s.n_nodes,
       CAST(COALESCE(i.n_internal_edges, 0) AS BIGINT)
         AS n_internal_edges,
       CASE WHEN s.n_nodes > 1 THEN
         CAST(COALESCE(i.n_internal_edges, 0) * 2 * 10000 AS BIGINT)
           // (s.n_nodes * (s.n_nodes - 1))
       ELSE 0 END AS density_bp
FROM sizes s LEFT JOIN internal i ON i.component_min = s.component_min
"""


COMPONENT_STATS_ORACLE = _component_stats_oracle()


PR_EXACT_ITERS = 3
PR_EXACT_GRID = 10 ** 12
PR_EXACT_DAMP_NUM = 85          # damping 0.85 as the rational 85/100


def pagerank_exact_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-iteration PageRank over the co-purchase graph in EXACT
    fixed-point arithmetic — the hash-checkable face of the float
    power iteration in ``llm/pipeline.pagerank`` (VERDICT r5 item 6;
    labelprop proved iterative algorithms can carry a chained-CTE
    oracle, this extends the pattern to damped mass propagation).

    Semantics (deterministic, order-independent, both engines):
    ranks are integer micromass on a 10¹² grid; r₀ = GRID div n;
    each of ``PR_EXACT_ITERS`` rounds sends rq div deg along every
    undirected edge, sums the INTEGER contributions (commutative —
    no float shuffle-order sensitivity), and damps as
    (15·GRID) div (100·n) + (85·c) div 100. Truncation loses at most
    deg ulps of 10⁻¹² per node per round — quantization error, not
    nondeterminism. Undirected edges ⇒ deg ≥ 1, no dangling mass.

    Scale: the float form's loop (``_rank_rounds``) — per round one
    join on node id + one integer-sum aggregate; 3 rounds.
    Inherits ``COPURCHASE_MAX_BASKET``. The float ``pagerank``
    (10 iters, numpy-pinned) remains the production form; this one
    exists so the driver artifact hash-verifies the propagation
    machinery end to end."""
    li = load_table(spark, sf_dir, "lineitem")
    adj = _bidir_adjacency(copurchase_edges_cached(li))
    # deg is re-read every round; the n count materializes it once
    deg = (adj.groupBy(F.col("a").alias("node"))
           .agg(F.count("*").alias("deg"))
           .localCheckpoint(eager=False))
    n = deg.count()
    base = (15 * PR_EXACT_GRID) // (100 * n)
    r = deg.select("node", "deg", F.lit(PR_EXACT_GRID // n).alias("rank"))
    r = _rank_rounds(adj, deg, n, r, PR_EXACT_ITERS,
                     F.expr("rank DIV deg"),
                     F.lit(base)
                     + F.expr(f"({PR_EXACT_DAMP_NUM} * c) DIV 100"))
    return r.select("node", F.col("rank").cast("long").alias("rq"))


def _pagerank_exact_oracle() -> str:
    rounds = []
    prev = "r0"
    for k in range(1, PR_EXACT_ITERS + 1):
        rounds.append(f"""
c{k} AS (
  SELECT adj.b AS node, CAST(SUM(r.rq // d.deg) AS BIGINT) AS c
  FROM adj JOIN {prev} r ON r.node = adj.a JOIN deg d ON d.a = adj.a
  GROUP BY adj.b
),
r{k} AS (
  SELECT d.a AS node,
         CAST((15 * {PR_EXACT_GRID}) // (100 * nn.n) AS BIGINT)
           + CAST(({PR_EXACT_DAMP_NUM} * COALESCE(c{k}.c, 0)) // 100
                  AS BIGINT) AS rq
  FROM deg d LEFT JOIN c{k} ON c{k}.node = d.a, nn
)""")
        prev = f"r{k}"
    return f"""
WITH {CAPPED_EDGES_SQL},
adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT a, COUNT(*) AS deg FROM adj GROUP BY a),
nn AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT a AS node, CAST({PR_EXACT_GRID} // nn.n AS BIGINT) AS rq
       FROM deg, nn),{','.join(rounds)}
SELECT node, rq FROM {prev}
"""


PAGERANK_EXACT_ORACLE = _pagerank_exact_oracle()


KCORE_K = 3
KCORE_ROUNDS = 4


def kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-core peeling of the co-purchase graph
    (k = ``KCORE_K``): repeatedly drop nodes with degree < k and the
    edges touching them, ``KCORE_ROUNDS`` times, then report each
    survivor's remaining degree — the density-core extraction used to
    find the stable "always bought together" backbone (and the
    standard preprocessing cut before the more expensive
    triangle/clustering analytics).

    Like ``labelprop_components``, this is the deterministic k-round
    PREFIX of the peeling fixpoint, which is what makes it
    hash-checkable: each round is one degree aggregate + two
    semi-joins (both endpoints must survive), the exact shape the
    oracle's chained CTEs replay. Convergence detection (loop until
    no node drops) is the production variant — same per-round plan,
    driver-side 1-row count check per round. Inherits ``COPURCHASE_MAX_BASKET``; lineage truncated
    per round.

    Output: ``(part, core_deg)`` for nodes alive after the rounds.
    """
    li = load_table(spark, sf_dir, "lineitem")
    alive = _bidir_adjacency(copurchase_edges_cached(li))
    # early fixpoint stop: a round that drops no edge makes every
    # later round a no-op, so skipping them is SEMANTICALLY identical
    # to running all KCORE_ROUNDS (the oracle runs the full unrolled
    # chain — hash equality is the proof). One 1-row driver count per
    # round; on the sf0.1 co-purchase graph this converges after
    # round 1 (4.5 s → ~2 s).
    n_prev = alive.count()
    for _ in range(KCORE_ROUNDS):
        deg = alive.groupBy("a").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") >= KCORE_K).select("a")
        alive = (alive.join(keep, "a", "left_semi")
                      .join(keep.withColumnRenamed("a", "b"), "b",
                            "left_semi")
                      # lazy (round 13): n_now count materializes it
                      .localCheckpoint(eager=False))
        n_now = alive.count()
        if n_now == n_prev:
            break
        n_prev = n_now
    return (alive.groupBy(F.col("a").alias("part"))
                 .agg(F.count("*").cast("long").alias("core_deg")))


def _kcore_oracle() -> str:
    rounds = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""
d{r} AS (SELECT a, COUNT(*) AS d FROM {prev} GROUP BY a),
k{r} AS (SELECT a FROM d{r} WHERE d >= {KCORE_K}),
e{r} AS (
  SELECT e.a, e.b FROM {prev} e
  JOIN k{r} x ON x.a = e.a JOIN k{r} y ON y.a = e.b
)""")
        prev = f"e{r}"
    return f"""
WITH {CAPPED_EDGES_SQL},
e0 AS (SELECT u AS a, v AS b FROM edges
       UNION ALL SELECT v, u FROM edges),{','.join(rounds)}
SELECT a AS part, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM {prev} GROUP BY a
"""


KCORE_ORACLE = _kcore_oracle()


PPR_SEEDS = (0, 1, 2)      # shared with reachable_parts_2hop


def ppr_seeded_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed set, in the same exact
    fixed-point arithmetic as ``pagerank_exact_parts``: restart mass
    (15%) returns to the SEEDS each round instead of spreading
    uniformly, so rank measures proximity to the seed basket — the
    "more items like these" graph recommender that complements
    ``item_cf_neighbors``' direct co-purchase cosine (PPR also sees
    multi-hop paths). Seeds are ``PPR_SEEDS`` (the 2-hop walk's seed
    parts, so the two queries describe the same neighborhood).

    3 unrolled rounds of integer micromass (10¹² grid): r₀ = mass
    split over seeds; per round each node keeps
    seed-restart + (85·incoming) div 100 with rq div deg sent along
    every undirected edge — commutative integer sums, hash-checkable.
    Nodes never reached keep rank 0 and are dropped, so the output is
    bounded by the seeds' 3-hop neighborhood, not the graph.

    Scale: the same loop as pagerank_exact (``_rank_rounds``); at
    100 TB the ranks table starts seed-sized and grows with the
    frontier only. Inherits ``COPURCHASE_MAX_BASKET``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    adj = _bidir_adjacency(copurchase_edges_cached(li))
    # deg is re-read every round; the n count materializes it once
    deg = (adj.groupBy(F.col("a").alias("node"))
           .agg(F.count("*").alias("deg"))
           .localCheckpoint(eager=False))
    n = deg.count()
    n_seeds = len(PPR_SEEDS)
    base = (15 * PR_EXACT_GRID) // (100 * n_seeds)
    is_seed = F.col("node").isin(*PPR_SEEDS)
    r = (deg.where(is_seed)
         .select("node", "deg", F.lit(PR_EXACT_GRID // n_seeds).alias("rank")))
    r = _rank_rounds(adj, deg, n, r, PR_EXACT_ITERS,
                     F.expr("rank DIV deg"),
                     F.when(is_seed, F.lit(base)).otherwise(F.lit(0))
                     + F.expr(f"({PR_EXACT_DAMP_NUM} * c) DIV 100"))
    return r.select("node", F.col("rank").cast("long").alias("rq"))


def _ppr_oracle() -> str:
    seeds = ", ".join(str(x) for x in PPR_SEEDS)
    n_seeds = len(PPR_SEEDS)
    rounds = []
    prev = "r0"
    for k in range(1, PR_EXACT_ITERS + 1):
        rounds.append(f"""
c{k} AS (
  SELECT adj.b AS node, CAST(SUM(r.rq // d.deg) AS BIGINT) AS c
  FROM adj JOIN {prev} r ON r.node = adj.a JOIN deg d ON d.a = adj.a
  GROUP BY adj.b
),
r{k} AS (
  SELECT d.a AS node,
         CAST(CASE WHEN d.a IN ({seeds})
              THEN (15 * {PR_EXACT_GRID}) // (100 * {n_seeds})
              ELSE 0 END AS BIGINT)
           + CAST(({PR_EXACT_DAMP_NUM} * COALESCE(c{k}.c, 0)) // 100
                  AS BIGINT) AS rq
  FROM deg d LEFT JOIN c{k} ON c{k}.node = d.a
  WHERE CAST(CASE WHEN d.a IN ({seeds})
             THEN (15 * {PR_EXACT_GRID}) // (100 * {n_seeds})
             ELSE 0 END AS BIGINT)
        + CAST(({PR_EXACT_DAMP_NUM} * COALESCE(c{k}.c, 0)) // 100
               AS BIGINT) > 0
)""")
        prev = f"r{k}"
    return f"""
WITH {CAPPED_EDGES_SQL},
adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT a, COUNT(*) AS deg FROM adj GROUP BY a),
r0 AS (SELECT a AS node,
              CAST({PR_EXACT_GRID} // {n_seeds} AS BIGINT) AS rq
       FROM deg WHERE a IN ({seeds})),{','.join(rounds)}
SELECT node, rq FROM {prev}
"""


PPR_SEEDED_ORACLE = _ppr_oracle()


def assortativity_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the co-purchase graph: the
    Pearson correlation of endpoint degrees over all 2m DIRECTED edge
    ends — r > 0 means hubs buy with hubs (assortative retail
    baskets), r < 0 means hub-and-spoke (staple parts anchoring
    long-tail ones). With M = 2m, S1 = Σ d(a), Sp = Σ d(a)·d(b),
    Sq = Σ d(a)² (all over directed ends), r = (M·Sp − S1²) /
    (M·Sq − S1²).

    Exactness: the four sufficient statistics are exact DECIMAL(38,0)
    sums of integer degree products; each is < 2⁵³ at any scale this
    query runs whole (beyond that, the stats — not r — are the
    durable artifact), so the decimal→double casts are exact and the
    final combination is the same three-op IEEE DAG on both engines.
    A degree-regular graph (den = 0) yields NULL pinned explicitly —
    both engines default double x/0 to NULL in non-ANSI mode (see the
    NULL-semantics note in ``llm/evaluation.py``), so the guard only
    makes that shared behavior explicit rather than fixing a
    divergence.

    Scale: two degree-table joins + one global aggregate — linear in
    edges, no pair generation anywhere. Inherits
    ``COPURCHASE_MAX_BASKET``.

    Output: one row ``(n_nodes, n_edges, assortativity)``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    adj = _bidir_adjacency(copurchase_edges_cached(li))
    deg = adj.groupBy("a").agg(F.count("*").alias("d"))
    dec = "decimal(38,0)"
    ends = (adj.join(deg, "a")
            .join(deg.select(F.col("a").alias("b"),
                             F.col("d").alias("db")), "b")
            .select(F.col("d").cast(dec).alias("ja"),
                    F.col("db").cast(dec).alias("jb")))
    g = ends.agg(F.count("*").alias("m2"),
                 F.sum("ja").cast("double").alias("s1"),
                 F.sum(F.col("ja") * F.col("jb")).cast("double").alias("sp"),
                 F.sum(F.col("ja") * F.col("ja")).cast("double").alias("sq"))
    nn = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    m = F.col("m2").cast("double")
    num = m * F.col("sp") - F.col("s1") * F.col("s1")
    den = m * F.col("sq") - F.col("s1") * F.col("s1")
    return (g.crossJoin(F.broadcast(nn))
            .select("n_nodes",
                    F.expr("m2 DIV 2").cast("long").alias("n_edges"),
                    F.when(den != 0, num / den).alias("assortativity")))


ASSORTATIVITY_ORACLE = f"""
WITH {CAPPED_EDGES_SQL},
adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT a, COUNT(*) AS d FROM adj GROUP BY a),
ends AS (
  SELECT CAST(da.d AS DECIMAL(38,0)) AS ja,
         CAST(db.d AS DECIMAL(38,0)) AS jb
  FROM adj JOIN deg da ON da.a = adj.a JOIN deg db ON db.a = adj.b
),
g AS (
  SELECT COUNT(*) AS m2,
         CAST(SUM(ja) AS DOUBLE) AS s1,
         CAST(SUM(ja * jb) AS DOUBLE) AS sp,
         CAST(SUM(ja * ja) AS DOUBLE) AS sq
  FROM ends
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT nn.n_nodes,
       CAST(CAST(g.m2 AS BIGINT) // 2 AS BIGINT) AS n_edges,
       CASE WHEN CAST(g.m2 AS DOUBLE) * g.sq - g.s1 * g.s1 <> 0
            THEN (CAST(g.m2 AS DOUBLE) * g.sp - g.s1 * g.s1)
                 / (CAST(g.m2 AS DOUBLE) * g.sq - g.s1 * g.s1)
       END AS assortativity
FROM g, nn
"""


LINKPRED_TOP_K = 10


def linkpred_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded link prediction by common-neighbor count + exact Jaccard
    over the co-purchase graph: for each seed part in ``PPR_SEEDS``,
    the top-``LINKPRED_TOP_K`` parts NOT already co-purchased with it,
    ranked by how many co-purchase neighbors they share — the classic
    "customers who bought these also bought" candidate generator, and
    the local-evidence complement of ``ppr_seeded_parts``' multi-hop
    mass (common neighbors = paths of length exactly 2).

    cn(s,w) = |N(s) ∩ N(w)| is an exact integer wedge count;
    jaccard = cn / (d(s) + d(w) − cn) is ONE int÷int double division
    (|N(s) ∪ N(w)| by inclusion–exclusion). Ranking is
    (cn DESC, jaccard DESC via cn/deg ties, w ASC) — fully
    deterministic; the jaccard tie level is implied by cn and d(w),
    so (cn DESC, w ASC) already totally orders candidates with equal
    scores stably.

    Scale: NO in-row pair generation and NO Σdeg² wedge blowup — the
    seeded form's wedge volume is Σ_{{v∈N(s)}} deg(v), one join from
    the seeds' adjacency rows to the shared adjacency (the
    reachable_parts_2hop frontier shape), then a count aggregate over
    (seed, candidate) and a per-seed top-k window over candidate
    counts. Every broadcast here is frontier- or top-k-sized (the
    n-sized adjacency/degree tables are always the STREAMED side —
    ranking needs only cn, so degrees join AFTER top-k onto
    ≤ seeds·k rows). Inherits ``COPURCHASE_MAX_BASKET``.

    Output: ``(seed, cand, cn, jaccard, rnk)``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    adj = _bidir_adjacency(copurchase_edges_cached(li))
    deg = adj.groupBy("a").agg(F.count("*").alias("d"))
    ns = (adj.where(F.col("a").isin(*PPR_SEEDS))
          .select(F.col("a").alias("seed"), F.col("b").alias("v"))
          .localCheckpoint(eager=True))   # consumed by 2 plan branches
    wedges = (F.broadcast(ns)
              .join(adj.select(F.col("a").alias("v"),
                               F.col("b").alias("cand")), "v")
              .where(F.col("cand") != F.col("seed")))
    cn = (wedges.groupBy("seed", "cand")
          .agg(F.count("*").cast("long").alias("cn")))
    # drop already-adjacent pairs: N(s) as (seed, cand) anti-join
    open_pairs = cn.join(
        F.broadcast(ns.select("seed", F.col("v").alias("cand"))),
        ["seed", "cand"], "left_anti")
    w = W.partitionBy("seed").orderBy(F.col("cn").desc(), "cand")
    top = (open_pairs
           .withColumn("rnk", F.row_number().over(w).cast("long"))
           .where(F.col("rnk") <= LINKPRED_TOP_K))
    ds = deg.select(F.col("a").alias("seed"), F.col("d").alias("d_s"))
    dc = deg.select(F.col("a").alias("cand"), F.col("d").alias("d_c"))
    scored = dc.join(F.broadcast(ds.join(F.broadcast(top), "seed")),
                     "cand")
    return scored.select(
        "seed", "cand", "cn",
        (F.col("cn").cast("double")
         / (F.col("d_s") + F.col("d_c") - F.col("cn")).cast("double"))
        .alias("jaccard"),
        "rnk")


LINKPRED_ORACLE = f"""
WITH {CAPPED_EDGES_SQL},
adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT a, COUNT(*) AS d FROM adj GROUP BY a),
ns AS (SELECT a AS seed, b AS v FROM adj
       WHERE a IN ({", ".join(str(s) for s in PPR_SEEDS)})),
cn AS (
  SELECT ns.seed, adj.b AS cand, CAST(COUNT(*) AS BIGINT) AS cn
  FROM ns JOIN adj ON adj.a = ns.v
  WHERE adj.b <> ns.seed
  GROUP BY ns.seed, adj.b
),
open_pairs AS (
  SELECT c.* FROM cn c
  WHERE NOT EXISTS (SELECT 1 FROM ns
                    WHERE ns.seed = c.seed AND ns.v = c.cand)
),
scored AS (
  SELECT o.seed, o.cand, o.cn,
         CAST(o.cn AS DOUBLE)
           / CAST(ds.d + dc.d - o.cn AS DOUBLE) AS jaccard,
         CAST(ROW_NUMBER() OVER (PARTITION BY o.seed
                                 ORDER BY o.cn DESC, o.cand) AS BIGINT)
           AS rnk
  FROM open_pairs o
  JOIN deg ds ON ds.a = o.seed JOIN deg dc ON dc.a = o.cand
)
SELECT seed, cand, cn, jaccard, rnk FROM scored
WHERE rnk <= {LINKPRED_TOP_K}
"""


REGISTRATIONS = [
    ("triangle_count_copurchase", triangle_count_copurchase, TRIANGLE_ORACLE),
    ("reachable_parts_2hop", reachable_parts_2hop, REACHABLE_SQL),
    ("copurchase_degree_hist", copurchase_degree_hist, DEGREE_HIST_ORACLE),
    ("labelprop_components", labelprop_components, LABELPROP_ORACLE),
    ("clustering_coeff_parts", clustering_coeff_parts, CLUSTERING_ORACLE),
    ("pagerank_exact_parts", pagerank_exact_parts, PAGERANK_EXACT_ORACLE),
    ("kcore_parts", kcore_parts, KCORE_ORACLE),
    ("ppr_seeded_parts", ppr_seeded_parts, PPR_SEEDED_ORACLE),
    ("assortativity_copurchase", assortativity_copurchase,
     ASSORTATIVITY_ORACLE),
    ("linkpred_common_neighbors", linkpred_common_neighbors,
     LINKPRED_ORACLE),
]


def harmonic_centrality_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality of the seed parts over the
    co-purchase graph: Σ 1/d(seed, v) for v within 2 hops — the
    local-influence score that, unlike closeness, is defined on
    disconnected graphs and, truncated, needs no global BFS (at
    100 TB nobody runs all-graph shortest paths; the ≤2-hop frontier is
    the production question: "how much of the catalog is one basket
    away?"). Complements ``reachable_parts_2hop``'s per-node listing
    with the one-number summary.

    Exactness: 1/1 and 1/2 terms only, so h = n1 + n2/2 clears to the
    integer h2 = 2·n1 + n2 and ONE halving — no float sum ever.

    Scale: n1 is a degree lookup; the 2-hop set is the seeds'
    frontier expansion (Σ_{v∈N(s)} deg(v) wedge volume, the linkpred
    shape) with the n-sized adjacency always the streamed side.
    Inherits ``COPURCHASE_MAX_BASKET`` via the shared edge build.

    Output: ``(seed, n1, n2, h2, harmonic)``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    adj = _bidir_adjacency(copurchase_edges_cached(li))
    ns = (adj.where(F.col("a").isin(*PPR_SEEDS))
          .select(F.col("a").alias("seed"), F.col("b").alias("v"))
          .localCheckpoint(eager=True))   # read by 3 plan branches
    n1 = ns.groupBy("seed").agg(F.count("*").alias("n1"))
    two = (F.broadcast(ns)
           .join(adj.select(F.col("a").alias("v"),
                            F.col("b").alias("w")), "v")
           .where(F.col("w") != F.col("seed"))
           .select("seed", "w").distinct()
           .join(ns.select("seed", F.col("v").alias("w")),
                 ["seed", "w"], "left_anti")
           .groupBy("seed").agg(F.count("*").alias("n2")))
    return (n1.join(two, "seed", "left")
            .select("seed", F.col("n1").cast("long").alias("n1"),
                    F.coalesce("n2", F.lit(0)).cast("long").alias("n2"))
            .withColumn("h2", (2 * F.col("n1") + F.col("n2"))
                        .cast("long"))
            .withColumn("harmonic",
                        F.col("h2").cast("double") / F.lit(2.0)))


HARMONIC_ORACLE = f"""
WITH {CAPPED_EDGES_SQL},
adj AS (SELECT u AS a, v AS b FROM edges
        UNION ALL SELECT v, u FROM edges),
ns AS (SELECT a AS seed, b AS v FROM adj WHERE a IN {PPR_SEEDS}),
n1 AS (SELECT seed, CAST(COUNT(*) AS BIGINT) AS n1 FROM ns GROUP BY seed),
two AS (
  SELECT seed, CAST(COUNT(*) AS BIGINT) AS n2 FROM (
    SELECT DISTINCT ns.seed, adj.b AS w
    FROM ns JOIN adj ON adj.a = ns.v
    WHERE adj.b <> ns.seed
  ) t
  WHERE NOT EXISTS (SELECT 1 FROM ns x
                    WHERE x.seed = t.seed AND x.v = t.w)
  GROUP BY seed
)
SELECT n1.seed, n1.n1, COALESCE(two.n2, 0) AS n2,
       CAST(2 * n1.n1 + COALESCE(two.n2, 0) AS BIGINT) AS h2,
       CAST(2 * n1.n1 + COALESCE(two.n2, 0) AS DOUBLE) / 2.0 AS harmonic
FROM n1 LEFT JOIN two ON n1.seed = two.seed
"""


REGISTRATIONS.append(("harmonic_centrality_seeds",
                      harmonic_centrality_seeds, HARMONIC_ORACLE))


REGISTRATIONS.append(("component_stats_parts", component_stats_parts,
                      COMPONENT_STATS_ORACLE))


KTRUSS_K = 4   # report how many edges survive support >= K-2


# The per-triangle (s, a, b) table is a ``result`` session memo: three
# registered queries (triangle_count_copurchase, clustering_coeff_parts,
# edge_support_hist_parts) and the k-truss peel each need the triangle
# set of the SAME memoized co-purchase edge list, and rebuilding the
# orientation + intersect machinery per query re-pays its shuffles.
# Keyed by the EDGE plan, so planted test graphs miss. Size: 3 longs
# per triangle — bounded by the capped-basket triangle count.
def triangle_table_cached(edges: DataFrame, n_edges: int) -> DataFrame:
    """Materialized (s, a, b) triangle table of the given distinct
    (u < v) edge list — the :func:`_triangle_corners` listing, built
    once per (application, edge plan). :func:`triangle_count` is the
    un-memoized count for arbitrary graphs."""
    return session_memo(
        edges.sparkSession, "result", ("triangles", edges.semanticHash()),
        lambda: _triangle_corners(edges, n_edges).localCheckpoint(eager=True))


def edge_support_hist_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge TRIANGLE SUPPORT histogram over the co-purchase graph
    — the k-truss round-1 readout (an edge with support < k−2 cannot
    be in the k-truss; the histogram says how much of the graph a
    truss filter would keep, before paying for the iterative peel):
    for each support value, how many edges carry it, plus each row
    repeats how many edges survive the ``KTRUSS_K``-truss seed filter
    (support ≥ k−2). Zero-support edges are counted (left join from
    the edge list), so Σ n_edges = |E| exactly.

    Scale: reuses the memoized capped edge list and the
    degree-orientation machinery; below the broadcast gate only TRUE
    triangles materialize as rows (in-row adjacency intersects);
    above it, the O(m^1.5) wedge join — the documented 100 TB path.
    The 3-way corner→edge explode is 3 rows/triangle; support agg is
    map-side combinable.

    Output: ``(support, n_edges, truss_k, n_truss_edges)``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges_cached(li)
    n = edges.count()   # checkpointed — already materialized
    per_edge = edge_support_table_cached(edges, n)
    # materialize the ≤max-support-row histogram once — the survival
    # count derives from IT, so the triangle pipeline never runs twice
    hist = (per_edge.groupBy("support")
            .agg(F.count("*").cast("long").alias("n_edges"))
            .localCheckpoint(eager=True))
    surv = (hist.agg(F.sum(F.when(
                F.col("support") >= KTRUSS_K - 2, F.col("n_edges"))
                .otherwise(0))
            .cast("long").alias("n_truss_edges")))
    return (hist.crossJoin(F.broadcast(surv))
            .select(F.col("support").cast("long").alias("support"),
                    "n_edges", F.lit(KTRUSS_K).cast("long").alias("truss_k"),
                    "n_truss_edges"))


EDGE_SUPPORT_ORACLE = f"""
WITH {CAPPED_EDGES_SQL},
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
epairs AS (
  SELECT a AS u, b AS v FROM tri
  UNION ALL SELECT b, c FROM tri
  UNION ALL SELECT a, c FROM tri
),
sup AS (
  SELECT e.u, e.v, COUNT(p.u) AS support
  FROM edges e LEFT JOIN epairs p ON e.u = p.u AND e.v = p.v
  GROUP BY e.u, e.v
),
surv AS (
  SELECT CAST(SUM(CASE WHEN support >= {KTRUSS_K - 2} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_truss_edges
  FROM sup
)
SELECT CAST(support AS BIGINT) AS support,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST({KTRUSS_K} AS BIGINT) AS truss_k,
       surv.n_truss_edges
FROM sup, surv
GROUP BY support, surv.n_truss_edges
"""


REGISTRATIONS.append(("edge_support_hist_parts", edge_support_hist_parts,
                      EDGE_SUPPORT_ORACLE))


KTRUSS_ROUNDS = 3


def ktruss_edges_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-truss peel of the co-purchase graph
    (k = ``KTRUSS_K``): repeatedly drop edges with triangle support
    < k−2 (support recomputed over the SURVIVING edge set each
    round), ``KTRUSS_ROUNDS`` times — the iterative closure of
    ``edge_support_hist_parts``'s seed filter (that query reports
    round-1 survival; this one actually peels, so an edge whose
    support rested on since-dropped edges cascades out). Cohen's
    k-truss is the standard community-core refinement of the k-core:
    every surviving edge sits in ≥ k−2 triangles of the truss itself.

    Like ``kcore_parts``, the deterministic k-round PREFIX of the
    peel fixpoint is what's computed and oracled: each round is one
    triangle enumeration + a 3-rows-per-triangle explode + a
    map-side-combinable support agg + one filter, the exact chain
    the oracle's unrolled CTEs replay. Early fixpoint stop: a round
    that drops no edge leaves support (a function of the edge set
    alone) unchanged, so all later rounds are no-ops and hash
    equality with the fully-unrolled oracle is preserved — one 1-row
    driver count per round, the kcore/k-means loop pattern.

    Scale: round 1 reads the session-memoized triangle table (shared
    with the count / clustering-coefficient / support-histogram
    queries); later rounds filter that table down to the SHRUNKEN
    survivor set (monotone: each round's input is a subset of the
    last) — see :func:`ktruss_peel`. Inherits ``COPURCHASE_MAX_BASKET``; lineage
    truncated per round.

    Output: ``(u, v, support, truss_k)`` — surviving edges with the
    support that admitted them in the final executed round (support
    over the previous round's survivor set, exactly as the oracle's
    last CTE).
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges_cached(li)
    return ktruss_peel(edges)


# The (u, v, support) table over the full edge list is a ``result``
# session memo: the round-1 scored table the histogram readout AND the
# k-truss peel both start from. One row per edge.
def edge_support_table_cached(edges: DataFrame, n_edges: int) -> DataFrame:
    """Materialized (u, v, support) for every edge of the given
    distinct (u < v) edge list (zero-support edges included), built
    from the session triangle table once per (application, edge
    plan). Shared by ``edge_support_hist_parts`` (histogram readout)
    and ``ktruss_peel`` (round-1 scores)."""
    return session_memo(
        edges.sparkSession, "result", ("edge_support", edges.semanticHash()),
        lambda: _edge_support(edges, triangle_table_cached(edges, n_edges)))


def _triangle_edges(tri: DataFrame) -> DataFrame:
    """The three (u < v) edges of every (s, a, b) triangle row: three
    rows per triangle."""
    return tri.select(F.explode(F.array(
        F.struct(F.least("s", "a").alias("u"),
                 F.greatest("s", "a").alias("v")),
        F.struct(F.least("s", "b").alias("u"),
                 F.greatest("s", "b").alias("v")),
        F.struct(F.col("a").alias("u"), F.col("b").alias("v"))))
        .alias("e")).select("e.u", "e.v")


def _edge_support(edges: DataFrame, tri: DataFrame) -> DataFrame:
    sup = (_triangle_edges(tri)
           .groupBy("u", "v").agg(F.count("*").alias("supp")))
    return (edges.join(sup, ["u", "v"], "left")
            .select("u", "v",
                    F.coalesce("supp", F.lit(0)).cast("long")
                     .alias("support"))
            .localCheckpoint(eager=True))


def ktruss_peel(edges: DataFrame) -> DataFrame:
    """The peel loop of :func:`ktruss_edges_parts` over an arbitrary
    distinct (u < v) edge list; round 1 reads the session triangle and
    support memos of ``edges``.

    Delta peeling: a triangle of the round-r survivor set is exactly
    a round-(r−1) triangle none of whose three edges was dropped, so
    rounds ≥ 2 never re-run the orientation/intersect machinery and
    never re-aggregate the full 3·|T| corner→edge explode. Instead:
    (1) REMOVED triangles = prior triangles touching a dropped edge
    (union of three broadcast semi-joins against the frontier-sized
    dropped set, deduped — a triangle can touch two dropped edges);
    (2) the carried triangle table is filtered with three broadcast
    anti-joins; (3) support updates in place:
    support_r(e) = support_{r-1}(e) − |removed triangles on e| — a
    broadcast-sized subtraction join instead of a full re-count.
    Measured at sf0.1 (1.2M edges, 1.88M triangles, 7% peeled):
    9.4 s (re-enumerate per round) → 7.4 s (triangle filter only) →
    see SCALE.md for the shipped incremental number. At 100 TB the
    broadcasts gate on BROADCAST_EDGE_LIMIT and fall back to shuffle
    joins — still delta-sized, never graph-sized. Identical
    semantics to the oracle's per-round 3-way re-join — same
    triangle set and supports, proven by hash."""
    thresh = KTRUSS_K - 2
    n_prev = edges.count()
    out, tri = None, None
    for rnd in range(KTRUSS_ROUNDS):
        if rnd == 0:
            tri = triangle_table_cached(edges, n_prev)
            scored = edge_support_table_cached(edges, n_prev)
        else:
            # ONE scan of the carried triangle table: three broadcast
            # left joins mark which edge slots were dropped; the
            # marked rows are the removed triangles, the rest carry
            # forward — both filters read the same checkpointed scan.
            d0 = dropped.withColumn("hit", F.lit(1))
            if n_dropped < BROADCAST_EDGE_LIMIT:
                d0 = F.broadcast(d0)
            marked = tri
            for idx, (x, y) in enumerate((("s", "a"), ("s", "b"),
                                          ("a", "b"))):
                di = d0.select(F.col("du").alias(f"du{idx}"),
                               F.col("dv").alias(f"dv{idx}"),
                               F.col("hit").alias(f"hit{idx}"))
                marked = marked.join(
                    di,
                    (F.least(F.col(x), F.col(y)) == F.col(f"du{idx}"))
                    & (F.greatest(F.col(x), F.col(y))
                       == F.col(f"dv{idx}")),
                    "left")
            marked = (marked.select(
                "s", "a", "b",
                (F.coalesce("hit0", F.lit(0)) + F.coalesce("hit1", F.lit(0))
                 + F.coalesce("hit2", F.lit(0)) > 0).alias("rm"))
                # lazy (round 13): the round's n_now count is the
                # first action — it materializes this scan inside its
                # own job instead of a separate eager job per round
                .localCheckpoint(eager=False))
            tri = marked.where(~F.col("rm")).select("s", "a", "b")
            removed = marked.where(F.col("rm")).select("s", "a", "b")
            rc = (_triangle_edges(removed)
                  .groupBy("u", "v").agg(F.count("*").alias("rm_n")))
            if n_dropped < BROADCAST_EDGE_LIMIT:
                rc = F.broadcast(rc)
            scored = (out.join(rc, ["u", "v"], "left")
                      .select("u", "v",
                              (F.col("support")
                               - F.coalesce("rm_n", F.lit(0)))
                              .alias("support"))
                      .localCheckpoint(eager=False))
        out = scored.where(F.col("support") >= thresh)
        dropped = (scored.where(F.col("support") < thresh)
                   .select(F.col("u").alias("du"), F.col("v").alias("dv")))
        n_now = out.count()
        n_dropped = n_prev - n_now
        if n_dropped == 0:
            break
        n_prev = n_now
    return out.select("u", "v", "support",
                      F.lit(KTRUSS_K).cast("long").alias("truss_k"))


def _ktruss_oracle() -> str:
    # AS MATERIALIZED: each e{r} is referenced 4x (three triangle
    # sides + the support left join) — DuckDB's default CTE inlining
    # would expand the chain ~4^r times and exhausts memory at r = 3
    # (observed); materializing keeps each round evaluated once,
    # which is also what the Spark side's per-round localCheckpoint
    # does.
    rounds = []
    prev = "e0"
    for r in range(1, KTRUSS_ROUNDS + 1):
        rounds.append(f"""
t{r} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM {prev} e1
  JOIN {prev} e2 ON e2.u = e1.v
  JOIN {prev} e3 ON e3.u = e1.u AND e3.v = e2.v
),
p{r} AS (
  SELECT a AS u, b AS v FROM t{r}
  UNION ALL SELECT b, c FROM t{r}
  UNION ALL SELECT a, c FROM t{r}
),
s{r} AS (
  SELECT e.u, e.v, COUNT(p.u) AS support
  FROM {prev} e LEFT JOIN p{r} p ON e.u = p.u AND e.v = p.v
  GROUP BY e.u, e.v
),
e{r} AS MATERIALIZED (SELECT u, v, support FROM s{r}
         WHERE support >= {KTRUSS_K - 2})""")
        prev = f"e{r}"
    return f"""
WITH {CAPPED_EDGES_SQL},
e0 AS MATERIALIZED (SELECT u, v FROM edges),{','.join(rounds)}
SELECT u, v, CAST(support AS BIGINT) AS support,
       CAST({KTRUSS_K} AS BIGINT) AS truss_k
FROM {prev}
"""


KTRUSS_ORACLE = _ktruss_oracle()


REGISTRATIONS.append(("ktruss_edges_parts", ktruss_edges_parts,
                      KTRUSS_ORACLE))


RA_GRID = 10**12   # integer micro-units for the 1/deg RA terms


def linkpred_resource_allocation(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Seeded link prediction by the RESOURCE-ALLOCATION index (Zhou,
    Lü & Zhang 2009): ra(s,c) = Σ_{w ∈ N(s)∩N(c)} 1/deg(w) — the
    common-neighbor count of ``linkpred_common_neighbors`` with each
    shared neighbor DISCOUNTED by its degree, so a hub co-purchased
    with everything stops dominating the ranking (empirically the
    strongest of the degree-penalized local indices; Adamic–Adar's
    1/ln deg needs libm and is deliberately NOT used — 1/deg is
    rational and stays exact). Terms are computed on the integer grid
    ra_num = Σ (RA_GRID DIV deg(w)), so ranking and hashes are exact
    on both engines; no float ever enters the ordering.

    Scale: identical frontier shape as the common-neighbor ranker —
    wedge volume Σ_{v∈N(s)} deg(v), never Σdeg²; the degree of the
    MIDDLE vertex joins onto the frontier-sized seed-adjacency rows
    BEFORE the wedge expansion (broadcast ≤ Σ|N(s)| rows), so the
    n-sized degree table streams exactly once. Per-seed top-k via one
    bounded window. Inherits ``COPURCHASE_MAX_BASKET``.

    Output: ``(seed, cand, cn, ra_num, rnk)``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    adj = _bidir_adjacency(copurchase_edges_cached(li))
    deg = adj.groupBy("a").agg(F.count("*").alias("d"))
    ns = (adj.where(F.col("a").isin(*PPR_SEEDS))
          .select(F.col("a").alias("seed"), F.col("b").alias("v"))
          .localCheckpoint(eager=True))   # consumed by 2 plan branches
    # degree of the middle vertex, attached while still frontier-sized
    nsd = ns.join(deg.select(F.col("a").alias("v"), "d"), "v")
    wedges = (F.broadcast(nsd)
              .join(adj.select(F.col("a").alias("v"),
                               F.col("b").alias("cand")), "v")
              .where(F.col("cand") != F.col("seed")))
    scored = (wedges.groupBy("seed", "cand")
              .agg(F.count("*").cast("long").alias("cn"),
                   F.sum(F.expr(f"{RA_GRID} DIV d")).cast("long")
                    .alias("ra_num")))
    open_pairs = scored.join(
        F.broadcast(ns.select("seed", F.col("v").alias("cand"))),
        ["seed", "cand"], "left_anti")
    w = W.partitionBy("seed").orderBy(F.col("ra_num").desc(), "cand")
    return (open_pairs
            .withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= LINKPRED_TOP_K)
            .select("seed", "cand", "cn", "ra_num", "rnk"))


LINKPRED_RA_ORACLE = f"""
WITH {CAPPED_EDGES_SQL},
adj AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT a, COUNT(*) AS d FROM adj GROUP BY a),
ns AS (SELECT a AS seed, b AS v FROM adj
       WHERE a IN ({", ".join(str(s) for s in PPR_SEEDS)})),
scored AS (
  SELECT ns.seed, adj.b AS cand,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM({RA_GRID} // d.d) AS BIGINT) AS ra_num
  FROM ns JOIN deg d ON d.a = ns.v
          JOIN adj ON adj.a = ns.v
  WHERE adj.b <> ns.seed
  GROUP BY ns.seed, adj.b
),
open_pairs AS (
  SELECT s.* FROM scored s
  WHERE NOT EXISTS (SELECT 1 FROM ns
                    WHERE ns.seed = s.seed AND ns.v = s.cand)
),
ranked AS (
  SELECT seed, cand, cn, ra_num,
         CAST(ROW_NUMBER() OVER (PARTITION BY seed
                                 ORDER BY ra_num DESC, cand) AS BIGINT)
           AS rnk
  FROM open_pairs
)
SELECT seed, cand, cn, ra_num, rnk FROM ranked
WHERE rnk <= {LINKPRED_TOP_K}
"""


REGISTRATIONS.append(("linkpred_resource_allocation",
                      linkpred_resource_allocation, LINKPRED_RA_ORACLE))


RICH_CLUB_KS = (4, 8, 16, 32, 64)


def rich_club_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the co-purchase graph (Zhou &
    Mondragón 2004): for each degree threshold k, φ(k) =
    2·E_k / (N_k·(N_k−1)) where N_k = nodes with degree > k and
    E_k = edges with BOTH endpoints above threshold — do the
    best-selling parts preferentially co-purchase with EACH OTHER
    (hub club), or do they bridge to the long tail? The structural
    complement of ``assortativity_copurchase`` (one correlation vs a
    full threshold profile) and the standard hub-wiring readout for
    recommender graphs.

    Exactness: node/edge counts are exact longs; φ is reported as
    integer ppm (2·E_k·10⁶ DIV pairs) plus the raw counts, so every
    checked value is a floor division of exact integers.

    Scale: the degree table joins onto the edge list TWICE (u and v
    sides) — both joins key on node id against the n-sized degree
    table; thresholds explode each surviving edge into ≤|Ks| rows
    (a constant), and everything reduces map-side. Inherits
    ``COPURCHASE_MAX_BASKET``.

    Output: ``(k, n_nodes, n_edges, phi_ppm)`` — one row per
    threshold with N_k ≥ 2.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges_cached(li)
    deg = (edges.select(F.col("u").alias("n"))
           .unionAll(edges.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count("*").alias("d"))
           .localCheckpoint(eager=True))   # nodes branch + 2 edge joins
    ks = F.array(*[F.lit(k) for k in RICH_CLUB_KS])
    nk = (deg.select(F.explode(ks).alias("k"), "d")
          .where(F.col("d") > F.col("k"))
          .groupBy("k").agg(F.count("*").cast("long").alias("n_nodes")))
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ek = (edges.join(du, "u").join(dv, "v")
          .select(F.explode(ks).alias("k"), "du", "dv")
          .where((F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
          .groupBy("k").agg(F.count("*").cast("long").alias("n_edges")))
    return (nk.join(ek, "k", "left")
            .where(F.col("n_nodes") >= 2)
            .select(F.col("k").cast("long").alias("k"), "n_nodes",
                    F.coalesce("n_edges", F.lit(0)).cast("long")
                     .alias("n_edges"),
                    F.expr("2 * coalesce(n_edges, 0) * 1000000 DIV "
                           "(n_nodes * (n_nodes - 1))").cast("long")
                     .alias("phi_ppm")))


RICH_CLUB_ORACLE = f"""
WITH {CAPPED_EDGES_SQL},
deg AS (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY n
),
ks AS (SELECT UNNEST(ARRAY{list(RICH_CLUB_KS)}) AS k),
nk AS (
  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM ks JOIN deg ON deg.d > ks.k
  GROUP BY ks.k
),
ek AS (
  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM ks, edges e
  JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
  WHERE du.d > ks.k AND dv.d > ks.k
  GROUP BY ks.k
)
SELECT CAST(nk.k AS BIGINT) AS k, nk.n_nodes,
       CAST(COALESCE(ek.n_edges, 0) AS BIGINT) AS n_edges,
       CAST(2 * COALESCE(ek.n_edges, 0) * 1000000
            // (nk.n_nodes * (nk.n_nodes - 1)) AS BIGINT) AS phi_ppm
FROM nk LEFT JOIN ek ON nk.k = ek.k
WHERE nk.n_nodes >= 2
"""


REGISTRATIONS.append(("rich_club_copurchase", rich_club_copurchase,
                      RICH_CLUB_ORACLE))
