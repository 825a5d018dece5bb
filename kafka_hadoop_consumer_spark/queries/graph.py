"""Graph analytics over DataFrame ops (complements q_graph_pagerank and
the q_dedup_clusters diameter-round connected components in
queries/dedup.py; q_graph_cc here is the log-round CC scale path, and
q_graph_bfs the synchronous-frontier traversal primitive).

The graph here is a CO-OCCURRENCE projection: users connected when they
purchased within the same hour bucket — the bipartite-projection
construction every recommender/fraud pipeline uses, with the hot-bucket
cap that keeps the projection from going quadratic on a viral bucket
(the q_dedup_ngram_jaccard df-cap, applied to graph building).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from kafka_hadoop_consumer_spark.catalog import load_table
from kafka_hadoop_consumer_spark.queries.registry import (
    persist_tracked,
    query,
)

HOUR_US = 3_600_000_000
TRI_BUCKET_CAP = 64  # drop hour buckets with more co-purchasers than this


def copurchase_edges(e: DataFrame) -> DataFrame:
    """Distinct co-purchase edges (u < v): users purchasing in the same
    hour bucket, hot buckets capped. Pair generation is posting-list
    style — one shuffle groups users per bucket, pairs explode from each
    sorted posting (the pair_overlap_counts pattern, measured faster
    than a bucket self-join and moving |buckets| rows instead of 2×
    probe streams); the cap bounds per-bucket fan-out at C(cap, 2)."""
    hr = F.expr(f"unix_micros(cast(ts AS timestamp)) DIV {HOUR_US}")
    pu = e.where(F.col("event_type") == "purchase").select(
        hr.alias("hr"), "user_id"
    )
    # r13 (guide §2.4): the former ``pu.distinct()`` was a full shuffle
    # of the (hr, user) stream immediately followed by a second full
    # shuffle for the groupBy(hr) posting build. collect_set dedupes
    # (hr, user) inside ONE map-side-combinable aggregation keyed hr —
    # sort_array(collect_set) ≡ sort_array(collect_list(distinct)) —
    # so one exchange does both jobs. Per-bucket set size is bounded by
    # the same TRI_BUCKET_CAP filter that already bounds the posting.
    posts = (
        pu.groupBy("hr")
        .agg(F.sort_array(F.collect_set("user_id")).alias("us"))
        .where((F.size("us") >= 2) & (F.size("us") <= TRI_BUCKET_CAP))
    )
    return (
        posts.select(
            F.explode(
                F.expr(
                    "flatten(transform(us, (x, i) ->"
                    " transform(slice(us, i + 2, size(us) - i - 1),"
                    " y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .distinct()
    )


@query(
    "q_graph_triangles",
    oracle=f"""
    WITH pu AS (
      SELECT DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // {HOUR_US} AS hr,
                      user_id
      FROM events WHERE event_type = 'purchase'),
    ok AS (SELECT hr FROM pu GROUP BY hr
           HAVING count(*) BETWEEN 2 AND {TRI_BUCKET_CAP}),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM pu a JOIN pu b ON a.hr = b.hr AND a.user_id < b.user_id
      WHERE a.hr IN (SELECT hr FROM ok)),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
      GROUP BY node),
    o AS (  -- orient each edge from lower (degree, id) to higher
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS ddeg
      FROM edges e
      JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
    tri AS (
      SELECT w.src AS a, w.d1 AS b, w.d2 AS c FROM (
        SELECT o1.src, o1.dst AS d1, o2.dst AS d2
        FROM o o1 JOIN o o2
          ON o2.src = o1.src AND (o1.ddeg, o1.dst) < (o2.ddeg, o2.dst)) w
      JOIN o oc ON oc.src = w.d1 AND oc.dst = w.d2),
    part AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS node FROM tri UNION ALL
        SELECT b AS node FROM tri UNION ALL
        SELECT c AS node FROM tri)
      GROUP BY node)
    SELECT p.node AS user_id, d.d AS degree, p.n_triangles,
           round(2.0 * p.n_triangles / (d.d * (d.d - 1)), 6)
               AS clustering_coeff
    FROM part p JOIN deg d ON d.node = p.node
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting with DEGREE-ORDERED edge orientation — the
    standard distributed-triangle trick (orient every edge from the
    lower-(degree, id) endpoint to the higher; enumerate wedges only from
    each node's out-edges; close them with one more equi-join). Each
    triangle is counted exactly once, and wedge fan-out is bounded by the
    max OUT-degree, which orientation caps at O(√E) — the difference
    between feasible and quadratic on skewed (social/co-occurrence)
    graphs. Emits per-node triangle participation + local clustering
    coefficient — the community-density signal behind fraud rings and
    botted engagement.

    Graph construction (co-purchase projection, same-hour buckets) caps
    hot buckets at TRI_BUCKET_CAP users, bounding projection fan-out at
    C(64,2) per bucket — the df-cap discipline applied to graphs.

    Scale shape: bucket cap → projection is one equi-join on hr; degree
    is one hash agg; wedge + closure are two equi-joins on node keys
    (shuffle by src — wedges for one node co-locate); no global sort, no
    driver collect."""
    e = load_table(spark, sf_dir, "events")
    edges = persist_tracked(copurchase_edges(e))
    ew, deg, _wedges = _tri_edge_commons(edges)
    # r14 (guide §2.3): per-node participation counts straight from the
    # per-edge intersection rows — the base edge (a, b) contributes
    # |common| triangles to EACH endpoint as one pre-counted row, and
    # only the apex role explodes (one row per triangle). The count
    # aggregation consumes 2·E + T rows instead of 3·T exploded node
    # rows (8.4M vs 23.8M at sf0.1; triangle-dense co-occurrence graphs
    # have T ≫ E). Same integers per node: each triangle still credits
    # its three corners exactly once.
    nc = F.size("cw").cast("long")
    contribs = F.concat(
        F.array(
            F.struct(F.col("a").alias("node"), nc.alias("c")),
            F.struct(F.col("b").alias("node"), nc.alias("c")),
        ),
        F.transform(
            "cw",
            lambda w: F.struct(
                w.alias("node"), F.lit(1).cast("long").alias("c")
            ),
        ),
    )
    part = (
        ew.select(F.explode(contribs).alias("p"))
        .select("p.node", "p.c")
        .groupBy("node")
        .agg(F.sum("c").alias("n_triangles"))
    )
    return part.join(deg, "node").select(
        F.col("node").alias("user_id"),
        F.col("d").alias("degree"),
        "n_triangles",
        F.round(
            F.lit(2.0) * F.col("n_triangles") / (F.col("d") * (F.col("d") - 1)), 6
        ).alias("clustering_coeff"),
    )


def triangles_from_edges(
    edges: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Degree-ordered triangle enumeration over a distinct undirected edge
    frame (u, v) with u < v. Returns (triangles(a, b, c),
    degrees(node, d), wedges(a, b, c)); each triangle appears exactly
    once. Exposed so tests can check the orientation count against a
    brute-force triple join, and so bench.py's scaling probe can count
    the enumerated WEDGES — the quantity degree-ordered orientation
    exists to bound (Σ out-deg², ≤ O(E^1.5) instead of Σ deg² which a
    hub makes quadratic)."""
    ew, deg, wedges = _tri_edge_commons(edges)
    tri = ew.select(
        F.col("a"), F.col("b"), F.explode("cw").alias("c")
    )
    return tri, deg, wedges


def _tri_edge_commons(
    edges: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Core of the triangle family: (ew(a, b, cw), degrees, wedges) where
    ``ew`` holds one row per oriented base edge (a→b) that closes ≥ 1
    triangle, with ``cw`` = the common out-neighbors N⁺(a) ∩ N⁺(b)
    (each element is one triangle's apex). q_graph_triangles aggregates
    participation counts straight from ``ew``; triangles_from_edges
    explodes it into the classic (a, b, c) rows."""
    deg = persist_tracked(
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    lower_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = persist_tracked(
        edges.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(lower_u, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_u, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(lower_u, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
        )
    )
    o2 = o.select(
        F.col("src").alias("src2"),
        F.col("dst").alias("d2"),
        F.col("ddeg").alias("ddeg2"),
    )
    wedge_lt = (F.col("ddeg") < F.col("ddeg2")) | (
        (F.col("ddeg") == F.col("ddeg2")) & (F.col("dst") < F.col("d2"))
    )
    wedges = (
        o.join(o2, F.col("src") == F.col("src2"))
        .where(wedge_lt)
        .select(F.col("src").alias("a"), F.col("dst").alias("b"), F.col("d2").alias("c"))
    )
    # r14 (guide §2.3/§3 "explode before a join multiplies the shuffle"):
    # triangles used to materialize the wedge stream (Σ out-deg² rows —
    # 22.6M at sf0.1, O(E^1.5) at scale) and equi-join it against the
    # edge set. Closure by ADJACENCY INTERSECTION does the same
    # enumeration without ever materializing or shuffling a wedge row:
    # every oriented edge (u→v) picks up both endpoints' out-neighbor
    # lists and the common out-neighbors w = N⁺(u) ∩ N⁺(v) close the
    # triangles (u→v, u→w, v→w). Each triangle has exactly one node with
    # two out-edges inside it (the orientation is acyclic), so each is
    # emitted exactly once — the same (a, b, c) = (src, dst, w) triples
    # the wedge join produced, in the same multiplicity (o is distinct).
    # Shuffled volume drops from O(Σ out-deg²) wedge rows to O(E) rows
    # carrying adjacency arrays (Σ |array| = E per join side); the
    # element-wise intersection work (≈ 2·Σ out-deg² comparisons) runs
    # inside codegen'd array_intersect with no row machinery. The
    # `wedges` frame is still returned join-formulated for bench.py's
    # scaling probe (wedge COUNT is the receipt quantity); it is not
    # part of the triangle plan.
    outadj = o.groupBy("src").agg(F.collect_set("dst").alias("ns"))
    ew = (
        o.join(outadj.select("src", F.col("ns").alias("nu")), "src")
        .join(
            outadj.select(F.col("src").alias("dst"), F.col("ns").alias("nv")),
            "dst",
        )
        .select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            F.array_intersect("nu", "nv").alias("cw"),
        )
        .where(F.size("cw") > 0)
    )
    return ew, deg, wedges


LP_TOP = 25      # candidate links emitted (by score)
LP_DEG_CAP = 64  # hub cap: nodes above this degree don't generate wedges


@query(
    "q_graph_link_predict",
    oracle=f"""
    WITH pu AS (
      SELECT DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // {HOUR_US} AS hr,
                      user_id
      FROM events WHERE event_type = 'purchase'),
    ok AS (SELECT hr FROM pu GROUP BY hr
           HAVING count(*) BETWEEN 2 AND {TRI_BUCKET_CAP}),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM pu a JOIN pu b ON a.hr = b.hr AND a.user_id < b.user_id
      WHERE a.hr IN (SELECT hr FROM ok)),
    adj AS (  -- symmetric adjacency
      SELECT u AS node, v AS nb FROM edges
      UNION ALL SELECT v, u FROM edges),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY node),
    wadj AS (  -- hub-capped wedge generation: only low-degree centers
      SELECT a.node, a.nb FROM adj a
      JOIN deg dn ON dn.node = a.nb WHERE dn.d <= {LP_DEG_CAP}),
    common AS (  -- non-adjacent pairs sharing >= 1 non-hub neighbor
      SELECT a.node AS x, b.node AS y, CAST(count(*) AS BIGINT) AS cn
      FROM wadj a JOIN wadj b ON a.nb = b.nb AND a.node < b.node
      GROUP BY a.node, b.node),
    cand AS (
      SELECT c.x, c.y, c.cn, dx.d AS dx, dy.d AS dy
      FROM common c
      JOIN deg dx ON dx.node = c.x JOIN deg dy ON dy.node = c.y
      WHERE NOT EXISTS (SELECT 1 FROM edges e
                        WHERE e.u = c.x AND e.v = c.y))
    SELECT x AS user_a, y AS user_b, cn AS n_common, dx + dy - cn AS n_union,
           round(CAST(cn AS DOUBLE) / (dx + dy - cn), 6) AS jaccard_score
    FROM cand
    ORDER BY jaccard_score DESC, x, y LIMIT {LP_TOP}
    """,
)
def q_graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard — the classic
    common-neighbors feature behind friend/product recommendation: for
    every NON-adjacent node pair of the capped co-purchase graph that
    shares at least one neighbor, score |N(x)∩N(y)| / |N(x)∪N(y)| and
    emit the top-{LP_TOP} predicted links. Candidate pairs come only
    from shared-neighbor wedges (posting-list style on the adjacency —
    never all pairs), the q_dedup_ngram_jaccard shape applied to graph
    structure.

    Scale shape: adjacency and degrees are one union + hash agg; wedge
    pairing is one equi-join on the shared neighbor with fan-out bounded
    by the capped degree; the known-edge exclusion is an anti join. Same
    cap discipline as q_graph_triangles."""
    e = load_table(spark, sf_dir, "events")
    edges = persist_tracked(copurchase_edges(e))
    adj = persist_tracked(
        edges.select(F.col("u").alias("node"), F.col("v").alias("nb")).unionAll(
            edges.select(F.col("v").alias("node"), F.col("u").alias("nb"))
        )
    )
    deg = persist_tracked(adj.groupBy("node").agg(F.count(F.lit(1)).alias("d")))
    low_centers = deg.where(F.col("d") <= LP_DEG_CAP).select(
        F.col("node").alias("nb")
    )
    wadj = persist_tracked(adj.join(low_centers, "nb"))
    common = (
        wadj.select(F.col("node").alias("x"), "nb")
        .join(wadj.select(F.col("node").alias("y"), "nb"), "nb")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = (
        common.join(
            edges.select(F.col("u").alias("x"), F.col("v").alias("y")),
            ["x", "y"],
            "left_anti",
        )
        .join(deg.select(F.col("node").alias("x"), F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("node").alias("y"), F.col("d").alias("dy")), "y")
    )
    return (
        cand.select(
            F.col("x").alias("user_a"),
            F.col("y").alias("user_b"),
            F.col("cn").alias("n_common"),
            (F.col("dx") + F.col("dy") - F.col("cn")).alias("n_union"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("dx") + F.col("dy") - F.col("cn")),
                6,
            ).alias("jaccard_score"),
        )
        .orderBy(F.col("jaccard_score").desc(), "user_a", "user_b")
        .limit(LP_TOP)
    )


# Shared oracle fragment: the capped co-purchase projection, verbatim the
# edge construction inside the q_graph_triangles / q_graph_link_predict
# oracles (kept inline there to preserve their evidenced definitions).
_EDGES_CTE = f"""
    pu AS (
      SELECT DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // {HOUR_US} AS hr,
                      user_id
      FROM events WHERE event_type = 'purchase'),
    ok AS (SELECT hr FROM pu GROUP BY hr
           HAVING count(*) BETWEEN 2 AND {TRI_BUCKET_CAP}),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM pu a JOIN pu b ON a.hr = b.hr AND a.user_id < b.user_id
      WHERE a.hr IN (SELECT hr FROM ok)),
    sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges)"""

# Round cap: alternation is proven O(log^2 n) (Kiveris et al. Thm 2) and
# observed O(log n); dense projections converge in a handful. The loop
# RAISES on a cap exit rather than returning unconverged components.
CC_MAX_ROUNDS = 12
CC_LAST_ROUNDS: dict[str, int] = {}  # observability: rounds to fixpoint
# per-round edge-set sizes of the last run (index 0 = input edges) — the
# bench scaling probe records these to evidence the O(log V) round claim
CC_LAST_EDGE_COUNTS: dict[str, list[int]] = {}


@query(
    "q_graph_cc",
    # oracle: ground-truth component semantics (min reachable id via
    # recursive closure), NOT a replay of the engine's algorithm — the
    # check is that alternating stars converge to the same fixpoint.
    oracle=f"""
    WITH RECURSIVE {_EDGES_CTE},
    walk(node, lab) AS (
      SELECT u, u FROM sym
      UNION
      SELECT s.u, w.lab FROM walk w JOIN sym s ON s.v = w.node),
    comp AS (
      SELECT node AS user_id, CAST(min(lab) AS BIGINT) AS component_id
      FROM walk GROUP BY node)
    SELECT user_id, component_id,
           CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
               AS component_size
    FROM comp
    """,
)
def q_graph_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by LARGE-STAR / SMALL-STAR alternation — the
    O(log |V|)-round MapReduce CC algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond"), complementing q_dedup_clusters'
    min-label propagation whose round count is the graph DIAMETER. On a
    100 TB web/citation graph the diameter can be hundreds of hops while
    log2(|V|) stays ~40: this is the scale-path CC. Each node of the
    capped co-purchase graph is labeled with its component's min user_id
    plus the component size — the "merge duplicate-pair clusters, pick a
    representative" primitive dedup cascades run after pair generation.

    Large-star hangs every neighbor LARGER than u off min(N(u) ∪ {{u}});
    small-star re-hangs the smaller neighbors. Both are one groupBy(min)
    + one equi-join re-emit — no collect_list, fan-out bounded by degree.
    The driver loop only compares a 2-number set fingerprint (edge
    count + exact sum of a 64-bit row hash) between rounds — fingerprint
    equality == the edge set stopped changing == fixpoint. At fixpoint
    the edge set IS the component map (node -> component min).

    Oracle independence: DuckDB computes min-reachable-id over the raw
    transitive closure (recursive CTE) — the SEMANTICS, not the
    algorithm — so the hash gate proves the star alternation converged
    to true components rather than replaying its own steps."""
    e = load_table(spark, sf_dir, "events")
    return cc_from_edges(copurchase_edges(e))


def cc_from_edges(
    E: DataFrame, key: str = "q_graph_cc", max_rounds: int = CC_MAX_ROUNDS
) -> DataFrame:
    """The large-star/small-star CC core over a distinct (u, v) (u < v)
    edge frame -> (user_id, component_id, component_size). Extracted
    from q_graph_cc so bench.py can measure round-count scaling on
    synthetic graphs (scaling_10x) and other callers reuse the
    scale-path CC; rounds-to-fixpoint recorded in CC_LAST_ROUNDS[key]."""

    def star_round(E: DataFrame) -> DataFrame:
        # r13 (guide §2.4): each star's min used to be a groupBy(u)
        # aggregate joined back onto the same stream — shuffling the
        # symmetric edge stream twice per star at scale (agg + join
        # probe), plus an AQE broadcast-build stage per round locally.
        # A min-over-Window.partitionBy(u) attaches m = min(N(u)) to
        # every row of u's neighborhood in ONE exchange of the stream
        # and no join at all; per-round query stages drop from ~7 to
        # ~5 (the dominant cost of the tiny late rounds is stage
        # launches, bench_cc_profile.json) and the at-scale shuffle
        # byte count halves per star. Same (u, m) values row for row.
        sym = E.unionAll(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: neighbors above u attach to m = min(N(u) + {u}).
        # r14 (guide §2.4): the intermediate ``.distinct()`` here was a
        # full exchange of the large-star output per round, yet the
        # small-star below ends in its own distinct — the round's OUTPUT
        # set is identical without it. Duplicate (u, m) rows only ride
        # into small-star's min window (min is duplicate-insensitive)
        # and its explode, whose copies the terminal distinct collapses.
        # Exchanges per star round drop 4 → 3, and the removed exchange
        # carried O(E) rows — strictly more than the distinct output the
        # next window would have shuffled instead.
        w_u = Window.partitionBy("u")
        large = (
            sym.withColumn("m", F.least(F.min("v").over(w_u), F.col("u")))
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # small-star: orient edges downward, re-hang node + smaller
        # neighbors off m = min of the downward neighborhood; emitting
        # BOTH (v, m) and (u, m) from the same pass (the duplicate
        # (u, m) copies per downward edge collapse in the distinct)
        dn = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        small = (
            dn.withColumn("m", F.min("v").over(Window.partitionBy("u")))
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("p")
            )
            .select(F.col("p.a").alias("u"), F.col("p.b").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        return small

    def checkpoint_with_fingerprint(E: DataFrame) -> tuple[DataFrame, tuple]:
        # order-independent exact set fingerprint: count + decimal sum of
        # a 64-bit row hash (decimal so the sum can't overflow); equality
        # across a round == the edge set reached its fixpoint. The
        # fingerprint rides the localCheckpoint materialization job via
        # observe() — ONE job per round, not checksum-job + round-job
        # (the Observation is populated by checkpoint's own action; the
        # wait after the job is sub-millisecond).
        obs = Observation()
        out = E.observe(
            obs,
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("hsum"),
        ).localCheckpoint()
        m = obs.get
        return out, (m["cnt"], m["hsum"])

    # Each round's plan references the previous round's frame ~8 times,
    # so a cache alone leaves Catalyst re-analyzing an exponentially
    # growing LOGICAL plan (measured: round 2 analysis 100x round 0).
    # localCheckpoint truncates lineage after eagerly materializing the
    # round — the standard iterative-algorithm discipline (on a cluster
    # with dynamic allocation, use reliable checkpoint() instead).
    # Cleanup note: Dataset.unpersist() cannot free localCheckpoint
    # blocks (they live at the RDD level, outside the CacheManager);
    # dropping the Python reference each round makes the old round's
    # RDD unreachable, and Spark's ContextCleaner unpersists it on GC —
    # eventual, which is fine for a dozen small per-round edge sets.
    E, prev = checkpoint_with_fingerprint(E)
    edge_counts = [int(prev[0])]
    for rounds in range(1, max_rounds + 1):
        prev_frame = E
        E, cur = checkpoint_with_fingerprint(star_round(E))
        edge_counts.append(int(cur[0]))
        # fingerprint equality is probabilistic (count is exact, the
        # hash-sum could collide); confirm the fixpoint EXACTLY once —
        # counts already match, so one-direction multiset difference
        # empty ⇒ set equality. A collision (non-empty diff) just means
        # the loop keeps iterating; wrong components can never be
        # emitted (r6 advice).
        if cur == prev and E.exceptAll(prev_frame).isEmpty():
            break
        prev = cur
    else:
        raise RuntimeError(
            f"{key} did not converge in {max_rounds} star rounds"
        )
    CC_LAST_ROUNDS[key] = rounds
    CC_LAST_EDGE_COUNTS[key] = edge_counts
    # fixpoint: E = {(node, component_min) | node != component_min};
    # add the self-rooted representatives back in. r14 (guide §2.4): the
    # confirmed fixpoint is a STAR FOREST — a chain (a→b, b→c) cannot
    # survive star_round unchanged (large-star would re-hang a on c), so
    # {u} (labeled nodes) and {v} (labels) are disjoint and the former
    # ``{v} anti-join {u}`` equals plain distinct(v): the anti join and
    # its probe-side exchange are dropped.
    roots = E.select(F.col("v").alias("user_id")).distinct()
    labels = E.select(
        F.col("u").alias("user_id"), F.col("v").alias("component_id")
    ).unionAll(roots.select("user_id", F.col("user_id").alias("component_id")))
    # component_size via an unordered window over component_id: ONE
    # shuffle of labels, no second frame. The former groupBy+broadcast
    # join was an UNBOUNDED broadcast — component count is O(|V|) on a
    # sparse 100 TB graph (worst case: all-singleton components), far
    # beyond driver/broadcast range. A window partition holds one
    # component's rows, the same residency a shuffle join on
    # component_id would need, so skew is not made worse.
    w = Window.partitionBy("component_id")
    return labels.select(
        "user_id",
        "component_id",
        F.count(F.lit(1)).over(w).alias("component_size"),
    )


BFS_SOURCES = 4  # multi-source frontier: the 4 smallest node ids
BFS_MAX_HOPS = 4


@query(
    "q_graph_bfs",
    oracle=f"""
    WITH RECURSIVE {_EDGES_CTE},
    srcs AS (
      SELECT u AS s FROM (SELECT DISTINCT u FROM sym ORDER BY u
                          LIMIT {BFS_SOURCES})),
    walk(src, node, dist) AS (
      SELECT s, s, 0 FROM srcs
      UNION
      SELECT w.src, s.v, w.dist + 1
      FROM walk w JOIN sym s ON s.u = w.node
      WHERE w.dist < {BFS_MAX_HOPS})
    SELECT src AS src_id, node AS user_id, CAST(min(dist) AS INT) AS dist
    FROM walk GROUP BY 1, 2
    """,
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source breadth-first search: hop distance (<= {BFS_MAX_HOPS})
    from each of the {BFS_SOURCES} smallest user ids of the capped
    co-purchase graph to every node it reaches — the Pregel traversal
    primitive behind shortest-path features, blast-radius queries
    ("which accounts sit within 3 hops of a known-fraud seed"), and
    influence neighborhoods. Exactly BFS_MAX_HOPS synchronous frontier
    rounds, each one equi-join (frontier x adjacency, shuffle on the
    expanding node) + one anti-join (drop already-visited (src, node)
    states), so first discovery == min hop count by construction —
    deterministic with NO convergence test, which is what lets the
    oracle replay it as a hop-bounded recursive closure.

    Scale shape: state is the visited set, partitioned by (src, node);
    the frontier shrinks as the graph saturates; per-round fan-out is
    bounded by frontier-degree sum, the same bound Pregel gives. All
    {BFS_SOURCES} sources advance in ONE frame (multi-source = one extra
    key column, not N jobs). The anti-join per round replaces Pregel's
    per-vertex visited flag."""
    e = load_table(spark, sf_dir, "events")
    E = persist_tracked(copurchase_edges(e))
    sym = E.unionAll(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
    srcs = (
        sym.select("u").distinct().orderBy("u").limit(BFS_SOURCES)
        .select(F.col("u").alias("src_id"))
    )
    # persist each LAYER once; the visited set is a union over the
    # persisted layers (persisting the cumulative union every hop would
    # cache each earlier layer's rows up to hops+1 times)
    frontiers = [
        persist_tracked(
            srcs.select(
                "src_id",
                F.col("src_id").alias("user_id"),
                F.lit(0).alias("dist"),
            )
        )
    ]
    for hop in range(1, BFS_MAX_HOPS + 1):
        frontier = frontiers[-1]
        visited = reduce(DataFrame.unionAll, frontiers)
        nxt = (
            frontier.join(sym, frontier.user_id == sym.u)
            .select("src_id", F.col("v").alias("user_id"))
            .distinct()
            .join(visited, ["src_id", "user_id"], "left_anti")
            .withColumn("dist", F.lit(hop))
        )
        frontiers.append(persist_tracked(nxt))
    return reduce(DataFrame.unionAll, frontiers).select(
        "src_id", "user_id", F.col("dist").cast("int").alias("dist")
    )
