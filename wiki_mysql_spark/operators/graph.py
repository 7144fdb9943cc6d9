"""Distributed connected components (north-star dedup extension).

Completes the dedup story: pair generators (MinHash/SimHash/ngram/embedding,
``operators/dedup.py``) emit near-duplicate EDGES; grouping those into
clusters with one canonical survivor per cluster is an undirected
connected-components problem. The closest reference hook is the redirect
fixpoint (``/root/reference/dbfy.py:108-121`` — also a reachability
computation), but CC is symmetric where redirects are directed.

Algorithm: min-label propagation — every node starts labeled with itself;
each round every node takes the min label over itself and its neighbors;
fixpoint when no label changes. Rounds = graph diameter, which for near-dup
clusters is tiny (near-dup similarity is close to transitive, so components
are dense and shallow). Each round is one shuffle of (node, label) pairs —
the edge set is never re-shuffled (it is checkpointed once and re-joined).
For a pathological high-diameter graph swap in the pointer-doubling step
from ``operators/redirects.py`` (O(log d) rounds); for near-dup clustering
the simple propagation wins because its per-round shuffle is smaller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The simple pagerank formulation truncates rank lineage every this many
# rounds (plan growth per round is linear — one join+union+agg — so a
# few rounds compile fine as one job; unbounded growth would eventually
# make Catalyst analysis itself the bottleneck).
_RANKS_CKPT_EVERY = 8


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 3,
    damping: float = 0.85,
    round_digits: int = 9,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (Pregel-style
    join-aggregate — the canonical iterative graph workload).

    Per iteration: one join of edges against current ranks on ``src`` (edges
    are checkpointed once and never re-shuffled) and one partial-aggregatable
    sum per ``dst`` — so data movement per round is O(edges), the minimum.
    The zero-contribution rows for every node are UNIONED into the aggregate
    (instead of a post-agg left join back to ``nodes``), so each round is a
    single groupBy barrier. Ranks are rounded each iteration so results are
    deterministic across engines and summation orders — the DuckDB oracle
    replays the identical unrolled iterations.

    Two formulations:

    - default (``redistribute_dangling=False``): the simple
      ``rank = (1-d) + d * sum(in_rank / out_degree)`` — dangling (zero
      out-degree) mass is dropped, nodes with no incoming edges settle at
      ``1 - d``.
    - ``redistribute_dangling=True``: the standard definition (what
      NetworkX/GraphFrames compute, up to their normalization): each round
      adds ``d * (sum of dangling ranks) / N`` uniformly to every node, so
      total rank stays ~N. The dangling sum is a 1-row aggregate
      broadcast-crossed into the update — no extra per-round driver action.

    Returns ``(node, rank)`` for every node appearing in any edge.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).localCheckpoint(
        eager=False
    )
    # out-degree attached to the edge set ONCE, outside the loop: each
    # round then needs a single edges-vs-ranks join (ranks is node-sized,
    # AQE broadcasts it into the checkpointed edge layout) instead of the
    # former per-round ranks⋈deg pre-join — one fewer shuffle per
    # iteration. The per-edge arithmetic stays `rank / outdeg`, identical
    # to the oracle's.
    ew = e.join(deg, "src").localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count() if redistribute_dangling else 0
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for it in range(n_iters):
        contrib = (
            ew.join(ranks, ew.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            # zero row per node fused into the SAME aggregate: keeps nodes
            # with no in-edges without a second join barrier after the agg
            .unionByName(nodes.select("node", F.lit(0.0).alias("c")))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        base = F.lit(1.0 - damping) + F.lit(damping) * F.col("s")
        if redistribute_dangling:
            # dangling mass: total rank sitting on zero-out-degree nodes.
            # A 1-row aggregate — broadcast-crossed into the node-wise
            # update, so the plan stays fully lazy and distributed.
            dangling = (
                ranks.join(deg, ranks.node == deg.src, "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
            )
            ranks = contrib.crossJoin(F.broadcast(dangling)).select(
                "node",
                F.round(
                    base + F.lit(damping) * F.col("_dm") / F.lit(float(n_nodes)),
                    round_digits,
                ).alias("rank"),
            )
        else:
            ranks = contrib.select(
                "node", F.round(base, round_digits).alias("rank")
            )
        # Lineage control, not correctness: the simple formulation reads
        # `ranks` ONCE per round, so its plan grows linearly and a handful
        # of rounds compile fine as one codegen'd job — the per-round
        # checkpoint was costing a blocking RDD materialization per
        # iteration (measured: 3-iter sf0.1 run 5.5s with per-round
        # checkpoints, 4.7s checkpointing every _RANKS_CKPT_EVERY rounds;
        # results bit-identical). The dangling variant reads `ranks` twice
        # per round (contrib + dangling mass), so skipping its checkpoint
        # would recompute the whole prefix 2^rounds times — it keeps the
        # per-round truncation.
        if redistribute_dangling or (it + 1) % _RANKS_CKPT_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


# Edge-row bound for the driver-side connected-components gate: at or
# under this many RAW edge rows the whole edge set collects to the driver
# and components come from an exact union-find (min-id representative —
# identical labels to the propagation below). Two longs per edge -> the
# bound caps the collect at 4 MiB of Arrow on the driver by construction.
# The dup-cluster graphs this operator exists for are
# CONTRACTED name/candidate graphs (dedup_fuzzy_clusters: 64 nodes at sf1
# over a bounded vocabulary), where a distributed fixpoint pays ~30 job
# barriers to label a graph that fits in one page — the same byte-gated
# driver-twin posture as kmeans_codebook/_fits_driver. Past the bound the
# small-star + min-label propagation below runs unchanged.
_CC_DRIVER_EDGE_ROWS = 1 << 18

# Node-id domain bound for triangle_count's dense-regime bitset intersects:
# ids in [0, bound) pack into bound/64 longs per node (4096 -> 64 words,
# 512 B/node — broadcast-small at any node count the bound allows).
# Bigger domains take the sparse array_intersect path.
_TRI_DENSE_DOMAIN = 4096


def _cc_union_find(pairs) -> dict[int, int]:
    """Exact driver-side components: min-id-rooted union-find. Returns
    node -> min reachable node id, for every node in any pair."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # smaller id stays the root, so every root IS its component's
            # minimum — the same label min-label propagation converges to
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {n: find(n) for n in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_rounds: int = 32,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the minimum
    node id reachable from it.

    Returns ``(node, label)`` — one row per node that appears in any edge;
    isolated nodes (no edges) are by definition their own singleton
    components and are not emitted (callers union them back if needed).
    ``max_rounds`` bounds divergence on adversarial graphs; propagation
    normally exits at the fixpoint (a round with zero label changes).

    Strategy is DATA-DRIVEN (r14): one bounded ``limit(N+1).toArrow()``
    probe fetches the edge set, and when it fits
    (:data:`_CC_DRIVER_EDGE_ROWS`) the labels come from an exact
    driver-side union-find fed from the probe's Arrow columns — same
    (node, label) rows, ~3 jobs instead of ~30 fixpoint barriers. The probe
    doubles as the data fetch, so the gate costs no extra job; an
    over-limit graph pays one truncated limit-scan and takes the
    distributed path below.

    The call is EAGER: constructing the result (even to ``explain()`` it)
    runs the probe job, which evaluates the upstream of ``edges`` and
    holds up to ``_CC_DRIVER_EDGE_ROWS + 1`` edges (two longs each) in
    driver memory. The driver-path result is an Arrow-built local frame
    (:func:`~wiki_mysql_spark.sources.tables.local_frame`).
    """
    from wiki_mysql_spark.sources.tables import local_frame

    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    spark = edges.sparkSession
    probe = e.limit(_CC_DRIVER_EDGE_ROWS + 1).toArrow()
    if probe.num_rows <= _CC_DRIVER_EDGE_ROWS:
        pairs = probe.drop_null()  # an edge with a null end joins nothing
        labels = _cc_union_find(
            zip(pairs.column("a").to_pylist(), pairs.column("b").to_pylist())
        )
        return local_frame(spark, list(labels.items()), "node long, label long")
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    # One materialization of the (small relative to the corpus) edge set;
    # the contraction below re-joins it without recomputing pair generation.
    sym = sym.localCheckpoint(eager=False)

    # Small-star contraction prepass (the MapReduce CC recipe, Kiveris et
    # al. 2014): point every node at the minimum of itself and its
    # neighbors, then contract edges to that local-minima graph. Dense
    # near-clique components — the shape dup graphs actually have (4.67M
    # edges over 48 components in the sf0.1 fuzzy-name graph) — contract by
    # ~average-degree x, so the propagation rounds below run on a tiny
    # remnant instead of re-shuffling the full edge set per round.
    h = (
        sym.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .select(F.col("a").alias("node"), F.least("a", "mb").alias("hmin"))
        .localCheckpoint(eager=False)  # reused: contraction + final join-back
    )
    csym = (
        sym.join(h.select(F.col("node").alias("a"), F.col("hmin").alias("ha")), "a")
        .join(h.select(F.col("node").alias("b"), F.col("hmin").alias("hb")), "b")
        .where(F.col("ha") != F.col("hb"))
        .select(F.col("ha").alias("a"), F.col("hb").alias("b"))
    )
    csym = (
        csym.unionByName(csym.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    labels = (
        csym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    changed = -1
    for _ in range(max_rounds):
        neigh = csym.join(labels, csym.b == labels.node).select(
            F.col("a").alias("node"), "label", F.lit(False).alias("_own")
        )
        # The fixpoint probe is FUSED into the label aggregation: each node
        # has exactly one _own row (its previous label), so min(label) over
        # all rows is the new label and min(label) over _own rows the old —
        # the former separate new-vs-old node-scale join (two exchanges per
        # round) becomes a filter-count over the checkpointed aggregate,
        # for the price of one boolean riding the existing shuffle.
        st = (
            labels.select("node", "label", F.lit(True).alias("_own"))
            .unionByName(neigh)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("_own"), F.col("label"))).alias("_old"),
            )
            # lazy: the `changed` count below is the materializing action
            .localCheckpoint(eager=False)
        )
        changed = st.where(F.col("label") < F.col("_old")).count()
        labels = st.select("node", "label")
        if changed == 0:
            break
    if changed != 0:
        # returning here would hand the caller silently-WRONG labels (one
        # hop per round short of the true minimum) — a path-graph component
        # of diameter > max_rounds on the CONTRACTED graph hits this. Loud
        # failure over silent divergence: the oracle-checked callers
        # (dedup_fuzzy_clusters, dedup_minhash_components) compute exact
        # components on their side, so an unconverged propagation here is a
        # correctness bug, not a tolerable approximation.
        raise RuntimeError(
            f"connected_components: min-label propagation did not converge "
            f"within max_rounds={max_rounds} (last round still changed "
            f"{changed} labels); raise max_rounds — rounds needed scale "
            f"with the contracted graph's diameter"
        )
    # un-contract: every original node inherits its local minimum's
    # component label; a component fully swallowed by contraction (no
    # surviving contracted edge) keeps the local minimum itself
    return h.join(
        labels.select(F.col("node").alias("hmin"), "label"), "hmin", "left"
    ).select("node", F.coalesce("label", F.col("hmin")).alias("label"))


def triangle_count(edges: DataFrame, *, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact global triangle count via degree-ordered orientation — the
    standard distributed formulation (Suri & Vassilvitskii's MR algorithm;
    public literature).

    Each undirected edge is oriented from its lower-(degree, id) endpoint to
    the higher one, making the oriented graph acyclic with per-node
    out-degree O(sqrt(m)) on any graph — which bounds the wedge (2-path)
    explosion that a naive join-on-shared-endpoint suffers on skewed
    degrees: hub nodes become wedge SINKS, not wedge centers. Triangles are
    then wedges (a->b, a->c) closed by an oriented edge (b->c); each
    triangle is counted exactly once.

    Plan ("compact-forward" spelling): degree agg (one shuffle),
    orientation (map-side), out-adjacency lists (one shuffle), then each
    oriented edge (u,v) joins its endpoints' lists and counts
    ``|N+(u) ∩ N+(v)|`` with a native ``array_intersect`` inside codegen.
    The wedge set — sum(out_deg^2), the O(m^1.5) term — is never
    materialized as rows or shuffled: the same intersections happen
    array-at-a-time inside each task (measured 47s -> 14s cold / ~5s warm
    at sf0.1, where the co-supply graph is near-complete and the row-form
    wedge join pushed 166M rows through an exchange). Shuffled volume is
    O(m) edge
    rows + adjacency arrays totaling m entries, each array bounded
    O(sqrt(m)) by the orientation. Never touches |V|^2 or unoriented
    wedge counts.

    Returns a single row ``(n_nodes, n_edges, n_triangles)`` where
    ``n_edges`` counts undirected edges after dedup/self-loop removal.

    DENSE-regime intersects (r14): when every node id sits in
    ``[0, _TRI_DENSE_DOMAIN)`` (one tiny min/max probe over the
    node-count-sized degree frame), each node's oriented out-neighborhood
    is packed into a W-word bitset (one ``bit_or`` aggregate per word —
    O(m) build, partial-aggregatable) and the per-edge intersection is
    ``Σ bit_count(w_u & w_v)`` over W word pairs instead of an
    ``array_intersect`` hash probe over O(out_deg) elements. On the
    near-complete co-supply graph (out-degree ≈ n/2) that is a measured
    3.7x on the intersect stage with the identical count; on a SPARSE
    small-domain graph it does W word-ops per edge instead of O(deg) —
    bounded by the same small W, never catastrophic. Graphs with ids
    outside the bound (or negative) take the unchanged sparse
    array_intersect path, which stays the 100 TB posture — a bitset over
    an unbounded id domain would explode.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        # checkpointed: the dense-gate probe materializes it once and the
        # two orientation joins below reuse it
        .localCheckpoint(eager=False)
    )
    # dense-regime gate: min/max over the node-count-sized degree frame —
    # work the orientation joins needed anyway, just materialized early.
    # Only integral node ids qualify (the bitset packs ids as bit
    # positions); string/decimal-keyed graphs keep the sparse path the
    # operator always supported.
    integral = dict(e.dtypes)["a"] in ("tinyint", "smallint", "int", "bigint")
    st = deg.agg(F.min("node").alias("mn"), F.max("node").alias("mx")).collect()[0]
    dense = (
        integral
        and st["mn"] is not None
        and int(st["mn"]) >= 0
        and int(st["mx"]) < _TRI_DENSE_DOMAIN
    )
    # orient: lower (deg, node) -> higher (deg, node); total order, so the
    # oriented graph is a DAG and every triangle has exactly one wedge form
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    keyed = e.join(da, "a").join(db, "b")
    fwd = F.struct("da", "a") < F.struct("db", "b")
    oriented = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"),
    ).localCheckpoint(eager=False)
    # every triangle x->y, x->z, y->z is counted exactly once: at edge
    # (x,y), as z in N+(x) ∩ N+(y). hi-side left join: pure sinks have no
    # out-neighbors and contribute 0. The probe side is explicitly
    # repartitioned wide: the intersect stage is compute-bound but
    # byte-small, so AQE would coalesce it onto a few tasks and strand the
    # rest of the cluster (observed 3 tasks on 32 cores).
    spark = edges.sparkSession
    n_part = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        spark.sparkContext.defaultParallelism,
        1,
    )
    if dense:
        # expressions rendered as SQL strings parsed by one F.expr each —
        # the r13 literal-tree lesson: per-word Column building via py4j
        # (16 agg columns + lambda variables) costs more driver wall than
        # the stage it plans
        n_words = (int(st["mx"]) >> 6) + 1
        word_aggs = [
            F.expr(
                f"bit_or(CASE WHEN hi DIV 64 = {w} "
                f"THEN shiftleft(1L, CAST(hi % 64 AS INT)) ELSE 0L END)"
            ).alias(f"w{w}")
            for w in range(n_words)
        ]
        bits = (
            oriented.groupBy(F.col("lo").alias("node"))
            .agg(*word_aggs)
            .select(
                "node", F.array(*[f"w{w}" for w in range(n_words)]).alias("bits")
            )
            .localCheckpoint(eager=False)  # built once, probed by both joins
        )
        bits_u = bits.select(F.col("node").alias("lo"), F.col("bits").alias("bits_u"))
        bits_v = bits.select(F.col("node").alias("hi"), F.col("bits").alias("bits_v"))
        per_edge = (
            oriented.repartition(n_part)
            .join(bits_u, "lo")
            .join(bits_v, "hi", "left")
            .select(
                F.expr(
                    "CASE WHEN bits_v IS NULL THEN 0L ELSE "
                    "aggregate(zip_with(bits_u, bits_v, "
                    "(x, y) -> CAST(bit_count(x & y) AS LONG)), "
                    "0L, (acc, x) -> acc + x) END"
                ).alias("k")
            )
        )
    else:
        adj = (
            oriented.groupBy(F.col("lo").alias("node"))
            .agg(F.sort_array(F.collect_list("hi")).alias("nbrs"))
            .localCheckpoint(eager=False)  # built once, probed by both joins
        )
        adj_u = adj.select(F.col("node").alias("lo"), F.col("nbrs").alias("nbrs_u"))
        adj_v = adj.select(F.col("node").alias("hi"), F.col("nbrs").alias("nbrs_v"))
        per_edge = (
            oriented.repartition(n_part)
            .join(adj_u, "lo")
            .join(adj_v, "hi", "left")
            .select(
                F.when(F.col("nbrs_v").isNull(), F.lit(0))
                .otherwise(F.size(F.array_intersect("nbrs_u", "nbrs_v")))
                .alias("k")
            )
        )
    return (
        per_edge.agg(
            F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("n_triangles")
        )
        .crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
        .select("n_nodes", "n_edges", "n_triangles")
    )
