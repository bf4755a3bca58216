"""Distributed connected components (large-star / small-star contraction).

Groups near-duplicate PAIRS into duplicate CLUSTERS — the missing step
between pair generation (operators/dedup.py: MinHash LSH / Jaccard /
SimHash emit edges) and the actual dedup decision a training-data pipeline
makes (keep one canonical document per cluster). Duplicate similarity is
not transitive, but dedup policy treats it as if it were: A~B and B~C
means A, B, C are one cluster even when A≁C — exactly a connected-
components problem on the pair graph.

Algorithm: alternating large-star/small-star edge contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC 2014 — public
literature), chosen over plain min-label propagation because its round
count is O(log² n) regardless of graph shape, while label propagation
needs DIAMETER rounds — and near-dup graphs contain long transitive
chains (v1~v2~…~vk from gradually-drifting documents) that would turn a
100 TB run into thousands of rounds.

Spark mapping: pure DataFrame ops. Each half-round is one groupBy (min
neighbor per center node) + one join back to the symmetrized edge list —
both shuffle on the node key, partial aggregation map-side, no
driver-side graph state, no RDDs. The edge set is ``localCheckpoint``-ed
every round to truncate the exponentially-growing iterative lineage (the
classic iterative-algorithm pitfall in Spark), and the loop early-exits
on a cheap count+hash fixpoint probe (one tiny aggregate per round — the
only driver round-trip, O(1) rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _normalize(edges: DataFrame) -> DataFrame:
    """Undirected edge canonical form: (a = max endpoint, b = min), no
    self-loops, no nulls, no duplicates."""
    return (
        edges.filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .select(
            F.greatest(F.col("a"), F.col("b")).alias("a"),
            F.least(F.col("a"), F.col("b")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _half_star(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (connect bigger neighbors to the center's min) or
    small-star (connect smaller neighbors to the center's min) pass.

    Every node also keeps its own edge to its local minimum, which only ever
    adds intra-component edges (m ∈ N(u) ∪ {u} is in u's component by
    construction), so components are preserved exactly while convergence to
    the star form proceeds.
    """
    from pyspark.sql import Window

    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # per-center min via a partition-only window: one shuffle on the center
    # key computes m for every neighbor row in place — no separate aggregate
    # + join back (half the shuffles of the groupBy formulation)
    m = F.least(F.min("b").over(Window.partitionBy("a")), F.col("a"))
    j = sym.withColumn("m", m)
    keep = F.col("b") > F.col("a") if large else F.col("b") < F.col("a")
    moved = j.filter(keep).select(F.col("b").alias("a"), F.col("m").alias("b"))
    center = j.select("a", F.col("m").alias("b"))
    return _normalize(moved.union(center))


def _driver_union_find(cur: DataFrame) -> DataFrame:
    """Exact union-find over a driver-bounded, already-deduplicated edge
    list. Returns the same (node, component=min member) contract as the
    distributed loop."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in cur.toLocalIterator():
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict = {}
    for node in list(parent.keys()):
        root = find(node)
        comp_min[root] = min(comp_min.get(root, root), node)
    data = [(node, comp_min.get(find(node), find(node))) for node in parent]
    # include roots themselves
    roots = {find(n) for n in parent}
    data += [(r, comp_min.get(r, r)) for r in roots if r not in parent]
    t = dict(cur.dtypes)["a"]
    return cur.sparkSession.createDataFrame(
        sorted(data), schema=f"node {t}, component {t}"
    )


# Above this many deduplicated edges the component computation stays fully
# distributed; below it, the edge list is union-found on the driver in one
# pass. The gate is sized where the driver path actually wins: the
# single-threaded Python union-find costs ~1 µs/edge plus toLocalIterator
# streaming, so 200k edges is well under one distributed round's scheduling
# cost (~0.5-1 s) while millions of edges would NOT be — a near-threshold
# graph must not trade 3-4 parallel rounds for tens of seconds of serial
# driver work. Dup graphs are edge-sparse relative to the corpus, so real
# workloads land far below the gate. The count() that prices the gate is a
# job, but over partitions the eager checkpoint already materialized.
SMALL_GRAPH_EDGE_LIMIT = 200_000

# Iterative-graph broadcast gates (round-4 perf work). The per-round tables
# of the iterative family (rank vector, BFS frontier, list-rank jump table,
# triangle closing-edge set) come out of localCheckpoint, whose RDD scan
# carries NO size statistics — AQE therefore never converts the per-round
# joins to broadcast and every round pays an exchange + sort of the LARGE
# operand (measured: the 1.17M-edge trade graph re-sorted 5× per PageRank).
# Since the driver already knows the relevant count (node count / edge
# count), gate an explicit broadcast hint on it: under the limit the round
# becomes a map-only broadcast join against the big table's materialized
# partitions; over it the SMJ path stands (a 100 TB rank vector or edge
# set must never be broadcast). Limits sized for executor memory: a rank
# row is two longs (~16 B payload, ~48 B in a broadcast HashedRelation) →
# 2M rows ≈ 100 MB, and at most ~3-4 such broadcasts are live inside any
# one round's job (rank vector, message vector, degree table / wedge
# probe) → ≤400 MB executor overhead, safe for a 4 GB executor.
BROADCAST_NODE_LIMIT = 2_000_000
BROADCAST_EDGE_LIMIT = 2_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    small_graph_limit: int | None = None,
) -> DataFrame:
    """Connected components of an undirected graph given as an edge list.

    Returns ``(node, component)`` where ``component`` is the smallest node
    id in the node's component. Nodes that appear in no edge are absent
    (a singleton is its own component — join the node universe back and
    ``coalesce(component, node)``, as :func:`dedup_clusters` does).

    Physical strategy is size-gated, the same shape as AQE's runtime join
    re-plan: the normalized edge list is already materialized by the eager
    checkpoint, so its count is cheap — integer-keyed graphs under
    ``SMALL_GRAPH_EDGE_LIMIT`` edges take one exact driver union-find pass
    (a dup graph's edge set is tiny relative to the corpus; ~10 scheduling
    round-trips of the distributed loop cost far more), and everything
    larger runs the large-star/small-star contraction, which converges in
    O(log² n) rounds regardless of component diameter.

    ``max_iter`` is a safety bound, not the expected round count: the
    alternation reaches the star fixpoint in O(log² n) rounds (2-4 in
    practice for dedup graphs) and the loop exits as soon as the edge set
    stops changing.
    """
    cur = _normalize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    ).localCheckpoint()
    limit = SMALL_GRAPH_EDGE_LIMIT if small_graph_limit is None else small_graph_limit
    int_keyed = dict(cur.dtypes)["a"] in ("tinyint", "smallint", "int", "bigint")
    if int_keyed and cur.count() <= limit:
        return _driver_union_find(cur)
    prev_sig = None
    for _ in range(max_iter):
        cur = _half_star(cur, large=True)
        cur = _half_star(cur, large=False).localCheckpoint()
        row = cur.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulate: ANSI-safe (no long overflow), order-free
            F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).first()
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    sym = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return sym.groupBy("a").agg(F.min("b").alias("mn")).select(
        F.col("a").alias("node"), F.least(F.col("a"), F.col("mn")).alias("component")
    )


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Cluster near-dup pairs and pick one canonical doc per cluster.

    ``pairs`` is any (id_a, id_b) near-dup pair output (jaccard_pairs,
    minhash_lsh_pairs, simhash_pairs, embedding_dup_pairs). Returns every
    document with its cluster id (the cluster's smallest doc id) and an
    ``is_canonical`` keep/drop flag — the dedup decision a training
    pipeline applies downstream. Singletons are their own cluster. The
    node→component map is a few rows per duplicate cluster — broadcast-
    sized relative to the corpus — but we leave join strategy to Catalyst
    (AQE converts to broadcast when the map is small).
    """
    cc = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return (
        docs.select(id_col)
        .join(cc, F.col(id_col) == F.col("node"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component_id"),
        )
        .withColumn("is_canonical", F.col("component_id") == F.col(id_col))
    )


def count_triangles(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Distributed triangle counting with DEGREE orientation (Suri &
    Vassilvitskii, "Counting Triangles and the Curse of the Last Reducer",
    WWW 2011 — public literature).

    ``edges`` is an undirected, duplicate-free edge list (one row per
    unordered pair). Every edge is oriented toward its higher-(degree, id)
    endpoint, bounding each vertex's out-degree by O(√m); the wedge
    self-join therefore cannot explode on a hub vertex, where natural id
    orientation is O(hub-degree²). Each triangle is counted exactly once —
    at its unique orientation-source vertex (the (deg,id) total order
    makes every triangle's orientation acyclic) — so the total is
    orientation-invariant and an id-oriented SQL twin still matches.

    Returns a 1-row DataFrame (n_edges, n_triangles).
    """
    und = edges.select(
        F.col(a_col).alias("__a"), F.col(b_col).alias("__b")
    ).localCheckpoint()
    # driver-known edge count gates the broadcast hints below (the same
    # no-stats-after-checkpoint problem the PageRank loop has); it also
    # feeds the n_edges output for free
    m = und.count()
    small = m <= BROADCAST_EDGE_LIMIT
    deg = (
        und.select(F.col("__a").alias("v"))
        .union(und.select("__b"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # the degree table is O(V) ≤ O(m) rows — under the gate, annotate both
    # endpoints with map-only broadcast joins instead of two SMJ exchanges
    def _maybe_bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    e = (
        und.join(
            _maybe_bcast(deg.select(F.col("v").alias("__a"), F.col("d").alias("da"))),
            "__a",
        )
        .join(
            _maybe_bcast(deg.select(F.col("v").alias("__b"), F.col("d").alias("db"))),
            "__b",
        )
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("__a") < F.col("__b"))),
                F.struct(F.col("__a").alias("src"), F.col("__b").alias("dst")),
            )
            .otherwise(F.struct(F.col("__b").alias("src"), F.col("__a").alias("dst")))
            .alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint()
    )
    w1 = e.select(F.col("src").alias("v"), F.col("dst").alias("x"))
    w2 = e.select(F.col("src").alias("v"), F.col("dst").alias("y"))
    # the wedge self-join's build side is the m oriented edges (not the
    # wedge output) — under the gate, broadcasting it makes wedge
    # GENERATION map-only too: without the hint the stats-less checkpoint
    # scans force an SMJ with two m-row exchanges + sorts
    wedges = w1.join(_maybe_bcast(w2), "v").where(F.col("x") < F.col("y"))
    closing = e.select(
        F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
    )
    # the wedge set is the LARGE side (Σ outdeg² — up to m^1.5 rows under
    # degree orientation); under the gate, probing it against a broadcast
    # of the m closing edges keeps the wedges un-exchanged and un-sorted,
    # which is the dominant cost of the SMJ formulation
    tri = wedges.join(_maybe_bcast(closing), ["x", "y"])
    # m is driver-known (it gated the broadcasts), so n_edges is a literal —
    # no 1-row count-join appendage
    return tri.agg(F.count(F.lit(1)).alias("n_triangles")).select(
        F.lit(m).cast("bigint").alias("n_edges"), "n_triangles"
    )


def pagerank_integer(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    scale: int = 10**12,
    damping_pct: int = 85,
    weight_col: str | None = None,
    materialized: bool = False,
    symmetric: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank in INTEGER micro-unit arithmetic.

    Classic power iteration (Brin & Page 1998; the Pregel showcase
    algorithm), re-expressed as DataFrame joins with one deliberate twist:
    every rank is a 64-bit integer count of ``1/scale`` units and every
    step uses integer floor division, so the result is EXACTLY
    order-independent — floating-point PageRank sums incoming
    contributions in nondeterministic shuffle order and differs in ulps
    across engines/partitionings, which would make a value-level oracle
    impossible. Integer ranks make the whole fixpoint bitwise-reproducible
    (same trick as the curation score's ppm units).

    Update rule per iteration (d = damping_pct/100, n = node count)::

        contrib(v) = rank(v) div outdeg(v)          -- per out-edge
        rank'(u)   = (100-d%)*(scale div n) div 100
                   + d% * sum(contrib over in-edges) div 100

    Dangling nodes (no out-edges) leak their damped mass rather than
    redistributing it — the simplest standard variant; both engines apply
    the identical rule so the oracle stays exact.

    Scale: the raw edge list is localCheckpoint-ed once (the upstream
    edge build runs exactly once; every later step reads materialized
    blocks). The degree-annotated loop operand then has two shapes, gated
    on the driver-known node count: under ``BROADCAST_NODE_LIMIT`` the
    O(V) degree table is broadcast-joined onto the raw edges lazily — no
    second m-row materialization, no m-row shuffle anywhere, each round is
    map-only up to the small dst aggregate, with the rank vector also
    broadcast into its join (checkpoint scans carry no stats, so AQE alone
    would sort-merge the full edge list EVERY round); over the limit, one
    partition-window shuffle on ``src`` materializes the annotated edges
    and the rounds run shuffled joins against it (a 100 TB message vector
    must never be broadcast). Each iteration is one LEFT equi-join (edges
    × previous round's message vector on src — the rank is re-derived
    from the message by expression, so the rank vector itself never
    materializes mid-loop) plus one hash aggregate on dst with map-side
    partial sums — the Pregel message-combine pattern. No driver-side
    state beyond the iteration counter and node count, no collect. O(E)
    per iteration, ``iterations`` rounds.

    Returns (node, rank) with ``rank`` in integer micro-units of
    ``1/scale``; sum over all nodes ≤ scale (leakage from dangling nodes).

    ``weight_col`` (positive integer edge weights) generalizes the update
    to contrib(e) = rank(src)·w(e) div Σw(src) — mass splits
    proportionally to weight, still floor-per-edge so the weighted
    fixpoint stays bitwise. The unweighted path IS the w=1 special case
    (rank·1 div count ≡ rank div deg), so one code path serves both.
    """
    from pyspark.sql import Window

    e = edges.select(
        F.col(src_col).alias("__src"),
        F.col(dst_col).alias("__dst"),
        (F.col(weight_col).cast("long") if weight_col else F.lit(1)).alias("__w"),
    )
    # the (possibly expensive) upstream edge build runs exactly once into
    # this checkpoint; nodes, the degree table, and every loop round read
    # its materialized blocks instead of re-running the build (the old
    # groupBy-era shape re-derived it 3×: nodes / outdeg / join probe).
    # ``materialized=True`` means the caller already checkpointed the edge
    # list (or a compact generator over one, e.g. a lazy symmetric swap of
    # checkpointed directed pairs) — re-materializing would double the
    # stored bytes for nothing.
    e_ck = e if materialized else e.localCheckpoint()
    # ``symmetric=True``: the caller asserts every node appears as a source
    # (e.g. a bidirectional edge list) — the node set is then exactly the
    # degree table's key set, so the O(V) deg checkpoint doubles as the
    # node table and the 2·m-row union-distinct (+ its checkpoint + count
    # job) disappears entirely.
    def _deg_ck() -> DataFrame:
        return (
            e_ck.groupBy("__src").agg(F.sum("__w").alias("__deg")).localCheckpoint()
        )

    deg = _deg_ck() if symmetric else None
    if symmetric:
        nodes = deg.select(F.col("__src").alias("__node"))
        n = deg.count()
    else:
        nodes = (
            e_ck.select(F.col("__src").alias("__node"))
            .union(e_ck.select("__dst"))
            .distinct()
            .localCheckpoint()
        )
        n = nodes.count()
    # rank/inc vectors are O(V) rows out of localCheckpoint (no stats → AQE
    # can't pick broadcast); hint it ourselves while V fits executor memory
    small = n <= BROADCAST_NODE_LIMIT
    if small:
        # lazy degree decoration: the O(V) degree table (checkpointed — one
        # tiny eager job, so each round's broadcast build reads V rows, not
        # an m-row re-aggregation) is broadcast-joined onto the raw-edge
        # blocks. No second m-row materialization and no m-row shuffle at
        # all on this path — each round re-scans e_ck and hash-probes deg.
        e_deg = e_ck.join(F.broadcast(deg if deg is not None else _deg_ck()), "__src")
    else:
        # scale path: ONE partition-window shuffle annotates the degree and
        # materializes the loop operand once — per-round cost is then a
        # pure scan (a lazy non-broadcast degree join would pay the m-row
        # shuffle again every round)
        e_deg = e_ck.withColumn(
            "__deg", F.sum("__w").over(Window.partitionBy("__src"))
        ).localCheckpoint()
    if n == 0:
        # empty graph (a filter matched nothing): ranks of nothing is an
        # empty table, not a ZeroDivisionError in scale div n below
        return nodes.select(
            F.col("__node").alias("node"),
            F.lit(None).cast("long").alias("rank"),
        ).limit(0)
    base_val = (100 - damping_pct) * (scale // n) // 100  # driver-side int

    # The loop variable is the MESSAGE vector (summed in-contributions per
    # dst), not the rank vector: rank(v) is everywhere derivable as
    # base + d%·coalesce(inc(v), 0) div 100, so folding that expression
    # into the next round's contribution makes each round ONE join (edges ×
    # previous messages, LEFT so sources with no in-edges contribute at
    # base rank) + ONE map-side-combined aggregate — half the serialized
    # broadcast-build/job chain of the rank-vector formulation, and the
    # O(V) node table is joined exactly once, at the end. Round 1's rank is
    # the constant scale div n and needs no join at all.
    #
    # The contribution expression is written as
    #   (rank div deg)*w + ((rank % deg)*w) div deg
    # — identical to (rank*w) div deg for non-negative ints (rank = q·deg+r
    # ⇒ rank·w div deg = q·w + r·w div deg) but without the rank·w product,
    # which exceeds int64 once w > ~9.2e6: Spark would wrap silently (ANSI
    # off) while the oracle's int128 arithmetic stays exact. The residual
    # r·w term keeps the result exact while w·Σw per source is below 2^63
    # (w ≤ Σw, far past any realistic weight mass); the oracle needs no
    # change because the decomposition is value-identical.
    rank_sql = f"{scale // n}L"
    inc = None
    for _ in range(iterations):
        if inc is None:
            joined = e_deg
        else:
            msg = F.broadcast(inc) if small else inc
            joined = e_deg.join(msg, e_deg["__src"] == msg["__dst_k"], "left")
        inc = (
            joined.select(
                F.col("__dst"),
                F.expr(
                    f"(({rank_sql}) div __deg) * __w"
                    f" + ((({rank_sql}) % __deg) * __w) div __deg"
                ).alias("__contrib"),
            )
            .groupBy("__dst")
            .agg(F.sum("__contrib").alias("__inc"))
            .select(F.col("__dst").alias("__dst_k"), "__inc")
        )
        if not small:
            # big-graph path: truncate lineage so a task failure late in
            # the fixpoint recomputes one round, not the whole chain (the
            # Pregel periodic-checkpoint discipline). The small path skips
            # this — each round references the previous exactly once, so
            # the whole loop is ONE linear query with no per-round job
            # barrier.
            inc = inc.localCheckpoint()
        rank_sql = f"({base_val}L + ({damping_pct} * coalesce(__inc, 0L)) div 100)"
    msg = F.broadcast(inc) if small else inc
    ranks = nodes.join(msg, nodes["__node"] == msg["__dst_k"], "left").select(
        "__node",
        F.expr(
            f"{base_val}L + ({damping_pct} * coalesce(__inc, 0L)) div 100"
        ).alias("__rank"),
    )
    return ranks.select(F.col("__node").alias("node"), F.col("__rank").alias("rank"))


def bellman_ford(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
    dist: str = "dist",
    max_frontier: int | None = None,
) -> DataFrame:
    """Bounded-round Bellman-Ford: minimum total ``weight`` from the seed
    set to every node reachable in ≤ ``rounds`` edges (min-plus relaxation).
    Dijkstra's priority queue is inherently sequential driver state; BF's
    per-round "relax every edge, min-combine per node" is one equi-join +
    one map-side-combined hash aggregate — the Pregel message-combine
    shape. Used by queries.py::q_shortest_path_weighted; bfs_reach is the
    unweighted (w=1, hop-count) special case of this relaxation.

    Each round's frontier is min-reduced BEFORE the next join (a round
    never fans out more than one candidate per node), and the result is
    the min over the per-round unions — for non-negative weights exactly
    the ≤rounds-edge shortest distance. Integer weights make every step
    order-independent, so results are bitwise-reproducible across
    partitionings.

    Scale: O(E) join + agg per round; the frontier broadcasts below
    ``BROADCAST_NODE_LIMIT`` (the edge list never shuffles) and falls back
    to the shuffle path above it, per round — the same driver-known-count
    gating as the other iterative operators. The gate is an eager
    ``count()`` driver job per round; a caller who can bound the frontier
    (frontier size never exceeds reachable nodes ≤ |V|) passes
    ``max_frontier=|V|`` to skip those per-round jobs entirely — the same
    caller-known-bound contract as pagerank_integer's ``symmetric``/
    ``materialized`` hints. Hub-safe: a 500k-degree hub relaxes through
    the hash aggregate's map-side combine, never through one task
    (skew_probe.py measures this flat). Seeds and per-round frontiers are
    localCheckpoint-ed; callers pass ``edges`` already materialized (every
    round re-scans it).
    """
    # caller-known bound: decide broadcast once, with zero driver jobs
    always_broadcast = max_frontier is not None and max_frontier <= BROADCAST_NODE_LIMIT
    never_broadcast = max_frontier is not None and not always_broadcast
    levels = [
        seeds.select(
            F.col(node).alias("__node"), F.col(dist).cast("long").alias("__dist")
        ).localCheckpoint()
    ]
    for _ in range(rounds):
        prev = levels[-1]
        if always_broadcast:
            frontier = F.broadcast(prev)
        elif never_broadcast:
            frontier = prev
        else:
            frontier = (
                F.broadcast(prev) if prev.count() <= BROADCAST_NODE_LIMIT else prev
            )
        levels.append(
            edges.join(frontier, edges[src] == frontier["__node"])
            .select(
                edges[dst].alias("__node"),
                (F.col("__dist") + F.col(weight).cast("long")).alias("__dist"),
            )
            .groupBy("__node")
            .agg(F.min("__dist").alias("__dist"))
            .localCheckpoint()
        )
    best = levels[0]
    for lv in levels[1:]:
        best = best.union(lv)
    return (
        best.groupBy("__node")
        .agg(F.min("__dist").cast("bigint").alias(dist))
        .select(F.col("__node").alias(node), dist)
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    label: str = "label",
    num_nodes: int | None = None,
) -> DataFrame:
    """Fixed-round synchronous label propagation (Raghavan, Albert &
    Kumara 2007) — the near-linear community-detection primitive that
    completes the graph family: components answer "connected at all?",
    PageRank "how central?", LPA "which cluster?" (source/community
    discovery for corpus curation, spam-farm detection, entity grouping).

    Update rule, fully deterministic: every node starts labeled with its
    own id; each round EVERY node simultaneously adopts the label with
    the highest count among its in-neighbors' current labels, ties broken
    by the SMALLEST label. Fixed ``rounds`` unrolls (no convergence
    probe), so the oracle is the same rounds as chained SQL CTEs —
    bitwise equality on integer labels, no float, no randomized tie
    break (classic LPA breaks ties uniformly at random; min-label is the
    standard derandomization and what makes a value oracle possible).

    Requires a SYMMETRIC edge list in which every node appears as a
    source (the bidirectional-union contract of ``_trade_edges`` /
    ``pagerank_integer(symmetric=True)``): the initial label table is
    then exactly the distinct sources, and every node receives ≥1
    message per round, so no keep-own-label fallback join is needed.
    ``rounds=0`` returns the identity labeling.

    Scale: each round is ONE equi-join (edges × the O(V) label vector —
    broadcast below ``BROADCAST_NODE_LIMIT``, shuffle path above it; a
    100 TB label vector must never be broadcast) plus ONE map-side-
    combined aggregate: ``mode(label, deterministic=true)`` per node —
    the deterministic mode's greatest-frequency-then-LOWEST-value rule
    IS the min-label tie-break, verified value-identical to the former
    two-aggregate form (count per (node, label), then argmax as
    ``max(struct(count, -label))``), which paid a second exchange per
    round. Mode is a TypedImperativeAggregate with partial merge, so a
    celebrity node's million incoming messages still combine map-side
    (per-partition label→count maps) instead of funneling through one
    task, and the shuffle carries the same distinct-(node, label)
    entries the old partial counts did. O(E) per round, no driver
    state beyond the round counter; per-round localCheckpoint
    truncates lineage (the Pregel periodic-checkpoint discipline).
    Callers pass ``edges`` already materialized (every round re-scans
    it); ``num_nodes`` skips the one gating count job when the caller
    knows the bound.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    # Contract (documented above, deliberately unenforced): edges must be
    # symmetric so distinct(src) covers every node. Enforcement would cost
    # a full anti-join pass per call; a non-symmetric caller instead sees
    # sink-only nodes silently absent from the labeling — seed from
    # distinct(src) ∪ distinct(dst) with a keep-own-label left join if you
    # ever need the asymmetric form.
    labels = (
        edges.select(F.col(src).alias("__node"))
        .distinct()
        .select("__node", F.col("__node").alias("__label"))
        .localCheckpoint()
    )
    if rounds == 0:
        return labels.select(
            F.col("__node").alias(node), F.col("__label").alias(label)
        )
    n = num_nodes if num_nodes is not None else labels.count()
    small = n <= BROADCAST_NODE_LIMIT
    for _ in range(rounds):
        vec = F.broadcast(labels) if small else labels
        labels = (
            edges.join(vec, edges[src] == vec["__node"])
            .select(edges[dst].alias("__node"), "__label")
            # argmax by (count desc, label asc) in ONE aggregate:
            # deterministic mode returns the most frequent value, ties to
            # the LOWEST — exactly the min-label rule the oracle's
            # ROW_NUMBER pins. (Message labels are never NULL: they come
            # from the equi-join's matched label vector, so mode's
            # NULL-ignoring clause is never exercised.)
            .groupBy("__node")
            .agg(F.mode("__label", True).alias("__label"))
        )
        if not small:
            # big-graph path: truncate lineage so a late task failure
            # recomputes one round, not the whole chain. The small path
            # skips this — each round's broadcast subtree nests exactly
            # once inside the next, so the loop executes as ONE linear
            # query with no per-round job barrier or materialization
            # (the pagerank_integer small-path discipline).
            labels = labels.localCheckpoint()
    return labels.select(F.col("__node").alias(node), F.col("__label").alias(label))


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    num_nodes: int | None = None,
) -> DataFrame:
    """Fixed-round k-core peeling (Matula & Beck 1983; the Seidman 1983
    k-core) — the density primitive the graph family's other questions
    don't answer: components say "connected at all?", PageRank "how
    central?", LPA "which cluster?", the k-core "how DENSE is the
    neighborhood a node sits in?". Training-data curation uses it to
    separate the densely cross-linked head of a source/entity graph
    (mutually-reinforcing content farms, core marketplaces) from the
    sparse periphery.

    Synchronous peeling, fully deterministic: round r removes EVERY
    surviving node whose degree in the current surviving subgraph is
    < k (simultaneously — no within-round cascade), then restricts the
    edge list to survivors. Always exactly ``rounds`` rounds (no
    convergence probe), so the oracle is the same rounds unrolled as
    chained SQL CTEs — exact integer equality; a data-dependent round
    count is one a static SQL oracle cannot unroll. With enough rounds
    this converges to the true k-core; a fixed budget yields the standard
    bounded-iteration approximation from the outside in (every removed
    node is provably outside the k-core; survivors are "not yet
    peeled").

    Returns one row per node: (node, peeled_round, degree) where
    peeled_round = r ≥ 1 when the node fell in round r (degree = its
    degree in the round-(r-1) surviving subgraph, the value that killed
    it) and peeled_round = 0 for survivors (degree = their degree at the
    final evaluation). ``edges`` must be symmetric — every edge listed
    in both directions, so every node appears as a source (the
    ``_trade_edges`` / ``label_propagation`` contract; mirrors
    ``pagerank_integer(symmetric=True)``) — which lets round 1's degree
    keys double as the node table. A node that appears only as a
    destination is absent from the output. Callers pass ``edges``
    already materialized.

    Scale: each round is ONE map-side-combined hash aggregate (degree by
    src over the surviving edge list) plus TWO left-semi equi-joins
    restricting the edges to survivors — the survivor set is O(V) and
    broadcasts under ``BROADCAST_NODE_LIMIT`` (a 100 TB node vector must
    never be broadcast; over the limit the semi-joins shuffle on the
    node key). The peeled-rows output unions ``rounds`` small frames —
    a lazy union of already-computed subtrees, no extra pass. O(E) per
    round, no driver state beyond the round counter; the surviving edge
    list localCheckpoints each round on the big-graph path to truncate
    iterative lineage (small path stays one linear broadcast plan, the
    pagerank_integer discipline).
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    cur = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    peeled = []
    evaluated = None
    alive = None
    for r in range(1, rounds + 1):
        deg = cur.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
        # checkpoint the O(V) evaluation — THREE consumers read it (the
        # peeled branch, the survivor branch feeding both semi-joins, and
        # the final-round union), so without materialization each union
        # branch would replay every prior round's degree aggregate and
        # the plan grows O(rounds²) in shuffles (observed: 141 exchanges
        # at rounds=3 lazy vs ~a dozen materialized)
        if r == 1:
            # under the symmetric contract every node appears as a source
            # with >= 1 edge, so round 1's degree keys ARE the node set —
            # the deg aggregate doubles as the node table (the
            # pagerank_integer symmetric=True trick), saving a separate
            # O(E) distinct + checkpoint + count over the full edge list
            evaluated = deg.select(
                F.col("__s").alias("node"), F.col("__deg").alias("degree")
            ).localCheckpoint()
            n = num_nodes if num_nodes is not None else evaluated.count()
            small = n <= BROADCAST_NODE_LIMIT
        else:
            # later rounds: a surviving node can lose ALL its edges, so
            # absent degree keys coalesce to 0 via the left join.
            # (Round-11 note: skipping the FINAL round's checkpoint was
            # A/B'd and REJECTED — it trades one driver job locally for
            # recomputing the round's O(E) degree aggregate in BOTH output
            # union branches, strictly worse at scale; the plan lock
            # test_kcore_plan_rounds_materialize_no_python pins this.)
            evaluated = (
                alive.join(deg, alive["node"] == deg["__s"], "left")
                .select(
                    "node",
                    F.coalesce(F.col("__deg"), F.lit(0).cast("long")).alias(
                        "degree"
                    ),
                )
                .localCheckpoint()
            )
        fell = evaluated.filter(F.col("degree") < k)
        peeled.append(
            fell.select(
                "node", F.lit(r).cast("int").alias("peeled_round"), "degree"
            )
        )
        survivors = evaluated.filter(F.col("degree") >= k).select("node")
        if r == rounds:
            peeled.append(
                evaluated.filter(F.col("degree") >= k).select(
                    "node", F.lit(0).cast("int").alias("peeled_round"), "degree"
                )
            )
            break
        # survivors is a filter over the just-checkpointed evaluation —
        # already materialized-backed, no further checkpoint needed
        alive = survivors
        vec_s = F.broadcast(alive) if small else alive
        cur = cur.join(
            vec_s.withColumnRenamed("node", "__s"), "__s", "left_semi"
        ).join(vec_s.withColumnRenamed("node", "__d"), "__d", "left_semi")
        if not small:
            # big-graph path: truncate the shrinking edge list's lineage
            # so a late failure recomputes one round, not the chain
            cur = cur.localCheckpoint()
    out = peeled[0]
    for p in peeled[1:]:
        out = out.union(p)
    return out
