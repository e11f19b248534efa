"""Graph operators: connected components over candidate-pair edge lists.

Near-duplicate detection (``operators/dedup.py``) emits *pairs*; turning pairs
into duplicate *clusters* — so one canonical document survives per cluster, not
one per pair — is a connected-components problem. The reference resolves its
duplicate groups inside a single-process pandas groupby
(``operators/derive/to_dp.py:237-286``); at corpus scale the pair graph is
distributed, so the cluster id must be computed by message passing.

Algorithm: iterated min-label propagation. Every node starts labeled with its
own id; each round every node takes the min label among itself and its
neighbors; a fixpoint labels every node with the min node id of its connected
component. Rounds needed = graph diameter, and each round is one shuffle keyed
by node id.

Scale notes (100 TB):
- Near-dup graphs are overwhelmingly tiny cliques/stars (diameter 1-2), so
  min-propagation converges in 2-3 rounds. For adversarially deep graphs
  (long chains) the O(log^2 n) large-star/small-star scheme of Kiveris et al.,
  "Connected Components in MapReduce and Beyond" (SoCC'14) bounds rounds
  independent of diameter; the propagation loop below is the same join/agg
  skeleton, so swapping the update rule is local.
- Each iteration's labels are ``localCheckpoint``-ed: without truncation the
  lineage doubles per round and Catalyst re-analyzes an exponentially growing
  plan (and a failure would recompute the whole chain).
- The symmetrized edge list is persisted once and reused every round; the
  per-round shuffle is proportional to |E|, never |V|^2.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .session_cache import keep_result, release_checkpoint


def connected_components(
    pairs: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
    max_iter: int = 25,
    scheme: str = "propagate",
) -> DataFrame:
    """(node, component) for every node in the undirected pair graph.

    ``component`` is the minimum node id reachable from ``node`` — a
    deterministic, engine-neutral cluster id. Nodes absent from ``pairs``
    (singletons) are not returned; union them in with ``component = node`` if
    the full corpus labeling is needed.

    ``scheme='propagate'`` (default) is min-label propagation — one shuffle
    per round, rounds = graph diameter; right for the tiny-clique/star graphs
    near-dup detection emits. ``scheme='star'`` is the alternating
    large-star/small-star rule of Kiveris et al. (SoCC'14) — O(log²n) rounds
    independent of diameter; right for adversarially deep graphs (long
    chains) where propagation would need diameter rounds.

    Converges when no label changes (checked with an ``isEmpty`` probe per
    round — a driver-side boolean, not a collect of data). Raises if the graph
    has not converged after ``max_iter`` rounds rather than returning a wrong
    labeling.
    """
    if scheme == "star":
        return _cc_star(pairs, left_col, right_col, max_iter)
    if scheme != "propagate":
        raise ValueError(f"unknown connected-components scheme: {scheme!r}")

    # symmetrize with one explode — a union of the plan with its swap would
    # execute the (possibly expensive) upstream pair-generation plan twice.
    # Then pre-partition on the per-round join key and cache THAT layout: the
    # cached relation keeps hash(b) as its output partitioning, so every
    # round's edges⋈labels join shuffles only the (small, shrinking) label
    # side — the edge list is shuffled exactly once for the whole algorithm.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(left_col).alias("a"), F.col(right_col).alias("b")
                    ),
                    F.struct(
                        F.col(right_col).alias("a"), F.col(left_col).alias("b")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .repartition(F.col("b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # fused first round: label(v) = min(v, min neighbor) is a pure aggregate
    # over the (symmetric) edge list — no join needed, one round saved. Each
    # round's checkpoint is released once its successor has materialized
    # (executor storage would otherwise grow linearly with round count).
    labels = (
        edges.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("component"))
        .select(F.col("a").alias("node"), "component")
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # min label among each node's neighbors, this round
        nbr_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        # one left join folds the neighbor minimum into every label (least()
        # skips nulls for isolated-this-round nodes); the convergence flag
        # rides in the checkpointed data, so each round is a single
        # materialization plus a cached-read emptiness probe — no
        # anti-join+union reshuffle, no separate improvement checkpoint
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.a, "left")
            .select(
                "node",
                F.least("component", "nbr_min").alias("component"),
                F.coalesce(
                    F.col("nbr_min") < F.col("component"), F.lit(False)
                ).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        converged = new_labels.filter(F.col("_changed")).isEmpty()
        release_checkpoint(labels)
        labels = new_labels
        if converged:
            edges.unpersist()
            return labels.select("node", "component")
    edges.unpersist()
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_iter} rounds "
        "(graph diameter exceeds max_iter; raise max_iter or switch to "
        "large-star/small-star)"
    )


def _cc_star(pairs: DataFrame, left_col: str, right_col: str, max_iter: int) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).

    Edges are kept canonically oriented (u > v). Per round:

    - **large-star**: every node u links its LARGER neighbors to the minimum
      of its closed neighborhood — long chains halve toward local minima;
    - **small-star**: every node u links its smaller-or-equal neighbors (and
      itself) to that minimum — stars flatten.

    At the fixpoint every edge is (node, component-minimum). Each half-step
    is one shuffle keyed by node; convergence is detected by an order-free
    signature (count + sum of per-edge hashes, decimal-summed so ANSI mode
    can't overflow) instead of a set comparison, so a round costs two
    aggregations, not an except/anti-join.
    """

    def canon(df: DataFrame) -> DataFrame:
        u, v = F.col("u"), F.col("v")
        return (
            df.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def signature(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    edges = canon(
        pairs.select(F.col(left_col).alias("u"), F.col(right_col).alias("v"))
    ).localCheckpoint(eager=True)
    sig = signature(edges)
    for _ in range(max_iter):
        # large-star over the symmetrized neighborhood
        sym = edges.select("u", "v").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        mins = mins.select("u", F.least("u", "_mn").alias("m"))
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the (hi, lo) edges: all of u's smaller neighbors and
        # u itself attach to the neighborhood minimum
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
        )
        new_edges = canon(ss).localCheckpoint(eager=True)
        new_sig = signature(new_edges)
        release_checkpoint(edges)
        edges = new_edges
        if new_sig == sig:
            # fixpoint: every edge points at its component minimum
            left_labels = edges.groupBy("u").agg(F.min("v").alias("component")).select(
                F.col("u").alias("node"), "component"
            )
            roots = (
                edges.select(F.col("v").alias("node"))
                .distinct()
                .join(left_labels.select("node"), "node", "left_anti")
                .withColumn("component", F.col("node"))
            )
            return left_labels.unionByName(roots)
        sig = new_sig
    raise RuntimeError(
        f"connected_components(star): no fixpoint after {max_iter} rounds"
    )


def duplicate_clusters(
    pairs: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """(node, component, cluster_size) for every clustered node.

    The canonical survivor of each cluster is ``node == component`` (min id);
    everything else is a duplicate to drop — the cluster generalization of
    :func:`srm_etl_spark.operators.dedup.minhash_dedup`'s pairwise loser rule.

    Repeated resolution of a semantically identical pair plan in one session
    (the dedup report and the keep-best policy both cluster the same pair
    set) returns the already-materialized labeling instead of re-running the
    propagation loop, which runs eagerly here (each round localCheckpoints),
    so the reuse check is a ``session_cache.keep_result`` memo keyed by the
    INPUT pair plan; ``release_all`` drops it.
    """

    def build() -> DataFrame:
        cc = connected_components(pairs, left_col, right_col)
        sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
        return cc.join(sizes, "component").select("node", "component", "cluster_size")

    return keep_result(pairs, "duplicate_clusters", (left_col, right_col), build)


def keep_best_representative(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Quality-ranked keeper: for every clustered node, flag the one member
    of its component with the best score (ties broken by min id) as ``kept``.

    ``clusters`` is :func:`duplicate_clusters` output (node, component,
    cluster_size); ``scores`` maps ``id_col`` -> ``score_col``. This upgrades
    the min-id survivor rule to the keep-best-quality policy an LLM curation
    pipeline actually wants: near-dup clusters collapse to their
    highest-quality member, not their lowest id (the reference's pandas
    dedup keeps first-seen — operators/derive/to_dp.py:237-286 — which is
    exactly the min-id rule; the score-ranked form is the corpus-curation
    generalization).

    Scale shape: one equi-join clusters⋈scores on the node id and one window
    partitioned by component — both shuffle on keys whose cardinality tracks
    the duplicate set, not the corpus; no global ordering anywhere.
    """
    # left join + nulls-last ordering: a cluster member missing from
    # ``scores`` must still be emitted (kept only if no scored member
    # exists), not silently dropped from the audit output
    joined = clusters.join(
        scores.select(F.col(id_col).alias("node"), score_col), "node", "left"
    )
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc_nulls_last(), F.col("node").asc()
    )
    return joined.withColumn("kept", F.row_number().over(w) == 1)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 1,
    assume_distinct: bool = False,
    symmetric: bool = False,
    iteration_plan_sink=None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    The link-analysis primitive a web-scale training pipeline uses for
    source-quality weighting (OPT/RefinedWeb-style "rank by incoming links
    before sampling"). Not in the reference (no graph data there); part of the
    LLM-pipeline extension surface.

    Semantics: pr_0(v) = 1/N; pr_{i+1}(v) = (1-d)/N + d * sum over in-edges
    (u,v) of pr_i(u)/outdeg(u). Nodes without out-edges leak their mass
    (the standard simplification); with a symmetrized edge list every node
    has out-edges and no mass leaks.

    Scale shape:
    - The edge list is deduped, joined once with out-degrees, and persisted —
      every iteration reuses the same materialized (src, dst, outdeg) layout.
    - One iteration = one join of ranks (keyed by node) into edges on src +
      one map-side-combinable sum keyed by dst: shuffle per round is
      proportional to |E| matches, never quadratic.
    - Ranks are localCheckpoint-ed every ``checkpoint_every`` rounds
      (default every round — the rank table is |V| rows of 16 bytes, and
      without materialization iteration i's plan nests all of i-1's, so the
      final action recomputes the whole chain; measured at sf0.1 the
      unmaterialized 3-round plan is ~1.6x slower than checkpointing).
    - ``assume_distinct`` skips the initial |E| dedup shuffle when the caller
      already guarantees it; ``symmetric`` derives the node set from sources
      alone (every node appears as a src in a symmetrized list) — half the
      node-derivation scan.
    - N (node count) is a single driver scalar — the one bounded action.
    """
    if iterations <= 0 or checkpoint_every <= 0:
        raise ValueError("iterations and checkpoint_every must be positive")
    if not 0.0 <= damping < 1.0:
        raise ValueError("damping must be in [0, 1)")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    # e feeds three consumers (node set, out-degrees, the weighted edge
    # list) — persist it or each one re-runs the upstream build
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    nodes = e.select(F.col("src").alias("node"))
    if not symmetric:
        nodes = nodes.union(e.select(F.col("dst").alias("node")))
    nodes = nodes.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    n = nodes.count()
    if n == 0:
        e.unpersist(blocking=False)
        nodes.unpersist(blocking=False)
        return nodes.withColumn("pr", F.lit(0.0))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("outdeg"))
    edges_w = e.join(outdeg, "src").persist(StorageLevel.MEMORY_AND_DISK)

    # Join-strategy decision for the per-iteration rank join, made ONCE from
    # the node count (already a driver scalar). A rank row is (node long,
    # pr double); 64 bytes/row is a conservative framed estimate for the
    # built hash relation. When the rank table fits the session's broadcast
    # budget, broadcasting it means the (much larger, persisted) edge list
    # is NEVER shuffled: each iteration becomes one broadcast-hash join plus
    # one map-side-combined aggregate, instead of re-shuffling |E| per round.
    # The rank frames are checkpoint scans with NO size statistics (planner
    # assumes Long.Max), so without the explicit hint the planner always
    # picks sort-merge here. Past the budget (web-scale |V|) the hint is
    # withheld and the shuffle join stands — scale-adaptive, not tuned to
    # either local mode or a cluster.
    from ..session import parse_byte_size  # noqa: PLC0415

    _thr = parse_byte_size(
        edges.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"),
        default=10 * 1024 * 1024,
    )
    ranks_fit_broadcast = _thr > 0 and n * 64 <= _thr

    pr = nodes.withColumn("pr", F.lit(1.0 / n))
    teleport = (1.0 - damping) / n
    prev = None
    for i in range(iterations):
        pr_side = F.broadcast(pr) if ranks_fit_broadcast else pr
        contrib = (
            edges_w.join(pr_side, edges_w["src"] == pr_side["node"])
            .select(F.col("dst").alias("node"), (F.col("pr") / F.col("outdeg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        contrib_side = F.broadcast(contrib) if ranks_fit_broadcast else contrib
        pr = nodes.join(contrib_side, "node", "left").select(
            "node",
            (F.lit(teleport) + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))).alias("pr"),
        )
        # diagnostics only: the returned frame is a checkpoint scan, so the
        # per-iteration join/aggregate shape is invisible in its explain —
        # the sink receives the LAZY iteration frame for plan capture
        if iteration_plan_sink is not None:
            iteration_plan_sink(i, pr)
        # the final round always checkpoints: the caches are unpersisted on
        # return, so the returned frame must not reference them lazily
        if (i + 1) % checkpoint_every == 0 or i + 1 == iterations:
            pr = pr.localCheckpoint(eager=True)
            if prev is not None:
                release_checkpoint(prev)
            prev = pr
    e.unpersist(blocking=False)
    edges_w.unpersist(blocking=False)
    nodes.unpersist(blocking=False)
    return pr
