"""Connected-components / duplicate-cluster semantics (operators/graph.py)."""

import pytest

from srm_etl_spark.operators.graph import connected_components, duplicate_clusters


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "left_id long, right_id long")
    return {r.node: r.component for r in connected_components(df).collect()}


def test_two_components_min_label(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_diameter_greater_than_one(spark):
    # 7-node path: min label must propagate the full diameter
    got = _cc(spark, [(i, i + 1) for i in range(1, 7)])
    assert got == {i: 1 for i in range(1, 8)}


def test_edge_direction_irrelevant(spark):
    assert _cc(spark, [(5, 2), (2, 9)]) == {2: 2, 5: 2, 9: 2}


def test_max_iter_guard(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(1, 20)], "left_id long, right_id long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(df, max_iter=2)


def test_duplicate_clusters_sizes(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "left_id long, right_id long")
    rows = {r.node: (r.component, r.cluster_size) for r in duplicate_clusters(df).collect()}
    assert rows == {1: (1, 3), 2: (1, 3), 3: (1, 3), 10: (10, 2), 11: (10, 2)}


def test_empty_pair_set(spark):
    pairs = spark.createDataFrame([], "left_id long, right_id long")
    out = connected_components(pairs)
    assert out.count() == 0


def _cc_scheme(spark, edges, scheme, max_iter=25):
    df = spark.createDataFrame(edges, "left_id long, right_id long")
    return {
        r.node: r.component
        for r in connected_components(df, scheme=scheme, max_iter=max_iter).collect()
    }


def test_star_scheme_parity_on_components(spark):
    edges = [(1, 2), (2, 3), (10, 11), (5, 2), (20, 21), (21, 22), (22, 20)]
    assert _cc_scheme(spark, edges, "star") == _cc_scheme(spark, edges, "propagate")


def test_star_scheme_deep_chain_in_few_rounds(spark):
    # 40-node path (diameter 39): propagation needs ~39 rounds, the star
    # alternation must finish well inside 10
    edges = [(i, i + 1) for i in range(1, 40)]
    got = _cc_scheme(spark, edges, "star", max_iter=10)
    assert got == {i: 1 for i in range(1, 41)}


def test_star_scheme_random_graph_parity(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randint(1, 60), rng.randint(1, 60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    assert _cc_scheme(spark, edges, "star") == _cc_scheme(spark, edges, "propagate")


def test_unknown_scheme_rejected(spark):
    df = spark.createDataFrame([(1, 2)], "left_id long, right_id long")
    with pytest.raises(ValueError, match="unknown"):
        connected_components(df, scheme="nope")


def test_keep_best_representative(spark):
    from srm_etl_spark.operators.graph import duplicate_clusters, keep_best_representative

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "left_id long, right_id long"
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.7), (10, 0.4), (11, 0.4)],
        "doc_id long, quality double",
    )
    clusters = duplicate_clusters(pairs)
    out = keep_best_representative(clusters, scores, "doc_id", "quality")
    kept = {r.node for r in out.collect() if r.kept}
    # component {1,2,3}: best quality wins (2); component {10,11}: quality
    # tie -> min id wins (10)
    assert kept == {2, 10}
    assert out.count() == 5  # every clustered node emitted, flagged


def test_keep_best_representative_unscored_members_survive(spark):
    from srm_etl_spark.operators.graph import duplicate_clusters, keep_best_representative

    pairs = spark.createDataFrame([(1, 2), (1, 3)], "left_id long, right_id long")
    scores = spark.createDataFrame([(2, 0.9)], "doc_id long, quality double")
    out = keep_best_representative(duplicate_clusters(pairs), scores, "doc_id", "quality")
    rows = {r.node: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}          # unscored members still emitted
    assert rows[2].kept and not rows[1].kept and not rows[3].kept
    assert rows[1].quality is None


@pytest.mark.parametrize("op", ["duplicate_clusters", "kmeans", "pq_train_codebooks"])
def test_eager_operator_memo_lasts_until_release_all(spark, op):
    """The eagerly-trained operators memoize on their input plan: a repeat
    call returns the stored result object, and ``release_all`` (the one
    reset) forces a rebuild with equal rows."""
    from srm_etl_spark.operators.session_cache import release_all
    from srm_etl_spark.operators.similarity import kmeans, pq_train_codebooks

    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), float(i % 7), float(i % 2)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4), (2, 5)], "left_id long, right_id long")
    run = {
        "duplicate_clusters": lambda: duplicate_clusters(pairs),
        "kmeans": lambda: kmeans(vecs, k=3, iterations=2),
        "pq_train_codebooks": lambda: pq_train_codebooks(vecs, m=2, k=3, iterations=2, dim=4),
    }[op]

    def rows(out):
        return out if isinstance(out, dict) else sorted(tuple(r) for r in out.collect())

    first = run()
    want = rows(first)
    assert run() is first
    release_all(spark)
    fresh = run()
    assert fresh is not first
    assert rows(fresh) == want


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _checkpoint_rdd_id(ckpt) -> int:
    return ckpt._jdf.queryExecution().analyzed().rdd().id()


def test_release_checkpoint_frees_only_the_checkpoint(spark):
    """A cache first built INSIDE the checkpoint's action (the CC loop's
    edge list in round 1) must survive releasing that checkpoint: diffing
    persistent-RDD ids around the action would catch and free it too."""
    from pyspark.sql import functions as F

    from srm_etl_spark.operators.session_cache import release_checkpoint

    df = spark.createDataFrame([(i % 5, i) for i in range(50)], "k long, v long")
    src = df.repartition(2).persist()  # no action yet: built by the checkpoint
    try:
        before = _persistent_rdd_ids(spark)
        ck = src.groupBy("k").agg(F.sum("v").alias("s")).localCheckpoint(eager=True)
        built = _persistent_rdd_ids(spark) - before
        ck_id = _checkpoint_rdd_id(ck)
        src_ids = built - {ck_id}
        assert ck_id in built and src_ids
        release_checkpoint(ck)
        after = _persistent_rdd_ids(spark)
        assert ck_id not in after
        assert src_ids <= after
        assert src.count() == 50
    finally:
        src.unpersist()


def test_pagerank_frees_superseded_checkpoints(spark):
    """Only the returned frame's checkpoint outlives pagerank: every earlier
    iteration's blocks are released as soon as the next one materializes."""
    from srm_etl_spark.operators.graph import pagerank
    from srm_etl_spark.operators.session_cache import release_checkpoint

    edges = spark.createDataFrame([(i, (i + 1) % 20) for i in range(20)], "src long, dst long")
    before = _persistent_rdd_ids(spark)
    pr = pagerank(edges, iterations=4, checkpoint_every=1)
    assert _persistent_rdd_ids(spark) - before == {_checkpoint_rdd_id(pr)}
    assert pr.count() == 20
    release_checkpoint(pr)


def test_release_all_frees_returned_graph_checkpoints(spark):
    """The labels ``duplicate_clusters`` returns and the ranks ``pagerank``
    returns are checkpoints no pool holds: ``release_all`` frees them too,
    so no new persistent RDD is left behind."""
    from srm_etl_spark.operators.graph import pagerank
    from srm_etl_spark.operators.session_cache import release_all

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "left_id long, right_id long")
    edges = spark.createDataFrame([(i, (i + 1) % 20) for i in range(20)], "src long, dst long")
    release_all(spark)
    before = _persistent_rdd_ids(spark)
    clusters = duplicate_clusters(pairs)
    ranks = pagerank(edges, iterations=3)
    assert clusters.count() == 5 and ranks.count() == 20
    assert _persistent_rdd_ids(spark) - before  # both hold checkpoint blocks
    release_all(spark)
    assert _persistent_rdd_ids(spark) - before == set()


def test_pagerank_rank_join_broadcast_gated_by_threshold(spark):
    """The per-iteration rank join broadcasts the rank table only when the
    node count fits the session broadcast budget; with auto-broadcast
    disabled the hint is withheld and the shuffle join stands (the 100 TB
    fallback)."""
    from srm_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 40) for i in range(40)] + [(i, (i + 7) % 40) for i in range(40)],
        "src long, dst long",
    )
    plans: dict[str, str] = {}

    def run(tag):
        def sink(i, pr):
            plans[tag] = pr._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        return pagerank(edges, iterations=2, iteration_plan_sink=sink)

    small = run("fit")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        large = run("nofit")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    assert "SortMergeJoin" not in plans["fit"], "ranks within budget must broadcast"
    assert "SortMergeJoin" in plans["nofit"], "past the budget the shuffle join stands"
    # strategy never changes results
    a = {r.node: round(r.pr, 9) for r in small.collect()}
    b = {r.node: round(r.pr, 9) for r in large.collect()}
    assert a == b
