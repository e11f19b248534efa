"""The vectorized (Arrow/numpy) top-k must agree exactly with the expression
(HOF) top-k — same neighbors, same ranks, cosines equal to float tolerance."""

from pyspark.sql import functions as F

from srm_etl_spark.operators.similarity import brute_force_topk, brute_force_topk_arrow
from srm_etl_spark.sources.tables import load_table


def test_arrow_topk_matches_hof(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    hof = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    arrow = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in brute_force_topk_arrow(emb, queries, k=5).collect()
    }
    assert set(hof) == set(arrow)
    for key, (n_hof, c_hof) in hof.items():
        n_arr, c_arr = arrow[key]
        assert n_hof == n_arr, f"{key}: neighbor {n_hof} != {n_arr}"
        # BLAS matmul vs sequential fold: same math, different summation order
        assert abs(c_hof - c_arr) < 1e-8


def test_arrow_broadcast_fallback_parity_10k_queries(spark, sf_dir):
    # past the driver-small bound the kernel must switch to the broadcast-
    # join formulation; both paths must agree at a 10^4-query batch
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") < 200)
    q10k = emb.crossJoin(spark.range(20)).select(
        (F.col("vec_id") * 20 + F.col("id")).alias("vec_id"), "embedding"
    )
    assert q10k.count() == 10_000
    closure = brute_force_topk_arrow(corpus, q10k, k=3, queries_broadcast=False)
    bcast = brute_force_topk_arrow(corpus, q10k, k=3, queries_broadcast=True)
    a = {(r.query_id, r.rank): r.neighbor_id for r in closure.collect()}
    b = {(r.query_id, r.rank): r.neighbor_id for r in bcast.collect()}
    assert a == b
    # the automatic bound routes the same batch to the broadcast plan
    auto = brute_force_topk_arrow(corpus, q10k, k=3, max_closure_queries=1_000)
    assert "mapInPandas" not in auto._jdf.queryExecution().executedPlan().toString()


def test_pq_broadcast_parity(spark, sf_dir):
    # the broadcast ADC formulation is bit-identical to the inlined-literal
    # closure (same fold order), and the bound auto-switches past 256
    from srm_etl_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_topk_broadcast,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb, m=4, k=8, iterations=2)
    codes = pq_encode(emb, books)
    q40 = emb.filter(F.col("vec_id") < 40)
    inline = pq_topk(codes, books, q40, k=3, queries_broadcast=False).collect()
    bcast = pq_topk_broadcast(codes, books, q40, k=3).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    a = {key(r): (r.neighbor_id, r.adc_dist) for r in inline}
    b = {key(r): (r.neighbor_id, r.adc_dist) for r in bcast}
    assert a == b  # exact, including adc_dist (identical summation order)
    # auto-switch past the bound: 300 queries > 256 -> broadcast plan, same
    # answers as the closure formulation forced on the same query set
    q300 = emb.filter(F.col("vec_id") < 300)
    auto = {key(r): r.neighbor_id for r in pq_topk(codes, books, q300, k=2).collect()}
    forced = {
        key(r): r.neighbor_id
        for r in pq_topk(codes, books, q300, k=2, queries_broadcast=False).collect()
    }
    assert auto == forced


def test_ivf_topk_probes_and_recall(spark, sf_dir):
    """IVF with nprobe=2 returns well-formed ranks and beats the probed-
    fraction recall floor. The synthetic embeddings are isotropic (labels are
    random, within-label cosine ≈ cross-label ≈ 0), so partition-based ANN
    can only recall ≈ nprobe/ncells (2/10) of the exact top-5 — the test
    checks the plumbing and that floor, not clustered-data recall."""
    from srm_etl_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    ivf = ivf_topk(emb, queries, k=5, nprobe=2).collect()
    per_q = {}
    for r in ivf:
        per_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for qid, rows in per_q.items():
        ranks = sorted(rank for rank, _ in rows)
        assert ranks == list(range(1, len(rows) + 1)), f"{qid}: ranks {ranks}"
        assert qid not in {n for _, n in rows}

    exact = brute_force_topk(emb, queries, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for qid, want in exact_sets.items():
        got = {n for _, n in per_q.get(qid, [])}
        hits += len(want & got)
        total += len(want)
    assert hits / total >= 0.2, f"IVF recall {hits}/{total}"


def test_exact_rerank_orders_by_true_cosine(spark):
    from pyspark.sql import functions as F

    from srm_etl_spark.operators.similarity import exact_rerank

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (10, [0.9, 0.1]),
            (11, [0.5, 0.5]),
            (12, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") == 1)
    # shortlist deliberately ordered WRONG (by id): rerank must re-order by
    # true cosine and cut to k
    shortlist = spark.createDataFrame(
        [(1, 12), (1, 11), (1, 10)], "query_id long, neighbor_id long"
    )
    out = exact_rerank(shortlist, corpus, queries, k=2).collect()
    got = [(r.neighbor_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    assert got == [(10, 1), (11, 2)]


def test_assign_clusters_large_k_paths_match_literal(spark, monkeypatch):
    """BOTH large-k assignments — the broadcast-matrix expression and the
    hierarchical pruned kernel — must be value-identical to the
    literal-inline path: same fold order, same (dist, cid) tie-break."""
    from srm_etl_spark.operators import similarity as S

    import random

    rnd = random.Random(7)
    cents = {i: [rnd.uniform(-1, 1) for _ in range(6)] for i in range(9)}
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(6)]) for i in range(300)]
    # duplicate one centroid to force an exact distance tie -> min-cid break
    cents[8] = list(cents[0])
    df = spark.createDataFrame(rows, "vec_id long, _v array<double>")
    lit = S.assign_clusters(df, cents).select("vec_id", "cluster").collect()
    want = sorted((r.vec_id, r.cluster) for r in lit)
    monkeypatch.setattr(S, "ASSIGN_LITERAL_MAX_K", 0)
    for mode in ("matrix", "hierarchical"):
        monkeypatch.setattr(S, "ASSIGN_LARGE_K_MODE", mode)
        got = S.assign_clusters(df, cents).select("vec_id", "cluster").collect()
        assert sorted((r.vec_id, r.cluster) for r in got) == want, mode


def test_assign_hierarchical_exact_at_real_large_k(spark, monkeypatch):
    """The hierarchical prune must return the EXACT flat argmin at a k that
    genuinely exercises multi-cell pruning (k=120 → ~10 coarse cells), on the
    real embeddings table, bit-for-bit against the matrix expression path —
    including under a tiny batch size (batch-shape independence)."""
    import os

    from srm_etl_spark.operators import similarity as S

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    emb = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("_v"))
        .limit(1200)
    )
    cents = {
        int(r.vec_id): list(r._v)
        for r in emb.orderBy("vec_id").limit(120).collect()
    }
    monkeypatch.setattr(S, "ASSIGN_LARGE_K_MODE", "matrix")
    want = sorted(
        (r.vec_id, r.cluster)
        for r in S.assign_clusters(emb, cents).select("vec_id", "cluster").collect()
    )
    monkeypatch.setattr(S, "ASSIGN_LARGE_K_MODE", "hierarchical")
    got = sorted(
        (r.vec_id, r.cluster)
        for r in S.assign_clusters(emb, cents).select("vec_id", "cluster").collect()
    )
    assert got == want
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
        got_small = sorted(
            (r.vec_id, r.cluster)
            for r in S.assign_clusters(emb, cents).select("vec_id", "cluster").collect()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got_small == want
