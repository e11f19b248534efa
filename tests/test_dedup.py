"""Dedup operator semantics: exact, MinHash+LSH, SimHash, Jaccard pairs.

Small hand-built corpora with known duplicate structure; the operators must
find exactly the planted near-dups and keep the rest.
"""

import pytest
from pyspark.sql import functions as F

from srm_etl_spark.operators import dedup as DD

_BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the late afternoon sun"
)
_NEAR = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the late evening sun"
)
_OTHER = (
    "completely different content about distributed query engines and "
    "columnar storage formats for analytical workloads at scale"
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, _BASE),
            (2, _BASE),          # exact dup of 1
            (3, _NEAR),          # near dup of 1
            (4, _OTHER),
            (5, "short text"),
            (6, ""),             # empty: no shingles
        ],
        "doc_id long, text string",
    )


def test_exact_dedup(corpus):
    out = DD.exact_dedup(corpus, "text", "doc_id").orderBy("doc_id").collect()
    kept = [r.doc_id for r in out]
    assert 2 not in kept          # exact dup collapsed onto min id 1
    assert {1, 3, 4, 5, 6} == set(kept)
    by_id = {r.doc_id: r.dup_count for r in out}
    assert by_id[1] == 2


def test_minhash_dedup_drops_planted_near_dup(corpus):
    out = DD.minhash_dedup(
        corpus, "text", "doc_id", num_hashes=16, bands=8, jaccard_threshold=0.6
    )
    kept = {r.doc_id for r in out.collect()}
    # 2 (exact) and 3 (near) are dominated by 1; empty doc 6 has no shingles
    # and passes through untouched.
    assert 1 in kept and 4 in kept and 5 in kept and 6 in kept
    assert 2 not in kept
    assert 3 not in kept


def test_minhash_signatures_shape(corpus):
    sigs = DD.minhash_signatures(corpus, "text", "doc_id", num_hashes=8)
    assert sigs.columns == ["doc_id"] + [f"mh_{i}" for i in range(8)]
    rows = {r.doc_id: r for r in sigs.collect()}
    assert 6 not in rows  # no shingles -> no signature
    # identical text => identical signature; near text shares most slots
    assert all(rows[1][f"mh_{i}"] == rows[2][f"mh_{i}"] for i in range(8))
    shared = sum(rows[1][f"mh_{i}"] == rows[3][f"mh_{i}"] for i in range(8))
    assert shared >= 4


def test_simhash_determinism_and_closeness(corpus):
    fp = {r.doc_id: r.simhash for r in DD.simhash(corpus, "text", "doc_id").collect()}
    assert fp[1] == fp[2]                       # same text, same fingerprint
    assert fp[6] == 0                           # token-less -> 0
    ham_near = bin(fp[1] ^ fp[3]).count("1")
    ham_far = bin(fp[1] ^ fp[4]).count("1")
    assert ham_near < ham_far                   # near-dup closer than unrelated
    assert ham_near <= 12


def test_simhash_arrow_matches_native_fold(corpus):
    # the Arrow bit-fold and the expression-only fold must agree bit-for-bit
    arrow = {r.doc_id: r.simhash for r in DD.simhash(corpus, "text", "doc_id").collect()}
    native = {r.doc_id: r.simhash for r in DD.simhash_native(corpus, "text", "doc_id").collect()}
    assert arrow == native


def test_minhash_md5_family_same_decisions(corpus):
    # the md5 (oracle-checkable) family runs the identical pipeline and must
    # make the same keep/drop decisions on the planted corpus
    out = DD.minhash_dedup(
        corpus, "text", "doc_id", num_hashes=16, bands=8,
        jaccard_threshold=0.6, hash_family="md5",
    )
    kept = {r.doc_id for r in out.collect()}
    assert kept == {1, 4, 5, 6}


def test_minhash_md5_signatures_are_hex_strings(corpus):
    sigs = DD.minhash_signatures(
        corpus, "text", "doc_id", num_hashes=4, hash_family="md5"
    )
    rows = {r.doc_id: r for r in sigs.collect()}
    assert all(
        isinstance(rows[1][f"mh_{i}"], str) and len(rows[1][f"mh_{i}"]) == 32
        for i in range(4)
    )
    assert all(rows[1][f"mh_{i}"] == rows[2][f"mh_{i}"] for i in range(4))


def test_simhash_md5_family_parity_and_bit_range(corpus):
    # Arrow fold and native fold agree under the md5 family too, and the
    # 60-bit md5-derived hashes leave fingerprint bits 60-63 at zero
    arrow = {
        r.doc_id: r.simhash
        for r in DD.simhash(corpus, "text", "doc_id", hash_family="md5").collect()
    }
    native = {
        r.doc_id: r.simhash
        for r in DD.simhash_native(corpus, "text", "doc_id", hash_family="md5").collect()
    }
    assert arrow == native
    assert all(fp >= 0 and fp < (1 << 60) for fp in arrow.values())
    assert arrow[1] == arrow[2]
    ham_near = bin(arrow[1] ^ arrow[3]).count("1")
    ham_far = bin(arrow[1] ^ arrow[4]).count("1")
    assert ham_near < ham_far


def test_simhash_near_dup_pairs(corpus):
    fps = DD.simhash(corpus, "text", "doc_id")
    pairs = DD.simhash_near_dup_pairs(fps, "doc_id", max_hamming=12, blocks=16).collect()
    got = {(r.left_id, r.right_id) for r in pairs}
    assert (1, 2) in got
    hamming = {(r.left_id, r.right_id): r.hamming for r in pairs}
    assert hamming[(1, 2)] == 0
    assert (1, 4) not in got and (2, 4) not in got


def test_jaccard_pairs_blocked(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "s1"),
            (2, "alpha beta gamma epsilon", "s1"),
            (3, "alpha beta gamma delta", "s2"),  # same text, other block
            (4, "unrelated words entirely here", "s1"),
        ],
        "doc_id long, text string, source string",
    )
    out = DD.jaccard_near_dup_pairs(df, "text", "doc_id", block_cols=["source"], threshold=0.5)
    got = {(r.left_id, r.right_id): r.jaccard for r in out.collect()}
    assert set(got) == {(1, 2)}  # blocking keeps 3 away from 1
    assert got[(1, 2)] == pytest.approx(3 / 5)


def test_dedup_by_keys_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "b", 20), (1, "a", 10), (2, "c", 30)], "k long, v string, n long"
    )
    out = DD.dedup_by_keys(df, ["k"], order_by=[F.asc("v")]).orderBy("k").collect()
    assert [(r.k, r.v) for r in out] == [(1, "a"), (2, "c")]


def test_embedding_near_dup_arrow_matches_expression(spark):
    """BLAS kernel and expression HOF variant must emit the same pair set and
    (to 9dp) the same cosines — including zero-norm vectors scoring 0.0."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(60):
        blk = i % 3
        rows.append((i, blk, [rng.uniform(-1, 1) for _ in range(16)]))
    rows.append((60, 0, [0.0] * 16))  # zero-norm: cosine defined as 0.0
    rows.append((61, 0, rows[0][2]))  # exact duplicate of vec 0
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")

    expr = DD.embedding_near_dup_pairs(
        df, "embedding", "vec_id", threshold=0.2, block_expr=F.col("label")
    )
    arrow = DD.embedding_near_dup_pairs_arrow(
        df, "embedding", "vec_id", threshold=0.2, block_col="label", chunk_rows=7
    )
    e = {(r.left_id, r.right_id): r.cosine for r in expr.collect()}
    a = {(r.left_id, r.right_id): r.cosine for r in arrow.collect()}
    assert set(e) == set(a) and len(a) > 0
    for k in e:
        assert abs(e[k] - a[k]) < 1e-9
    assert a[(0, 61)] == pytest.approx(1.0)


def test_embedding_near_dup_arrow_block_cap_parity(spark):
    """max_block_size salt-split must emit EXACTLY the uncapped pair set with
    cosines equal to BLAS reproducibility (unit vectors normalize per row,
    so grouping cannot change the math), with the sub-block pair grid
    visible in the capped plan and absent from the plain one."""
    import random

    rng = random.Random(11)
    rows = [(i, i % 2, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    rows.append((50, 0, rows[1][2]))  # exact duplicate across the big block
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    plain = DD.embedding_near_dup_pairs_arrow(
        df, "embedding", "vec_id", threshold=0.2, block_col="label"
    )
    capped = DD.embedding_near_dup_pairs_arrow(
        df, "embedding", "vec_id", threshold=0.2, block_col="label",
        max_block_size=5,  # S = ceil(26/5) = 6 sub-blocks on the bigger block
    )
    p = {(r.left_id, r.right_id): r.cosine for r in plain.collect()}
    c = {(r.left_id, r.right_id): r.cosine for r in capped.collect()}
    # same pair set; cosines agree to BLAS reproducibility (dgemm may pick
    # shape-dependent kernels, so bitwise equality is not guaranteed)
    assert set(p) == set(c) and len(c) > 0
    for key in p:
        assert abs(p[key] - c[key]) < 1e-12
    capped_plan = capped._jdf.queryExecution().optimizedPlan().toString()
    assert "_nsplit" in capped_plan
    assert "_nsplit" not in plain._jdf.queryExecution().optimizedPlan().toString()
    with pytest.raises(ValueError):
        DD.embedding_near_dup_pairs_arrow(df, max_block_size=0)


def test_embedding_near_dup_arrow_unblocked(spark):
    """block_col=None compares across the whole frame (single group)."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0001]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = DD.embedding_near_dup_pairs_arrow(df, "embedding", "vec_id", threshold=0.9)
    assert [(r.left_id, r.right_id) for r in got.collect()] == [(1, 2)]


def test_dedup_by_keys_agg_and_window_paths_agree(spark):
    """String order_by (hash-aggregate path) and Column order_by (window
    path) must pick identical keepers, including on order-key ties."""
    rows = [
        (1, 2, "b", 10.0),
        (1, 2, "a", 9.0),
        (1, 2, "a", 9.0),  # exact duplicate: tie at every level
        (2, 1, "z", 1.0),
    ]
    df = spark.createDataFrame(rows, "k1 int, k2 int, v string, x double")
    fast = DD.dedup_by_keys(df, ["k1", "k2"], order_by=["v", "x"])
    slow = DD.dedup_by_keys(df, ["k1", "k2"], order_by=[F.asc("v"), F.asc("x")])
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))
    got = {(r.k1, r.k2): (r.v, r.x) for r in fast.collect()}
    assert got == {(1, 2): ("a", 9.0), (2, 1): ("z", 1.0)}


def test_incremental_dedup_semantics(spark):
    from srm_etl_spark.functions.text import fingerprint
    from srm_etl_spark.operators.dedup import incremental_dedup

    from pyspark.sql import functions as F

    history = spark.createDataFrame(
        [("old doc about cats and dogs",)], "text string"
    ).select(fingerprint(F.col("text")).alias("fp"))
    batch = spark.createDataFrame(
        [
            (10, "dogs and cats about doc old"),   # token-reorder of history → dropped
            (11, "a genuinely new document here"),
            (12, "here document new genuinely a"),  # in-batch reorder dup of 11 → collapsed
            (13, "another fresh one entirely"),
        ],
        "doc_id int, text string",
    )
    out = incremental_dedup(batch, history)
    got = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert got == {11: 2, 13: 1}


# --- exact substring spans (q109/q110) ---------------------------------------

def test_duplicate_substring_spans_planted(spark):
    # docs 1 and 2 share an exact 6-token run; doc 3 is clean; doc 4 repeats
    # a 6-token run inside itself (intra-doc duplication also counts)
    shared = "one two three four five six"
    df = spark.createDataFrame(
        [
            (1, f"aa bb {shared} cc dd"),
            (2, f"xx {shared} yy zz ww"),
            (3, "totally unique words nothing repeated here at all okay"),
            (4, f"{shared} pad1 pad2 pad3 pad4 pad5 pad6 {shared}"),
        ],
        "doc_id long, text string",
    )
    out = DD.duplicate_substring_spans(df, "text", "doc_id", min_tokens=6)
    spans = {(r.doc_id, r.span_start, r.span_end) for r in out.collect()}
    # doc 1: shared run at tokens 3-8; doc 2: at 2-7
    assert (1, 3, 8) in spans
    assert (2, 2, 7) in spans
    assert not any(d == 3 for d, _, _ in spans)
    # doc 4: two occurrences at 1-6 and 13-18 (gap of 6 pads > window, so two
    # separate spans)
    assert (4, 1, 6) in spans and (4, 13, 18) in spans


def test_duplicate_substring_spans_merges_overlap(spark):
    # a 8-token duplicated run yields 3 overlapping 6-token windows that must
    # coalesce into ONE maximal span
    run = "r1 r2 r3 r4 r5 r6 r7 r8"
    df = spark.createDataFrame(
        [(1, f"{run} tail1 tail2"), (2, f"head1 {run}")],
        "doc_id long, text string",
    )
    out = DD.duplicate_substring_spans(df, "text", "doc_id", min_tokens=6)
    got = {(r.doc_id): (r.span_start, r.span_end, r.n_windows) for r in out.collect()}
    assert got[1] == (1, 8, 3)
    assert got[2] == (2, 9, 3)


def test_substring_span_families_agree(spark):
    df = spark.createDataFrame(
        [(1, "p q r s t u v w"), (2, "z p q r s t u k")],
        "doc_id long, text string",
    )
    a = DD.duplicate_substring_spans(df, "text", "doc_id", min_tokens=6)
    b = DD.duplicate_substring_spans(df, "text", "doc_id", min_tokens=6, hash_family="md5")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_remove_duplicate_spans(spark):
    shared = "one two three four five six"
    df = spark.createDataFrame(
        [
            (1, f"aa bb {shared} cc dd"),
            (2, f"xx {shared} yy zz ww"),
            (3, "totally unique words nothing repeated here at all okay"),
        ],
        "doc_id long, text string",
    )
    spans = DD.duplicate_substring_spans(df, "text", "doc_id", min_tokens=6)
    out = DD.remove_duplicate_spans(df, spans, "text", "doc_id")
    got = {r.doc_id: r.clean_text for r in out.collect()}
    assert got[1] == "aa bb cc dd"
    assert got[2] == "xx yy zz ww"
    # untouched doc keeps its text verbatim
    assert got[3] == "totally unique words nothing repeated here at all okay"


def test_semantic_dedup_prunes_within_clusters(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [0.99, 0.01]),   # cosine ~1 with 1 -> dropped
            (4, [0.01, 0.99]),   # cosine ~1 with 2 -> dropped
            (5, [0.8, -0.6]),    # same cluster as 1, cosine 0.8 < tau -> kept
            (6, [-0.6, 0.8]),    # same cluster as 2, cosine 0.8 < tau -> kept
        ],
        "vec_id long, embedding array<double>",
    )
    out = DD.semantic_dedup(emb, "embedding", "vec_id", k=2, iterations=2, threshold=0.95)
    rows = {r.vec_id: r for r in out.collect()}
    assert {v for v, r in rows.items() if r.kept} == {1, 2, 5, 6}
    assert {v for v, r in rows.items() if not r.kept} == {3, 4}
    # a dropped row shares its cluster with the smaller-id mate that beat it
    assert rows[3].cluster == rows[1].cluster
    assert rows[4].cluster == rows[2].cluster


def test_jaccard_unblocked_requires_opt_in(spark):
    import pytest

    from srm_etl_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="block_cols"):
        DD.jaccard_near_dup_pairs(df, "text", "doc_id")
    out = DD.jaccard_near_dup_pairs(
        df, "text", "doc_id", allow_unblocked=True, threshold=0.3
    )
    assert out.count() == 1


def test_maximal_repeat_spans_exact_lengths(spark):
    # The any-length form must report the EXACT maximal duplicated substring
    # length, not just the window cover: docs 1/2 share a 10-token run, docs
    # 3/4 share a 6-token run (the window minimum), and doc 5's overlap with
    # the shared 10-token run is only 7 tokens long — each case lands on its
    # own exact length.
    ten = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    six = "s1 s2 s3 s4 s5 s6"
    df = spark.createDataFrame(
        [
            (1, f"aa bb {ten} cc"),
            (2, f"xx {ten} yy zz"),
            (3, f"{six} p1 p2 p3"),
            (4, f"q1 q2 {six} q3"),
            (5, "mm t1 t2 t3 t4 t5 t6 t7 nn oo"),  # 7-token prefix of `ten`
        ],
        "doc_id long, text string",
    )
    out = DD.maximal_repeat_spans(df, "text", "doc_id", min_tokens=6)
    rows = {r.doc_id: r for r in out.collect()}
    # docs 1/2: the 10-token repeat -> 5 marked windows, max repeat exactly 10
    assert rows[1].max_repeat_tokens == 10 and rows[1].n_windows == 5
    assert rows[2].max_repeat_tokens == 10
    assert (rows[1].span_start, rows[1].span_end) == (3, 12)
    # docs 3/4: exactly the 6-token minimum
    assert rows[3].max_repeat_tokens == 6 and rows[3].n_windows == 1
    assert rows[4].max_repeat_tokens == 6
    # doc 5: its repeat with docs 1/2 is exactly 7 tokens (t1..t7)
    assert rows[5].max_repeat_tokens == 7 and rows[5].n_windows == 2
    # and docs 1/2 still report 10 — the 7-token partial occurrence elsewhere
    # must not shrink the true maximum
    assert rows[1].max_repeat_tokens == 10


def test_maximal_repeat_spans_cap_bounds_reported_length(spark):
    # Repeats longer than max_run + min_tokens - 1 report AT the cap: the
    # documented approximation for the tail; the span cover stays exact.
    run = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, f"a {run} b"), (2, f"c d {run} e")],
        "doc_id long, text string",
    )
    exact = DD.maximal_repeat_spans(df, "text", "doc_id", min_tokens=6)
    capped = DD.maximal_repeat_spans(df, "text", "doc_id", min_tokens=6, max_run=10)
    e = {r.doc_id: r for r in exact.collect()}
    c = {r.doc_id: r for r in capped.collect()}
    assert e[1].max_repeat_tokens == 30
    assert c[1].max_repeat_tokens == 10 + 6 - 1  # cap + window - 1
    # cover identical under the cap
    assert (e[1].span_start, e[1].span_end) == (c[1].span_start, c[1].span_end)


def test_exact_substring_decontaminate_cuts_eval_spans(spark):
    from srm_etl_spark.operators.decontaminate import exact_substring_decontaminate

    leak = "l1 l2 l3 l4 l5 l6"  # 6-token span present in the eval set
    train = spark.createDataFrame(
        [
            (1, f"aa bb {leak} cc dd"),       # contaminated mid-doc
            (2, "totally clean text with nothing shared at all here"),
            (3, f"{leak} tail1 tail2"),        # contaminated at the start
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, f"prefix {leak} suffix words here")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in exact_substring_decontaminate(
            train, ev, "text", "doc_id", min_tokens=6
        ).collect()
    }
    assert out[1].n_contam_spans == 1 and out[1].contam_tokens == 6
    assert out[1].clean_text == "aa bb cc dd"
    assert out[2].n_contam_spans == 0 and out[2].clean_text.startswith("totally clean")
    assert out[3].clean_text == "tail1 tail2"
    # an eval-internal duplicate must NOT mark train docs that lack it
    assert out[2].contam_tokens == 0


def test_parse_byte_size_forms():
    from srm_etl_spark.session import parse_byte_size

    # every form Spark renders / users set: plain, JVM-normalized 'b',
    # unit-suffixed, disabled (-1)
    assert parse_byte_size("10485760") == 10 << 20
    assert parse_byte_size("10485760b") == 10 << 20
    assert parse_byte_size("10MB") == 10 << 20
    assert parse_byte_size("10mb") == 10 << 20
    assert parse_byte_size("1g") == 1 << 30
    assert parse_byte_size("512k") == 512 << 10
    assert parse_byte_size(-1) == -1
    assert parse_byte_size("-1") == -1
    assert parse_byte_size("garbage", default=7) == 7
    with pytest.raises(ValueError):
        parse_byte_size("garbage")


def test_decontaminate_broadcast_decision_survives_suffixed_conf(spark):
    # ADVICE r13: sessions outside get_spark render the broadcast threshold
    # as '10485760b' — the default broadcast-decision path must not crash
    from srm_etl_spark.operators.decontaminate import exact_substring_decontaminate

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    train = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(9, "w1 w2 w3 w4 w5 w6")], "doc_id long, text string"
    )
    try:
        spark.conf.set(key, "10485760b")
        rows = exact_substring_decontaminate(
            train, ev, "text", "doc_id", min_tokens=6
        ).collect()
        assert rows[0].n_contam_spans == 1
    finally:
        spark.conf.set(key, old)


def test_q171_exercises_salted_split_and_sample_training(spark):
    """q171's registry row must provably gate the S>1 salt-split path and
    the sample-trained hierarchical kmeans: the pair-kernel plan carries the
    salt/explode machinery, and a genuinely split block's pair set matches
    the unsalted kernel (the exactly-once grid emission)."""
    import os

    from pyspark.sql import functions as F

    from srm_etl_spark.operators.dedup import embedding_near_dup_pairs_arrow
    from srm_etl_spark.operators.similarity import kmeans

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    assigned = kmeans(
        emb, "embedding", "vec_id", k=96, iterations=2,
        train_filter=F.col("vec_id") % 2 == 0,
    ).persist()
    try:
        salted = embedding_near_dup_pairs_arrow(
            assigned, "embedding", "vec_id", threshold=0.3,
            block_col="cluster", max_block_size="half-avg",
        )
        plan = salted._jdf.queryExecution().optimizedPlan().toString()
        assert "_nsplit" in plan and "explode" in plan.lower()
        # the half-avg cap actually splits: some block carries S > 1
        import math

        sizes = assigned.groupBy("cluster").count()
        avg = sizes.agg(F.avg("count")).collect()[0][0]
        cap = max(2, math.ceil(avg / 2))
        assert sizes.filter(F.col("count") > cap).count() > 0, "no block splits"
        plain = embedding_near_dup_pairs_arrow(
            assigned, "embedding", "vec_id", threshold=0.3, block_col="cluster"
        )
        got = sorted((r.left_id, r.right_id, r.cosine) for r in salted.collect())
        want = sorted((r.left_id, r.right_id, r.cosine) for r in plain.collect())
        # pair SET identical; cosines agree to BLAS-reblocking ULPs (sub-block
        # matmul shapes differ, so dgemm summation trees differ in the last
        # bits — see the kernel docstring)
        assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
        assert all(abs(g[2] - w[2]) < 1e-12 for g, w in zip(got, want))
    finally:
        assigned.unpersist(blocking=False)
