"""Unit tests for dedup + similarity operators (SURVEY.md §5.1 style:
tiny in-memory DataFrames vs hand-computed expectations)."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from illumio_spark.operators import dedup as D
from illumio_spark.operators import similarity as SIM
from illumio_spark.functions import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "the quick brown fox jumps over the lazy dog tonight"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog tonight ok"),  # near dup
        (3, "completely different words about spark shuffles and joins"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r.keeper: r.n_copies for r in D.exact_dedup_keepers(docs).collect()}
    assert out[0] == 2  # docs 0,1 collapse; keeper = min id
    assert out[2] == 1 and out[3] == 1


def test_ngram_jaccard_hand_computed(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in D.ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    assert pairs[(0, 1)] == 1.0
    # doc2 = doc0 + 1 word: shingles 8 vs 9, common 8 → 8/9
    assert abs(pairs[(0, 2)] - round(8 / 9, 6)) < 1e-9
    assert (0, 3) not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    sh = D.word_shingles(F.col("text"), 3)
    sigs = docs.select("doc_id", *D.minhash_signature(sh))
    sigs = sigs.select("*", *D.lsh_bands())
    pairs = {(r.id_a, r.id_b) for r in D.lsh_candidate_pairs(sigs).collect()}
    assert (0, 1) in pairs  # exact dup always collides on every band
    assert (0, 3) not in pairs and (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_df_equals_column_version(spark, docs):
    # the explode+codegen scale path must produce identical blocks to the
    # per-row column expression (and both to the DuckDB oracle, via selfcheck)
    from pyspark.sql import functions as F

    docs2 = docs.union(spark.createDataFrame([(9, ""), (10, "one")], "doc_id long, text string"))
    col_ver = {
        r.doc_id: (r.b0, r.b1, r.b2, r.b3)
        for r in docs2.select(
            "doc_id", *[b.alias(f"b{k}") for k, b in enumerate(TX.simhash_blocks(F.col("text")))]
        ).collect()
    }
    df_ver = {
        r.doc_id: (r.b0, r.b1, r.b2, r.b3)
        for r in TX.simhash_blocks_df(docs2).collect()
    }
    assert df_ver == col_ver and len(df_ver) == 6


def test_simhash_hamming(spark, docs):
    sig = docs.withColumn("sig", TX.simhash(F.col("text"))).collect()
    s = {r.doc_id: r.sig for r in sig}
    assert s[0] == s[1]  # identical text → identical signature
    ham02 = bin((s[0] ^ s[2]) & ((1 << 64) - 1)).count("1")
    ham03 = bin((s[0] ^ s[3]) & ((1 << 64) - 1)).count("1")
    assert ham02 < ham03  # near dup closer than unrelated


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.Generator(np.random.PCG64(7))
    vecs = rng.standard_normal((60, 16)).astype(np.float32)
    vecs[1] = vecs[0] + 0.01 * rng.standard_normal(16).astype(np.float32)  # near dup of 0
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(emb):
    qs = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    out = SIM.brute_force_topk(emb, qs, k=5).collect()
    assert len(out) == 5
    by_rank = {r.rank: r.neighbor_id for r in out}
    assert by_rank[1] == 1  # the injected near-duplicate is the top neighbor


def test_lsh_topk_recall(emb):
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    exact = SIM.brute_force_topk(emb, qs, k=5).collect()
    approx = SIM.lsh_topk(emb, qs, k=5, n_planes=2, dim=16, n_tables=4).collect()
    exact_set = {(r.qid, r.neighbor_id) for r in exact}
    approx_set = {(r.qid, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5  # 4 tables × 2 planes (OR-construction)
    # multi-table probing must catch the near-dup pair even when one table
    # splits it across a hyperplane boundary
    assert (0, 1) in approx_set


@pytest.fixture(scope="module")
def neardup_corpus(spark):
    """Golden-style corpus: varied base docs + injected exact/near dups —
    the shape the td_* bench/driver queries run on."""
    import random

    rng = random.Random(7)
    words = [f"w{i}" for i in range(300)]
    rows = []
    for i in range(120):
        n = rng.randint(40, 80)
        rows.append((i, " ".join(rng.choice(words) for _ in range(n))))
    # near dups with shingle-jaccard ≳ 0.85 — clearly above the 2-rows ×
    # 4-bands LSH threshold, so BOTH hash backends must surface them.
    # (Borderline-jaccard pairs may legitimately differ between hash
    # backends — LSH candidate membership is hash-dependent at the margin;
    # downstream jaccard/hamming verification absorbs that.)
    for i in range(25):
        rows.append((1000000 + i, rows[i][1] + " zq"))
    for i in range(25, 40):  # exact dups
        rows.append((1000000 + i, rows[i][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_xxhash64_same_pairs(neardup_corpus):
    """The engine-internal xxhash64 fast path must find the same near-dup
    pair set as the oracle-parity md5 path on the golden-style corpus."""
    md5_pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(neardup_corpus, hash_fn="md5").collect()}
    xx_pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(neardup_corpus, hash_fn="xxhash64").collect()}
    assert (0, 1000000) in xx_pairs  # near dup found
    assert (25, 1000025) in xx_pairs  # exact dup found
    assert xx_pairs == md5_pairs


def test_simhash_neardup_xxhash64_backend(neardup_corpus):
    """SimHash signatures are defined BY the chosen hash, so near-dup pairs
    at the hamming margin legitimately differ between backends. What both
    backends must guarantee: exact dups at hamming 0, zero false positives
    among unrelated docs, and high recall on the injected near dups."""
    md5_pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_neardup_pairs(neardup_corpus, hash_fn="md5").collect()
    }
    xx_pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_neardup_pairs(neardup_corpus, hash_fn="xxhash64").collect()
    }
    exact = {(i, 1000000 + i) for i in range(25, 40)}
    near = {(i, 1000000 + i) for i in range(25)}
    for pairs in (md5_pairs, xx_pairs):
        assert all(pairs.get(p) == 0 for p in exact)  # exact dups: hamming 0, any hash
        assert set(pairs) <= exact | near  # no false positives across random docs
        # one-token perturbation flips ~3-4 of 64 bits in expectation, so
        # hamming<=3 recall caps ~70% — the bound checks both backends sit
        # there, not that simhash is a perfect near-dup detector
        assert len(set(pairs) & near) >= 0.6 * len(near)


def test_minhash_explode_path_equals_column_path(docs, spark):
    """The explode+codegen signature builder must produce the IDENTICAL
    md5 signatures as the per-row array_min(transform(...)) column version
    (and both equal the DuckDB oracle, via selfcheck), including null
    signatures for docs with fewer than k tokens."""
    docs2 = docs.union(spark.createDataFrame([(9, ""), (10, "one two")], "doc_id long, text string"))
    col_ver = {
        r.doc_id: (r.mh0, r.mh1, r.mh2, r.mh3)
        for r in docs2.select(
            "doc_id", *D.minhash_signature(D.word_shingles(F.col("text"), 3), 4)
        ).collect()
    }
    df_ver = {
        r.doc_id: (r.mh0, r.mh1, r.mh2, r.mh3)
        for r in D.minhash_signatures_df(docs2, n_hashes=4).collect()
    }
    assert df_ver == col_ver
    assert df_ver[9] == (None, None, None, None)  # empty text → null signature
    assert df_ver[10] == (None, None, None, None)  # < k tokens → null signature


def test_minhash_xxhash64_null_for_empty_docs(spark):
    """xxhash64 hashes a bare salt when the input is null — the fast path
    must still yield null signatures for shingle-less docs."""
    df = spark.createDataFrame([(0, ""), (1, "a b c d")], "doc_id long, text string")
    out = {r.doc_id: r.mh0 for r in D.minhash_signatures_df(df, n_hashes=2, hash_fn="xxhash64").collect()}
    assert out[0] is None and out[1] is not None


SHINGLE_TEXTS = [
    (0, None),
    (1, ""),
    (2, "   "),
    (3, " \t\n "),
    (4, "one two"),  # fewer than 3 tokens
    (5, "x y z"),  # exactly 3 tokens
    (6, "p q r s"),  # exactly 4 tokens
    (7, "\tlead tab then  double  spaces"),
    (8, "a b a b a b a c"),  # repeated shingles keep every position
]


def _reference_shingles(rows, k, with_pos):
    """(id, pos, shingle) rows the way Spark tokenizes: trim strips spaces
    only, split on Java's ASCII \\s+ keeps leading/trailing empty tokens,
    NULL text is one all-NULL row and the last k-1 positions are NULL."""
    out = []
    for doc_id, text in rows:
        if text is None:
            out.append((doc_id, None, None))
            continue
        toks = re.split(r"[ \t\n\x0b\f\r]+", text.strip(" "))
        for i in range(len(toks)):
            out.append((doc_id, i, " ".join(toks[i:i + k]) if i + k <= len(toks) else None))
    return sorted(((r if with_pos else (r[0], r[2])) for r in out), key=repr)


@pytest.mark.parametrize("k", [1, 3, 4])
@pytest.mark.parametrize("with_pos", [False, True])
def test_exploded_shingles_equal_python_reference(spark, k, with_pos):
    df = spark.createDataFrame(SHINGLE_TEXTS, "doc_id long, text string")
    got = D.exploded_shingles(df, k=k, with_pos=with_pos)
    assert got.columns == (["doc_id", "__pos", "__s"] if with_pos else ["doc_id", "__s"])
    assert sorted(map(tuple, got.collect()), key=repr) == _reference_shingles(
        SHINGLE_TEXTS, k, with_pos
    )


def test_multi_table_pandas_buckets_agree(emb):
    """The single-UDF all-tables matmul path must assign the same
    (table, bucket) rows as the per-table JVM literal-fold path."""
    from illumio_spark.operators.similarity import LSH_SEED, _bucketed_long
    import illumio_spark.operators.similarity as S

    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    jvm = {(r.vec_id, r.tbl, r.bucket)
           for r in _bucketed_long(base, "vec_id", "v", 4, 16, 3).collect()}
    old = S.LSH_LITERAL_BUDGET
    S.LSH_LITERAL_BUDGET = 0  # force the multi-table pandas path
    try:
        np_rows = {(r.vec_id, r.tbl, r.bucket)
                   for r in _bucketed_long(base, "vec_id", "v", 4, 16, 3).collect()}
    finally:
        S.LSH_LITERAL_BUDGET = old
    assert np_rows == jvm


def test_hashing_embed_text_to_ann_end_to_end(neardup_corpus, spark):
    """Raw text → REAL hashing-trick embedding → calibrated LSH near-dup:
    the injected near-duplicate texts must surface as high-cosine pairs
    with zero false positives among unrelated random docs."""
    emb = SIM.hashing_embed(neardup_corpus, dim=64)
    row = emb.filter(F.col("doc_id") == 0).first()
    assert len(row["embedding"]) == 64
    assert abs(sum(x * x for x in row["embedding"]) - 1.0) < 1e-9  # unit norm

    pairs = {
        (r.id_a, r.id_b)
        for r in SIM.lsh_neardup_pairs(
            emb, "doc_id", "embedding", threshold=0.9, n_planes=8, dim=64, n_tables=9
        ).collect()
    }
    exact = {(i, 1000000 + i) for i in range(25, 40)}
    near = {(i, 1000000 + i) for i in range(25)}
    assert exact <= pairs  # exact dup texts → identical embeddings → cos 1
    assert len(pairs & near) >= 0.9 * len(near)  # one-token perturbation
    assert pairs <= exact | near  # random docs never reach cos 0.9


def test_hashing_embed_deterministic_and_empty(spark):
    df = spark.createDataFrame([(0, "a b a c"), (1, ""), (2, None)], "doc_id long, text string")
    out1 = {r.doc_id: r.embedding for r in SIM.hashing_embed(df, dim=8).collect()}
    out2 = {r.doc_id: r.embedding for r in SIM.hashing_embed(df, dim=8).collect()}
    assert out1 == out2  # deterministic
    assert out1[1] == [0.0] * 8 and out1[2] == [0.0] * 8  # zero-token → zero vector


def test_decontaminate_13gram_rule(spark):
    base = " ".join(f"w{j}" for j in range(13))  # exactly one 13-gram
    train = spark.createDataFrame(
        [
            (0, f"prefix tokens {base} suffix tokens"),   # contains the eval 13-gram
            (1, base),                                    # IS the eval 13-gram
            (2, " ".join(f"w{j}" for j in range(12))),    # only a 12-gram prefix
            (3, "completely unrelated text with many distinct words here okay"),
            (4, "short doc"),                             # < 13 tokens: never contaminated
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, f"eval question about {base} end"), (101, "other eval text")],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in D.decontaminate(train, eval_df, k=13).select("doc_id").collect()
    )
    assert kept == [2, 3, 4]
    # k=1 degenerates to any-shared-token
    kept1 = sorted(
        r.doc_id
        for r in D.decontaminate(
            spark.createDataFrame([(0, "alpha beta"), (1, "gamma delta")], "doc_id long, text string"),
            spark.createDataFrame([(9, "beta zeta")], "doc_id long, text string"),
            k=1,
        ).select("doc_id").collect()
    )
    assert kept1 == [1]


def test_ivf_topk_recall_on_clustered_corpus(spark):
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(77))
    # 8 well-separated clusters of 40 vectors each at dim=32
    centers = rng.standard_normal((8, 32)) * 4
    rows = []
    for i in range(320):
        v = centers[i % 8] + rng.standard_normal(32) * 0.3
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = emb.filter("vec_id < 5").selectExpr("vec_id as qid", "embedding as qe")

    exact = {
        (r.qid, r.neighbor_id)
        for r in SIM.brute_force_topk(emb, qs, k=5).collect()
    }
    approx = {
        (r.qid, r.neighbor_id)
        for r in SIM.ivf_topk(emb, qs, k=5, n_centroids=16, n_probe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall} below 0.9"
    # plan shape: cell equi-join, never a cartesian/BNLJ
    plan = SIM.ivf_topk(emb, qs, k=5, n_centroids=16, n_probe=3)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ivf_centroids_deterministic(spark):
    import numpy as np

    rows = [(i, [float((i * 13 + j * 7) % 11) for j in range(8)]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c1 = SIM.ivf_train_centroids(emb, n_centroids=4, sample_n=100)
    c2 = SIM.ivf_train_centroids(emb, n_centroids=4, sample_n=100)
    assert np.allclose(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


# neardup_components finishes edge tables of up to DRIVER_CC_MAX_EDGES
# on the driver; -1 forces the distributed star contraction.
@pytest.fixture
def distributed_cc(monkeypatch):
    monkeypatch.setattr(D, "DRIVER_CC_MAX_EDGES", -1)


def _chain_transitivity(spark):
    # a-b and b-c paired but never (a,c): all three must share one
    # component, and the representative must be the global min id
    from illumio_spark.operators.dedup import neardup_components

    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a long, id_b long"
    )
    comp = {r.doc_id: r.component for r in neardup_components(nodes, pairs).collect()}
    assert comp[0] == comp[3] == comp[5] == 0  # chain collapses to min id
    assert comp[1] == comp[2] == 1
    assert comp[4] == 4  # singleton keeps its own id


def test_neardup_components_chain_transitivity(spark):
    _chain_transitivity(spark)


def test_neardup_components_chain_transitivity_distributed(spark, distributed_cc):
    _chain_transitivity(spark)


def _no_pairs(spark):
    # a pair-free corpus must converge in one round with identity labels
    from illumio_spark.operators.dedup import neardup_components

    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    comp = {r.doc_id: r.component for r in neardup_components(nodes, pairs).collect()}
    assert comp == {i: i for i in range(4)}


def test_neardup_components_no_pairs_converges_immediately(spark):
    _no_pairs(spark)


def test_neardup_components_no_pairs_distributed(spark, distributed_cc):
    _no_pairs(spark)


def _star_forest_jobs(spark) -> int:
    from illumio_spark.operators.dedup import neardup_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (1, 3), (4, 5)], "id_a long, id_b long")
    sc = spark.sparkContext
    # one group per call: the status tracker keeps a group's jobs across calls
    group = f"cc-star-forest-{D.DRIVER_CC_MAX_EDGES}"
    sc.setJobGroup(group, "neardup_components job count")
    try:
        comp = {r.doc_id: r.component for r in neardup_components(nodes, pairs).collect()}
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    return len(jobs)


def test_neardup_components_star_forest_one_check_per_round(spark):
    """On the driver finish a star forest costs the edge count that picks
    the regime (two jobs under AQE), the edge collect, the label join's
    broadcast, the label checkpoint and the caller's collect: 6 jobs on
    local[4], where one distributed round runs 19."""
    assert _star_forest_jobs(spark) <= 6


def test_neardup_components_star_forest_distributed(spark, distributed_cc):
    """An edge list that is already a star forest converges after one
    round whose star-state check is a single aggregate action: 19 jobs
    on local[4], where the two-action check (count/count_distinct
    collect, then a semi-join isEmpty) ran 22."""
    assert _star_forest_jobs(spark) < 22


def _path_graph_diameter_1000(spark):
    from illumio_spark.operators.dedup import neardup_components

    n = 1000
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    comp = neardup_components(nodes, pairs).collect()
    assert len(comp) == n
    assert all(r.component == 0 for r in comp)


def test_neardup_components_path_graph_diameter_1000(spark):
    """A 1,000-node path graph (diameter 999) is the adversarial case for
    plain min-label propagation (~999 rounds). The driver finish hooks
    roots and pointer-jumps to a fixpoint, so it labels every node with
    the path's minimum id in a few vectorised rounds."""
    _path_graph_diameter_1000(spark)


def test_neardup_components_path_graph_diameter_1000_distributed(spark, distributed_cc):
    """VERDICT r5 task 7: alternating large-star / small-star contraction
    rewrites the edges toward min-centered stars, so the rounds stay
    polylogarithmic in n (O(log² n), Kiveris et al. 2014) and the default
    max_iters=20 must converge the 1,000-node path and label every node
    with the path's minimum id."""
    _path_graph_diameter_1000(spark)


def test_neardup_components_raises_on_nonconvergence(spark, distributed_cc):
    """r5 ADVICE: exhausting max_iters without a fixpoint must raise, not
    silently return split components. Star contraction only: the driver
    finish does not consult max_iters (its loop always reaches the
    fixpoint), so the fixture forces the distributed regime."""
    import pytest

    from illumio_spark.operators.dedup import neardup_components

    n = 64
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_components(nodes, pairs, max_iters=2)


def _union_find_labels(nodes, pairs) -> dict:
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


def test_neardup_components_random_graphs_match_union_find(spark, monkeypatch):
    """Both regimes against a pure-Python union-find on seeded random
    graphs: paths over shuffled ids, stars with random centers, cycles,
    isolated nodes, and every pair also duplicated and reversed. The
    bound is set to the canonical edge count (driver finish) and one
    below it (star contraction), so the switch itself is exercised: the
    driver finish must run fewer jobs."""
    from illumio_spark.operators.dedup import neardup_components

    rng = np.random.default_rng(7)
    ids = [int(v) for v in rng.permutation(10_000)[:400]]
    pairs, at = [], 0
    for size, shape in [(30, "path"), (25, "star"), (12, "cycle"), (40, "path"),
                        (2, "path"), (60, "star"), (9, "cycle"), (80, "path")]:
        grp = ids[at: at + size]
        at += size
        if shape == "path":
            pairs += list(zip(grp, grp[1:]))
        elif shape == "star":
            pairs += [(grp[0], v) for v in grp[1:]]
        else:
            pairs += list(zip(grp, grp[1:] + grp[:1]))
    # a few random cross edges merge some of the groups
    pairs += [(ids[int(i)], ids[int(j)]) for i, j in rng.integers(0, at, (5, 2))]
    pairs += [(b, a) for a, b in pairs[::3]] + pairs[::5]
    want = _union_find_labels(ids, pairs)  # ids[at:] stay isolated
    n_edges = sum(a != b for a, b in pairs)  # duplicates count, self-pairs do not
    nodes = spark.createDataFrame([(v,) for v in ids], "doc_id long")
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    sc = spark.sparkContext
    jobs = {}
    for bound in (n_edges, n_edges - 1):
        monkeypatch.setattr(D, "DRIVER_CC_MAX_EDGES", bound)
        sc.setJobGroup(f"cc-union-find-{bound}", "neardup_components regime")
        try:
            got = {r.doc_id: r.component for r in neardup_components(nodes, pdf).collect()}
            jobs[bound] = len(sc.statusTracker().getJobIdsForGroup(f"cc-union-find-{bound}"))
        finally:
            sc.setJobGroup(None, None)
        assert got == want, bound
    assert jobs[n_edges] < jobs[n_edges - 1]


def test_incremental_neardup_equals_combined_run(neardup_corpus):
    """Task-1 equivalence contract (VERDICT r6): splitting the corpus
    into two runs fed through the signature frontier keeps EXACTLY the
    docs a single combined run keeps (ids grow monotonically across
    runs, so 'seen wins' == 'min id wins'). The split boundary lands so
    near-dup pairs straddle it (originals < 120, dups at 1000000+)."""
    batch1 = neardup_corpus.filter(F.col("doc_id") < 120)
    batch2 = neardup_corpus.filter(F.col("doc_id") >= 120)
    kept1, bands1, _ = D.incremental_neardup(batch1, None)
    kept2, bands2, _ = D.incremental_neardup(batch2, bands1)
    combined = D.neardup_keepers(neardup_corpus, hash_fn="xxhash64")
    incr_ids = {r.doc_id for r in kept1.collect()} | {
        r.doc_id for r in kept2.collect()
    }
    comb_ids = {r.doc_id for r in combined.collect()}
    assert incr_ids == comb_ids
    # every cross-boundary dup dropped in run 2, none of them kept
    assert not any(i >= 1000000 and (i - 1000000) < 40 for i in incr_ids)
    # frontier state: n_bands rows per processed doc, kept or not
    assert bands1.count() == 120 * D.N_BANDS
    assert bands2.count() == batch2.count() * D.N_BANDS


def test_incremental_neardup_resubmission_stays_dropped(spark):
    """Re-running a batch against its own frontier drops EVERYTHING
    (every doc is an exact signature match of its seen self), and
    re-submitting content that was DROPPED in run 1 (a near-dup loser)
    still drops in run 2 — the frontier records processed docs, not
    survivors."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, base), (2, base + " mu"), (3, "totally different text about unrelated things entirely")]
    b1 = spark.createDataFrame(rows, "doc_id long, text string")
    kept1, bands1, _ = D.incremental_neardup(b1, None)
    assert sorted(r.doc_id for r in kept1.collect()) == [1, 3]  # 2 is near-dup loser
    # rerun same content under new ids: everything already seen
    b2 = spark.createDataFrame(
        [(11, base), (12, base + " mu")], "doc_id long, text string"
    )
    kept2, _, _ = D.incremental_neardup(b2, bands1)
    assert kept2.count() == 0
    # genuinely new content under the same frontier survives
    b3 = spark.createDataFrame(
        [(21, "fresh words never observed before in any prior run batch")],
        "doc_id long, text string",
    )
    kept3, _, _ = D.incremental_neardup(b3, bands1)
    assert kept3.count() == 1


def test_incremental_neardup_transitive_chain_through_new(spark):
    """a(seen) ~ b(new) ~ c(new) where c never pairs with a directly:
    b drops via the seen component, and c — reachable from seen only
    THROUGH b — must drop too (restricted >=1-new edges preserve
    reachability-to-seen)."""
    t = "one two three four five six seven eight nine ten eleven twelve"
    seen = spark.createDataFrame([(1, t)], "doc_id long, text string")
    _, bands, _ = D.incremental_neardup(seen, None)
    chain = spark.createDataFrame(
        [(10, t + " x"), (11, t + " x y")], "doc_id long, text string"
    )
    kept, _, _ = D.incremental_neardup(chain, bands)
    assert kept.count() == 0


def test_incremental_embedding_neardup_equals_combined_run(spark):
    """The frontier trio's third member: cross-run embedding near-dup
    must keep exactly what one combined run keeps (run-2 ids above
    run-1 ids). Clustered corpus so near-dup groups straddle the run
    boundary; bucket assignment is seed-deterministic, so cross-run
    candidates equal combined-run candidates exactly."""
    rng = np.random.Generator(np.random.PCG64(11))
    base = rng.standard_normal((30, 16))
    rows = []
    for i in range(30):
        rows.append((i, base[i].tolist()))
    # near-dups of vectors 0..9 land in the SECOND batch (ids 100+)
    for i in range(10):
        rows.append((100 + i, (base[i] + 0.01 * rng.standard_normal(16)).tolist()))
    # plus a second-batch-only near-dup pair (120, 121)
    v = rng.standard_normal(16)
    rows.append((120, v.tolist()))
    rows.append((121, (v + 0.01 * rng.standard_normal(16)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b1 = df.filter(F.col("vec_id") < 100)
    b2 = df.filter(F.col("vec_id") >= 100)

    kw = dict(threshold=0.95, n_planes=4, dim=16, n_tables=3)
    kept1, bk1, vc1 = SIM.incremental_embedding_neardup(b1, None, None, **kw)
    kept2, bk2, vc2 = SIM.incremental_embedding_neardup(b2, bk1, vc1, **kw)
    incr = {r.vec_id for r in kept1.collect()} | {r.vec_id for r in kept2.collect()}

    # combined single run: verified pairs -> CC -> min-id keepers
    from illumio_spark.operators.dedup import neardup_components

    pairs = SIM.lsh_neardup_pairs(
        df, vec_col="embedding", threshold=0.95, n_planes=4, dim=16, n_tables=3
    )
    comp = neardup_components(df.select("vec_id"), pairs, "vec_id")
    comb = {r.vec_id for r in comp.filter("vec_id = component").collect()}
    assert incr == comb
    # the straddling near-dups dropped; the batch-2-only pair kept one
    assert not any(100 <= i < 110 for i in incr)
    assert (120 in incr) and (121 not in incr)
    # frontier state: n_tables bucket rows and one vec row per processed doc
    assert bk2.count() == 12 * 3 and vc2.count() == 12


def _bridge_vectors():
    """Deterministic (a, b, c) in R16 with cos(a,b) = 0.7 < 0.9 but
    cos(c,a) = cos(c,b) = sqrt(1.7/2) ≈ 0.922 >= 0.9 — c is the
    normalized midpoint, the embedding-space bridge."""
    import math

    a = [1.0] + [0.0] * 15
    b = [0.7, math.sqrt(1 - 0.49)] + [0.0] * 14
    n = math.sqrt(sum((x + y) ** 2 for x, y in zip(a, b)))
    c = [(x + y) / n for x, y in zip(a, b)]
    return a, b, c


def test_incremental_embedding_bridge_divergence_and_compaction(spark):
    """The embedding twin of the minhash bridge pin: batch 1 emits
    vectors A and B (cosine 0.7, correctly both kept at threshold 0.9);
    batch 2's midpoint C is within threshold of both — a combined run
    keeps only A, the incremental run has already emitted B (superset
    contract). compact_embedding_frontier then resolves it purely from
    persisted state: canonical {A}, retraction (B → A)."""
    a, b, c = _bridge_vectors()
    kw = dict(threshold=0.9, n_planes=4, dim=16, n_tables=3)
    df = spark.createDataFrame(
        [(1, a), (2, b), (10, c)], "vec_id long, embedding array<double>"
    )
    # precondition: one combined run over all three keeps only A —
    # i.e. both bridge edges bucket-collide AND cosine-verify
    kept_all, _, _ = SIM.incremental_embedding_neardup(df, None, None, **kw)
    assert {r.vec_id for r in kept_all.collect()} == {1}
    # and A alone vs B alone are NOT near-dups
    both = spark.createDataFrame(
        [(1, a), (2, b)], "vec_id long, embedding array<double>"
    )
    kept_ab, bk1, vc1 = SIM.incremental_embedding_neardup(both, None, None, **kw)
    assert {r.vec_id for r in kept_ab.collect()} == {1, 2}
    # two-run split: C arrives after both were emitted
    b2 = spark.createDataFrame([(10, c)], "vec_id long, embedding array<double>")
    kept2, bk2, vc2 = SIM.incremental_embedding_neardup(b2, bk1, vc1, **kw)
    assert kept2.count() == 0  # C touches seen; still drops
    incr = {1, 2}  # emitted across both runs — superset of combined {1}
    # compaction from persisted state alone
    buckets = bk1.unionByName(bk2)
    vecs = vc1.unionByName(vc2)
    emitted = spark.createDataFrame([(1,), (2,)], "vec_id long")
    canonical, rets = SIM.compact_embedding_frontier(
        buckets, vecs, emitted, threshold=0.9
    )
    assert {r.vec_id for r in canonical.collect()} == {1}
    rr = rets.collect()
    assert [(r.vec_id, r.component) for r in rr] == [(2, 1)]
    assert incr - {r.vec_id for r in rr} == {1}


def test_compact_embedding_frontier_no_bridge_no_retractions(spark):
    """Compaction over a clustered corpus's full frontier equals the
    combined-run keeper set and retracts nothing when emitted == that
    set; duplicated state rows (idempotent re-appends) change nothing."""
    rng = np.random.Generator(np.random.PCG64(11))
    base = rng.standard_normal((30, 16))
    rows = [(i, base[i].tolist()) for i in range(30)]
    for i in range(10):
        rows.append((100 + i, (base[i] + 0.01 * rng.standard_normal(16)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.95, n_planes=4, dim=16, n_tables=3)
    kept, bk, vc = SIM.incremental_embedding_neardup(df, None, None, **kw)
    want = {r.vec_id for r in kept.collect()}
    got = {
        r.vec_id
        for r in SIM.compact_embedding_frontier(bk, vc, threshold=0.95).collect()
    }
    assert got == want
    doubled_b, doubled_v = bk.unionByName(bk), vc.unionByName(vc)
    _, rets = SIM.compact_embedding_frontier(
        doubled_b, doubled_v, kept.select("vec_id"), threshold=0.95
    )
    assert rets.count() == 0


def _plans_matmul(pairs) -> bool:
    return "FlatMapGroupsInPandas" in pairs._jdf.queryExecution().optimizedPlan().toString()


def test_bucket_verified_pairs_equals_expression_verify(spark, monkeypatch):
    """The per-bucket blocked-matmul verifier must emit exactly the
    pairs the join-then-cosine-expression form does — including with a
    block size smaller than the bucket (the hot-bucket memory path), a
    zero vector (NaN-normalized, never passes), hot buckets split off
    to the join, a probe column, and string ids (join only)."""
    rng = np.random.Generator(np.random.PCG64(5))
    rows = []
    for c in range(6):
        base = rng.standard_normal(16)
        base /= np.linalg.norm(base)
        for j in range(8):
            v = base + 0.1 / 4.0 * rng.standard_normal(16)
            rows.append((c * 10 + j, (v / np.linalg.norm(v)).tolist()))
    rows.append((999, [0.0] * 16))  # zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ev = df.select("vec_id", F.col("embedding").cast("array<double>").alias("__v"))
    bucketed = SIM._bucketed_long(ev, "vec_id", "__v", 4, 16, 3).select(
        "vec_id", "tbl", "bucket", "__v"
    ).withColumn("__new", F.col("vec_id") % 2 == 0)

    def verified(frame, **kw):
        out = SIM.bucket_verified_pairs(frame, threshold=0.9, **kw)
        return {(r.id_a, r.id_b) for r in out.collect()}, _plans_matmul(out)

    monkeypatch.setattr(SIM, "VERIFY_BLOCK", 5)
    monkeypatch.setattr(SIM, "MATMUL_MIN_PAIRS_PER_BUCKET", -1)  # force the matmul
    got, matmul = verified(bucketed)
    assert matmul
    a = bucketed.select(
        F.col("vec_id").alias("id_a"), "tbl", "bucket",
        F.col("__v").alias("va"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("id_b"), "tbl", "bucket",
        F.col("__v").alias("vb"),
    )
    want = {
        (r.id_a, r.id_b)
        for r in (
            a.join(b, ["tbl", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(SIM.cosine(F.col("va"), F.col("vb")) >= 0.9)
            .select("id_a", "id_b")
            .distinct()
        ).collect()
    }
    assert got == want and len(got) > 0
    assert not any(999 in p for p in got)
    want_probe = {p for p in want if p[0] % 2 == 0 or p[1] % 2 == 0}
    assert want_probe and want_probe != want
    assert verified(bucketed, probe_col="__new") == (want_probe, True)
    # hot-bucket fallback: every bucket (hot bound 1) or a mixed split
    # (8) through the distributed join must not change the pair set
    for hot in (1, 8):
        monkeypatch.setattr(SIM, "HOT_BUCKET_ROWS", hot)
        assert verified(bucketed)[0] == want, f"HOT_BUCKET_ROWS={hot}"
        assert verified(bucketed, probe_col="__new")[0] == want_probe, hot
    # the join regime, and non-integral ids (join whatever the bound)
    monkeypatch.setattr(SIM, "MATMUL_MIN_PAIRS_PER_BUCKET", float("inf"))
    assert verified(bucketed) == (want, False)
    assert verified(bucketed, probe_col="__new") == (want_probe, False)
    monkeypatch.setattr(SIM, "MATMUL_MIN_PAIRS_PER_BUCKET", -1)
    str_ids = bucketed.withColumn("vec_id", F.col("vec_id").cast("string"))
    got_str, matmul = verified(str_ids)
    assert not matmul
    assert {tuple(sorted(map(int, p))) for p in got_str} == want


def test_pandas_score_zero_vector_ranks_like_expr(spark):
    """A zero-norm candidate must never outrank a real neighbor: the
    re-rank cosine's try_divide yields NULL for it, which sorts last
    under desc() (a NaN would sort FIRST and crown the zero vector every
    query's top neighbor)."""
    rows = [(i, [float(i + 1)] * 8) for i in range(6)] + [(99, [0.0] * 8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    kw = dict(k=10, n_planes=2, dim=8, n_tables=2, broadcast_vectors=True)
    ranks = {
        r.neighbor_id: r.rank for r in SIM.lsh_topk(emb, qs, **kw).collect()
    }
    real = [rk for nid, rk in ranks.items() if nid != 99]
    assert real
    assert 99 not in ranks or ranks[99] > max(real)


def _td_embedding_corpus(spark):
    from illumio_spark.queries.catalog_td import embedding_neardup_corpus

    return embedding_neardup_corpus(spark, "/root/testdata/sf0.001")


def test_lsh_neardup_pairs_matmul_mode_equals_expr(spark, monkeypatch):
    """Both verify regimes, each forced through the crossover bound,
    must produce the exact same pair set on the real embeddings table
    (the td_embedding_neardup corpus)."""
    corpus = _td_embedding_corpus(spark)
    kw = dict(threshold=0.9, n_planes=8, dim=64, n_tables=9)
    got = {}
    for regime, bound in (("expr", float("inf")), ("matmul", -1)):
        monkeypatch.setattr(SIM, "MATMUL_MIN_PAIRS_PER_BUCKET", bound)
        pairs = SIM.lsh_neardup_pairs(corpus, **kw)
        assert _plans_matmul(pairs) == (regime == "matmul")
        got[regime] = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got["matmul"] == got["expr"] and len(got["expr"]) > 0


def test_lsh_neardup_pairs_verify_follows_bucket_occupancy(spark):
    """The shipped bound picks the matmul for crowded buckets (16 per
    table over 2,000 vectors: ~8,000 candidate pairs per bucket) and the
    join for the registry corpus (256 per table × 9: ~3 pairs each)."""
    rng = np.random.Generator(np.random.PCG64(11))
    vecs = rng.standard_normal((2000, 64))
    dense = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, v array<double>"
    )
    assert _plans_matmul(
        SIM.lsh_neardup_pairs(dense, n_planes=4, dim=64, n_tables=3)
    )
    from illumio_spark.queries.catalog_td import td_embedding_neardup

    assert not _plans_matmul(td_embedding_neardup(spark, "/root/testdata/sf0.001"))


def test_lsh_neardup_pairs_string_ids_equal_long_ids(spark):
    """A string id column verifies through the join and returns the
    pairs the long ids do (each pair ordered by string comparison)."""
    corpus = _td_embedding_corpus(spark)
    kw = dict(threshold=0.9, n_planes=8, dim=64, n_tables=9)
    want = {
        (r.id_a, r.id_b) for r in SIM.lsh_neardup_pairs(corpus, **kw).collect()
    }
    as_str = corpus.withColumn("vec_id", F.col("vec_id").cast("string"))
    got = {
        tuple(sorted(map(int, (r.id_a, r.id_b))))
        for r in SIM.lsh_neardup_pairs(as_str, **kw).collect()
    }
    assert got == want and len(want) > 0


def test_incremental_neardup_random_split_sweep(spark):
    """Property-style sweep: random corpora with planted exact/near/chain
    duplicates, split at random boundaries into two runs — the frontier
    path must reproduce the combined single run's keeper set at every
    split. Deterministic seeds; ids monotonic across the split so
    'seen wins' == 'min id wins'."""
    import random

    for seed, cut in [(3, 40), (5, 80), (9, 10)]:
        rng = random.Random(seed)
        words = [f"w{i}" for i in range(150)]
        rows = []
        for i in range(100):
            n = rng.randint(25, 50)
            rows.append((i, " ".join(rng.choice(words) for _ in range(n))))
        # exact dups, near dups, and a 3-link chain across the id space
        for i in range(0, 20, 2):
            rows.append((200 + i, rows[i][1]))                # exact dup
            rows.append((300 + i, rows[i][1] + " xx"))        # near dup
            rows.append((400 + i, rows[i][1] + " xx yy"))     # chain link
        df = spark.createDataFrame(rows, "doc_id long, text string")
        b1 = df.filter(F.col("doc_id") < cut)
        b2 = df.filter(F.col("doc_id") >= cut)
        kept1, bands1, _ = D.incremental_neardup(b1, None)
        kept2, _, _ = D.incremental_neardup(b2, bands1)
        incr = {r.doc_id for r in kept1.collect()} | {
            r.doc_id for r in kept2.collect()
        }
        comb = {r.doc_id for r in D.neardup_keepers(df, hash_fn="xxhash64").collect()}
        assert incr == comb, f"seed={seed} cut={cut}"
    # Equality holds here because every planted dup collides with its
    # original DIRECTLY; the one divergence case (a later-batch bridge
    # doc linking two earlier keepers) is pinned separately by
    # test_incremental_neardup_bridge_divergence.


def _bridge_triple():
    """Deterministic (a, b, c) where c = a+' '+b band-collides with both
    a and b but a and b never collide — verified in-test. 8 minhashes /
    4 bands over 3-word shingles; found by seed search, stable because
    xxhash64 is deterministic."""
    import random

    rng = random.Random(0)
    w = [f"w{i}" for i in range(300)]
    a = " ".join(rng.choice(w) for _ in range(30))
    b = " ".join(rng.choice(w) for _ in range(30))
    return a, b, a + " " + b


def test_incremental_neardup_bridge_divergence(spark):
    """The ONE case where incremental != combined, pinned: batch 1 holds
    A and B (not near-dups of each other — both correctly kept); batch 2
    holds bridge doc C, similar to both. The combined run merges
    {A, B, C} and keeps only A; the incremental run has already emitted
    B and cannot retract it. Contract: incremental keeps a strict
    SUPERSET (never drops a combined keeper), extras are exactly these
    retroactive bridge merges."""
    a, b, c = _bridge_triple()
    df = spark.createDataFrame(
        [(1, a), (2, b), (10, c)], "doc_id long, text string"
    )
    pairs = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in D.minhash_lsh_pairs(df, hash_fn="xxhash64").collect()
    }
    assert pairs == {(1, 10), (2, 10)}  # precondition: C bridges, A !~ B
    b1 = df.filter(F.col("doc_id") < 10)
    b2 = df.filter(F.col("doc_id") == 10)
    kept1, bands1, _ = D.incremental_neardup(b1, None)
    kept2, _, _ = D.incremental_neardup(b2, bands1)
    incr = {r.doc_id for r in kept1.collect()} | {
        r.doc_id for r in kept2.collect()
    }
    comb = {r.doc_id for r in D.neardup_keepers(df, hash_fn="xxhash64").collect()}
    assert comb == {1}
    assert incr == {1, 2}  # superset; 2 is the un-retractable extra
    assert comb <= incr


def test_incremental_neardup_reports_seen_merges(spark):
    """The seen_merges output surfaces the bridge event as a retraction
    signal: the batch that introduces C reports seen docs {A, B} newly
    proved connected (one component, two rows); a batch with no bridge
    reports nothing."""
    a, b, c = _bridge_triple()
    b1 = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    kept1, bands1, merges1 = D.incremental_neardup(b1, None)
    assert merges1.count() == 0  # first run: no seen docs at all
    b2 = spark.createDataFrame([(10, c)], "doc_id long, text string")
    kept2, _, merges2 = D.incremental_neardup(b2, bands1)
    rows = merges2.collect()
    assert {r.doc_id for r in rows} == {1, 2}
    assert {r.component for r in rows} == {1}  # one merged group
    assert kept2.count() == 0  # the bridge itself still drops
    # a non-bridging batch reports no merges
    b3 = spark.createDataFrame(
        [(20, "totally fresh unrelated words never seen before anywhere")],
        "doc_id long, text string",
    )
    _, _, merges3 = D.incremental_neardup(b3, bands1)
    assert merges3.count() == 0


def test_compact_frontier_retracts_bridge_merge(spark):
    """Compaction closes the incremental-vs-combined gap: after the
    bridge batches emit {A, B}, full CC over the persisted band table
    returns canonical {A} and retraction (B → A) — removing retractions
    from the emitted set reproduces the combined run exactly."""
    a, b, c = _bridge_triple()
    b1 = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    b2 = spark.createDataFrame([(10, c)], "doc_id long, text string")
    kept1, bands1, _ = D.incremental_neardup(b1, None)
    kept2, bands2, _ = D.incremental_neardup(b2, bands1)
    frontier = bands1.unionByName(bands2)
    emitted = kept1.select("doc_id").unionByName(kept2.select("doc_id"))
    canonical, retractions = D.compact_neardup_frontier(frontier, emitted)
    assert {r.doc_id for r in canonical.collect()} == {1}
    rets = retractions.collect()
    assert [(r.doc_id, r.component) for r in rets] == [(2, 1)]
    emitted_ids = {r.doc_id for r in emitted.collect()}
    df = b1.unionByName(b2)
    comb = {r.doc_id for r in D.neardup_keepers(df, hash_fn="xxhash64").collect()}
    assert emitted_ids - {r.doc_id for r in rets} == comb


def test_compact_frontier_equals_combined_keepers(spark):
    """On a real corpus: canonical ids from the band table alone (star
    edges, compaction never re-reads text) equal the min-id members of
    CC over the PAIRWISE candidate list, and duplicated band rows
    (idempotent frontier re-appends) change nothing."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    bands = D.band_signatures(docs)
    ref = D.neardup_components(
        docs.select("doc_id"), D.minhash_lsh_pairs(docs, hash_fn="xxhash64")
    )
    want = {r.doc_id for r in ref.filter("doc_id = component").collect()}
    got = {
        r.doc_id for r in D.compact_neardup_frontier(bands).collect()
    }
    assert got == want
    doubled = bands.unionByName(bands)  # replayed append
    got2 = {
        r.doc_id for r in D.compact_neardup_frontier(doubled).collect()
    }
    assert got2 == want
    # no-bridge frontier: zero retractions against its own keeper set
    emitted = D.neardup_keepers(docs, hash_fn="xxhash64").select("doc_id")
    assert {r.doc_id for r in emitted.collect()} == want
    _, rets = D.compact_neardup_frontier(bands, emitted)
    assert rets.count() == 0


def _seeded_band_rows(seed: int, str_ids: bool, md5_keys: bool) -> list:
    """A distinct (id, band_idx, band_key) table over 300 seeded ids, four
    bands each: unique keys (singleton buckets) except for a 40-member
    hot bucket in band2, a 12-link chain whose consecutive links share a
    key in alternating bands, and 15 random pairs sharing one band."""
    import hashlib
    import random

    rng = random.Random(seed)
    vals = rng.sample(range(100_000), 300)
    keys = {(v, j): f"u{v}-{j}" for v in vals for j in range(4)}
    for v in vals[:40]:
        keys[(v, 2)] = "hot"
    chain = vals[40:53]
    for i, (x, y) in enumerate(zip(chain, chain[1:])):
        keys[(x, i % 4)] = keys[(y, i % 4)] = f"chain{i}"
    for i in range(15):
        x, y = rng.sample(vals[53:], 2)
        j = rng.randrange(4)
        keys[(x, j)] = keys[(y, j)] = f"pair{i}-{j}"

    def key(raw: str):
        hexed = hashlib.md5(raw.encode()).hexdigest()
        return hexed if md5_keys else int(hexed[:15], 16)

    doc_id = (lambda v: f"d{v}") if str_ids else (lambda v: v)
    return [(doc_id(v), f"band{j}", key(k)) for (v, j), k in keys.items()]


@pytest.mark.parametrize(
    "str_ids,md5_keys", [(False, False), (False, True), (True, False), (True, True)]
)
def test_compact_frontier_both_regimes_match_union_find(spark, monkeypatch, str_ids, md5_keys):
    """compact_neardup_frontier against a pure-Python union-find over the
    band buckets, with the band table labelled on the driver (cap = its
    row count) and through star edges (cap -1): canonical ids and the
    retractions of an emitted set that holds both keepers and dropped
    ids. Replayed band rows change nothing. The driver regime must run
    fewer Spark jobs: 6 here (the band count that picks the regime, the
    Arrow collect, the canonical collect and the retraction join). It ran
    17 while every band table went through star edges, their count and
    collect, a label join and its checkpoint."""
    import random

    rows = _seeded_band_rows(11, str_ids, md5_keys)
    buckets: dict = {}
    for i, b, k in rows:
        buckets.setdefault((b, k), []).append(i)
    ids = sorted({i for i, _, _ in rows})
    label = _union_find_labels(ids, [(m[0], v) for m in buckets.values() for v in m[1:]])
    emitted_ids = random.Random(5).sample(ids, 120)
    want_canonical = {i for i in ids if label[i] == i}
    want_retractions = {(i, label[i]) for i in emitted_ids if label[i] != i}
    assert 1 < len(want_canonical) < len(ids) - 40 and want_retractions

    id_type = "string" if str_ids else "long"
    key_type = "string" if md5_keys else "long"
    bands = spark.createDataFrame(
        rows + rows[::7], f"doc_id {id_type}, band_idx string, band_key {key_type}"
    )
    emitted = spark.createDataFrame([(i,) for i in emitted_ids], f"doc_id {id_type}")
    sc = spark.sparkContext
    jobs = {}
    for regime, cap in (("driver", len(rows)), ("star_edges", -1)):
        monkeypatch.setattr(D, "DRIVER_CC_MAX_EDGES", cap)
        group = f"compact-regime-{regime}-{id_type}-{key_type}"
        sc.setJobGroup(group, "compact_neardup_frontier regime")
        try:
            canonical, retractions = D.compact_neardup_frontier(bands, emitted)
            got_canonical = {r.doc_id for r in canonical.collect()}
            got_retractions = {(r.doc_id, r.component) for r in retractions.collect()}
            jobs[regime] = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(None, None)
        assert got_canonical == want_canonical, regime
        assert got_retractions == want_retractions, regime
    assert jobs["driver"] < jobs["star_edges"], jobs
    assert jobs["driver"] <= 8, jobs
