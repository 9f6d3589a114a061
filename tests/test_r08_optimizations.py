"""Focused tests for the round-8 optimization internals.

Each r8 change keeps a declared query's output bit-identical; these tests
pin the internal contracts the optimizations rely on:
  - star-contraction CC: correct labels on adversarial graph shapes and
    tolerance of duplicate input pairs (the up-front distinct was removed);
  - simhash signature canonicalization: pair output equals the brute-force
    all-pairs hamming computation on a duplicate-heavy corpus;
  - py_strip edge probe: byte-equality with str.strip() on edge cases that
    exercise the probe (whitespace edges, interior-only whitespace,
    unicode whitespace, empty/null).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def test_cc_random_permuted_path_and_dup_pairs(spark):
    # a 600-node path with randomly permuted ids (the shape where plain
    # min-label propagation needs ~hundreds of rounds), fed with each pair
    # DUPLICATED — neardup_components no longer pre-distincts its input,
    # so duplicate tolerance is part of the contract
    from illumio_spark.operators.dedup import neardup_components

    n = 600
    perm = list(range(n))
    random.Random(7).shuffle(perm)
    edges = [(perm[i], perm[i + 1]) for i in range(n - 1)]
    pairs = spark.createDataFrame(edges + edges, "id_a long, id_b long")
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    comp = neardup_components(nodes, pairs, "doc_id")
    rows = comp.collect()
    assert len(rows) == n
    assert all(r.component == 0 for r in rows)


def test_cc_two_components_and_reversed_pairs(spark):
    # pair orientation must not matter (id_a > id_b rows are canonicalized)
    from illumio_spark.operators.dedup import neardup_components

    pairs = spark.createDataFrame(
        [(5, 1), (3, 5), (9, 7)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 3, 5, 7, 9, 11)], "doc_id long"
    )
    comp = {r.doc_id: r.component for r in neardup_components(nodes, pairs).collect()}
    assert comp[1] == comp[3] == comp[5] == 1
    assert comp[7] == comp[9] == 7
    assert comp[11] == 11


def test_simhash_canonicalization_equals_brute_force(spark):
    # duplicate-heavy corpus: 3 base docs, each replicated several times,
    # plus small perturbations — the signature-level join must reproduce
    # exactly the all-pairs hamming<=3 result (including hamming values)
    from illumio_spark.functions.text import simhash_blocks_df
    from illumio_spark.operators.dedup import simhash_neardup_pairs

    rng = random.Random(3)
    words = [f"w{i}" for i in range(80)]
    bases = [" ".join(rng.choice(words) for _ in range(40)) for _ in range(3)]
    rows = []
    doc_id = 0
    for b in bases:
        for _ in range(6):  # identical replicas
            rows.append((doc_id, b)); doc_id += 1
        rows.append((doc_id, b + " perturbation token")); doc_id += 1
    for _ in range(20):  # unrelated noise docs
        rows.append((doc_id, " ".join(rng.choice(words) for _ in range(40))))
        doc_id += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_neardup_pairs(df, max_hamming=3, hash_fn="xxhash64").collect()
    }

    sigs = simhash_blocks_df(df, hash_fn="xxhash64").collect()
    sig = {r.doc_id: (r.b0, r.b1, r.b2, r.b3) for r in sigs}
    ids = sorted(sig)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(bin(sig[a][k] ^ sig[b][k]).count("1") for k in range(4))
            if h <= 3:
                want.add((a, b, h))
    assert got == want and len(want) >= 15 * 3  # replicas alone give C(7,2)*3


def test_py_strip_edge_probe_byte_equality(spark):
    from illumio_spark.functions.format import py_strip

    cases = [
        "plain",
        "  ascii edges  ",
        "\tinterior ok here\n",
        "inner   spaces only",
        "\xa0unicode nbsp edge",
        "\u1680ogham edge\u1680",
        "\u2003em-space edge\u2003",
        "\x1cfile-sep\x1f",
        "",
        " ",
        "\u3000",
        "a",
        None,
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = [r.out for r in df.select(py_strip(F.col("s")).alias("out")).collect()]
    want = [c.strip() if isinstance(c, str) else None for c in cases]
    assert got == want


def test_neardup_stream_replay_poisoning_fixed(spark, tmp_path):
    """ADVICE r7 (high): a micro-batch replayed AFTER its frontier append
    (crash before the streaming checkpoint commit) must reproduce its
    first attempt's survivors, not read its own bands as 'seen' and
    destroy the output. Drive the per-batch body directly: run batch 0,
    then run it AGAIN with the frontier already advanced — the replay
    must emit the identical keeper set and leave no duplicate frontier
    rows; a following batch must still drop near-dups of batch 0."""
    from illumio_spark.streaming.stateful import _neardup_stream_batch

    frontier = str(tmp_path / "frontier")
    out = str(tmp_path / "out")
    docs0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "completely different text content here now")],
        "doc_id long, text string",
    )
    _neardup_stream_batch(docs0, 0, frontier, out)
    first = {r.doc_id for r in spark.read.parquet(f"{out}/batch=0").collect()}
    assert first == {1, 3}
    n_frontier = spark.read.parquet(frontier).count()

    # simulate the crash-replay: frontier already holds batch 0's bands
    _neardup_stream_batch(docs0, 0, frontier, out)
    replay = {r.doc_id for r in spark.read.parquet(f"{out}/batch=0").collect()}
    assert replay == first  # NOT empty — the r7 shape lost these rows
    assert spark.read.parquet(frontier).count() == n_frontier  # no dup rows

    # a later batch still sees batch 0 as seen (near-dup of doc 1 drops)
    docs1 = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta trailing"),
         (11, "yet another brand new unique document body")],
        "doc_id long, text string",
    )
    _neardup_stream_batch(docs1, 1, frontier, out)
    kept1 = {r.doc_id for r in spark.read.parquet(f"{out}/batch=1").collect()}
    assert kept1 == {11}


def test_embedding_stream_replay_and_torn_frontier(spark, tmp_path):
    """The embedding twin: replay after both frontier appends reproduces
    the first attempt, and a TORN state (crash between the buckets append
    and the vecs append) is healed by the replay because the incomplete
    batch partition is excluded from its own re-read and overwritten."""
    import shutil

    from illumio_spark.streaming.stateful import _embedding_stream_batch

    frontier = str(tmp_path / "efrontier")
    out = str(tmp_path / "eout")
    v = [1.0] + [0.0] * 7
    w = [0.999] + [0.0447] + [0.0] * 6
    u = [0.0] * 7 + [1.0]
    b0 = spark.createDataFrame(
        [(1, v), (2, v), (3, u)], "vec_id long, embedding array<double>"
    )
    _embedding_stream_batch(b0, 0, frontier, out, dim=8)
    first = {r.vec_id for r in spark.read.parquet(f"{out}/batch=0").collect()}
    assert first == {1, 3}

    # full replay (both appends landed): identical output, no dup state
    nb = spark.read.parquet(f"{frontier}/buckets").count()
    nv = spark.read.parquet(f"{frontier}/vecs").count()
    _embedding_stream_batch(b0, 0, frontier, out, dim=8)
    assert {r.vec_id for r in spark.read.parquet(f"{out}/batch=0").collect()} == first
    assert spark.read.parquet(f"{frontier}/buckets").count() == nb
    assert spark.read.parquet(f"{frontier}/vecs").count() == nv

    # torn state: batch 1 wrote its buckets but crashed before its vecs
    b1 = spark.createDataFrame(
        [(10, w), (11, [0.0] * 4 + [1.0] + [0.0] * 3)],
        "vec_id long, embedding array<double>",
    )
    _embedding_stream_batch(b1, 1, frontier, out, dim=8)
    shutil.rmtree(f"{frontier}/vecs/batch=1")  # simulate the torn window
    # replay of batch 1 heals it: its own partial partition is invisible
    _embedding_stream_batch(b1, 1, frontier, out, dim=8)
    kept1 = {r.vec_id for r in spark.read.parquet(f"{out}/batch=1").collect()}
    assert kept1 == {11}  # 10 is near v (seen batch 0) -> drops
    # batch 2 sees a CONSISTENT frontier incl. batch 1's vectors
    b2 = spark.createDataFrame(
        [(20, [0.0] * 4 + [0.999, 0.0447, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    _embedding_stream_batch(b2, 2, frontier, out, dim=8)
    kept2 = {r.vec_id for r in spark.read.parquet(f"{out}/batch=2").collect()}
    assert kept2 == set()  # near 11 -> seen wins


def test_matmul_and_pandas_cosine_null_ragged_vectors(spark):
    """ADVICE r7 (low): the numpy matmul path must tolerate NULL and
    mismatched-length vectors exactly like the expression cosine (NULL
    cosine -> excluded), instead of raising ValueError in the UDF."""
    from illumio_spark.operators.similarity import (
        bucket_verified_pairs,
        cosine,
    )

    rows = [
        (1, 0, 7, [1.0, 0.0, 0.0]),
        (2, 0, 7, [1.0, 0.0, 0.0]),
        (3, 0, 7, None),                 # NULL vector
        (4, 0, 7, [1.0, 0.0]),           # ragged length
        (5, 0, 7, [0.999, 0.0447, 0.0]),
        (6, 0, 7, [1.0, 0.0]),           # ragged pair with 4
    ]
    bv = spark.createDataFrame(
        rows, "vec_id long, tbl int, bucket long, __v array<double>"
    )
    got = {
        (r.id_a, r.id_b)
        for r in bucket_verified_pairs(bv, threshold=0.9).collect()
    }
    # expr-parity: NULL drops out; ragged pairs only match same-length
    assert got == {(1, 2), (1, 5), (2, 5), (4, 6)}

    pairs = spark.createDataFrame(
        [
            ([1.0, 0.0], [1.0, 0.0]),
            (None, [1.0, 0.0]),
            ([1.0, 0.0], None),
            ([1.0, 0.0, 0.0], [1.0, 0.0]),  # ragged
            ([0.0, 0.0], [1.0, 0.0]),       # zero norm -> NULL
        ],
        "a array<double>, b array<double>",
    )
    from pyspark.sql import functions as F2
    want_e = [r.c for r in pairs.select(cosine(F2.col("a"), F2.col("b")).alias("c")).collect()]
    # the expr path gives NULL for null/zero-norm; for the ragged row
    # zip_with pads with NULL so the fold is NULL too
    assert want_e == [1.0, None, None, None, None]


def test_matmul_block_bound_adapts(spark):
    """ADVICE r7 (medium): a large bucket must not allocate a
    block x M float64 sims matrix beyond the cell budget — verified
    indirectly: a 30k-member bucket with block=1024 would be 30M cells
    per block under the old fixed size; the adaptive block keeps results
    identical (pair count of the planted duplicate pair)."""
    import numpy as np

    from illumio_spark.operators.similarity import bucket_verified_pairs

    rng = np.random.default_rng(5)
    n = 3000
    vecs = rng.standard_normal((n, 8))
    rows = [(i, 0, 1, [float(x) for x in vecs[i]]) for i in range(n)]
    rows.append((n, 0, 1, [float(x) for x in vecs[0]]))  # exact dup of 0
    bv = spark.createDataFrame(
        rows, "vec_id long, tbl int, bucket long, __v array<double>"
    )
    got = {
        (r.id_a, r.id_b)
        for r in bucket_verified_pairs(bv, threshold=0.9999).collect()
    }
    assert (0, n) in got
