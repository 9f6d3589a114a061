"""Regression tests for ANSI-mode edge guards (round-2 ADVICE fixes).

Spark 4 runs with ANSI mode on by default; these inputs used to abort whole
jobs: short documents (element_at past array end in word_shingles), empty
text (divide-by-zero in quality_columns), zero-norm vectors (cosine).
"""

import pytest
from pyspark.sql import functions as F

from illumio_spark.operators import curation as CUR
from illumio_spark.operators import dedup as D
from illumio_spark.operators import similarity as SIM
from illumio_spark.functions import text as TX


def test_word_shingles_short_docs(spark):
    rows = [(0, "hi there"), (1, "one"), (2, ""), (3, "a b c"), (4, "a b c d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.sh for r in df.select("doc_id", D.word_shingles(F.col("text"), 3).alias("sh")).collect()}
    assert out[0] == []  # < k tokens → empty, matches DuckDB oracle range()
    assert out[1] == []
    assert out[3] == ["a b c"]
    assert out[4] == ["a b c", "b c d"]


def test_minhash_pipeline_survives_short_docs(spark):
    rows = [(0, "hi there"), (1, "the quick brown fox jumps over the lazy dog")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = D.word_shingles(F.col("text"), 3)
    sigs = df.select("doc_id", *D.minhash_signature(sh, n_hashes=4)).collect()
    by_id = {r.doc_id: r for r in sigs}
    assert by_id[0].mh0 is None  # no shingles → null minhash, not a job abort
    assert by_id[1].mh0 is not None


@pytest.mark.parametrize("k", [0, -1])
def test_exploded_shingles_rejects_k_below_one(spark, k):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k must be >= 1"):
        D.exploded_shingles(df, k=k)
    with pytest.raises(ValueError, match="k must be >= 1"):
        D.verbatim_overlap_spans(df, k=k)


HASH_FN_ENTRY_POINTS = {
    "minhash_signature": lambda df, h: D.minhash_signature(
        D.word_shingles(F.col("text")), hash_fn=h
    ),
    "minhash_signatures_df": lambda df, h: D.minhash_signatures_df(df, hash_fn=h),
    "lsh_bands": lambda df, h: D.lsh_bands(hash_fn=h),
    "band_signatures": lambda df, h: D.band_signatures(df, hash_fn=h),
    "neardup_keepers": lambda df, h: D.neardup_keepers(df, hash_fn=h),
    "verbatim_overlap_pairs": lambda df, h: D.verbatim_overlap_pairs(df, k=2, hash_fn=h),
    "verbatim_overlap_spans": lambda df, h: D.verbatim_overlap_spans(df, k=2, hash_fn=h),
    "simhash_blocks_df": lambda df, h: TX.simhash_blocks_df(df, hash_fn=h),
    "hashing_embed": lambda df, h: SIM.hashing_embed(df, hash_fn=h),
    "shuffle_shards": lambda df, h: CUR.shuffle_shards(df, 4, ("doc_id",), hash_fn=h),
}


@pytest.mark.parametrize("entry", sorted(HASH_FN_ENTRY_POINTS))
def test_unknown_hash_fn_raises(spark, entry):
    """Every hash_fn entry point rejects an unknown name when the plan is
    built; the minhash, band and simhash builders used to fall back to md5
    and the verbatim operators and hashing_embed to xxhash64."""
    df = spark.createDataFrame([(0, "a b c d"), (1, "a b c e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unknown hash_fn 'sha1'"):
        HASH_FN_ENTRY_POINTS[entry](df, "sha1")


def test_quality_columns_empty_text(spark):
    df = spark.createDataFrame([(0, ""), (1, "hello, world!")], "doc_id long, text string")
    cols = TX.quality_columns(F.col("text"))
    out = {r.doc_id: r for r in df.select("doc_id", *[c.alias(n) for n, c in cols.items()]).collect()}
    assert out[0].punct_ratio is None  # 0 chars → null, not DIVIDE_BY_ZERO
    assert out[1].punct_ratio == pytest.approx(2 / 13, abs=1e-6)


def test_cosine_zero_norm(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0], [1.0, 0.0]), (1, [1.0, 0.0], [1.0, 0.0])],
        "i long, a array<double>, b array<double>",
    )
    out = {r.i: r.c for r in df.select("i", SIM.cosine(F.col("a"), F.col("b")).alias("c")).collect()}
    assert out[0] is None  # zero-norm → null similarity
    assert out[1] == pytest.approx(1.0)
