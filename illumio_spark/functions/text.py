"""Text-analysis operators for training-data pipelines.

JVM column expressions where built-ins suffice (token counts, quality
ratios); Arrow-batched pandas UDFs (numpy-vectorized, never per-row
Python loops over rows) where they don't (simhash, language n-gram
scoring, rolling-hash fingerprints).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F, types as T

from pyspark.sql.functions import pandas_udf

from illumio_spark.functions import check_hash_fn

# ---------------------------------------------------------------------------
# JVM-side building blocks
# ---------------------------------------------------------------------------


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish regex variant below)."""
    return F.size(F.split(F.trim(text), r"\s+"))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: words + punctuation as separate tokens."""
    return F.size(F.regexp_extract_all(text, F.lit(r"\w+|[^\w\s]"), 0))


def quality_columns(text: Column) -> dict[str, Column]:
    """Cheap quality signals: length, word count, chars/word, punct ratio."""
    n_chars = F.length(text)
    n_words = token_count(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[.,!?;:]", ""))
    # try_divide: empty text (n_chars = 0) must yield NULL, not a
    # DIVIDE_BY_ZERO abort under Spark 4's default ANSI mode
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "chars_per_word": F.round(F.try_divide(n_chars.cast("double"), n_words), 4),
        "punct_ratio": F.round(F.try_divide(n_punct.cast("double"), n_chars), 6),
    }


STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is"]


def stopword_count(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS_EN)])
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    return F.size(F.filter(toks, lambda w: F.array_contains(sw, w)))


# ---------------------------------------------------------------------------
# SimHash — pure JVM column expressions, cross-engine checkable
# ---------------------------------------------------------------------------
#
# Token hash = first 16 hex chars of md5(token) (identical in Spark and
# DuckDB); signature bit b = majority vote of bit b over the document's
# distinct tokens. The signature is produced as FOUR 16-bit blocks so the
# near-dup search can equi-join on (block_idx, block_value): by pigeonhole,
# any pair at hamming distance ≤ 3 agrees on at least one of the 4 blocks —
# same output as the O(n²) all-pairs join, but the shuffle moves only
# compact band keys (the 100 TB path, mirroring the minhash-LSH banding in
# operators/dedup.py).

SIMHASH_BLOCKS = 4
_HEX = "0123456789abcdef"


def _simhash_vote_bits(text: Column) -> tuple[Column, Column]:
    """(bits, n): bits = 64-int array of majority bits (char-major,
    MSB-first per nibble) over distinct-token md5 prefixes; n = token count."""
    toks = F.filter(
        F.array_distinct(F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+")),
        lambda t: t != "",
    )
    hashes = F.transform(toks, lambda t: F.substring(F.md5(t), 1, 16))
    n = F.size(hashes)

    def tok_bits(h: Column) -> Column:
        nib_arrays = []
        for p in range(1, 17):
            nib = F.conv(h.substr(F.lit(p), F.lit(1)), 16, 10).cast("int")
            nib_arrays.append(
                F.array(*[F.shiftright(nib, j).bitwiseAND(F.lit(1)) for j in (3, 2, 1, 0)])
            )
        return F.flatten(F.array(*nib_arrays))

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, tok_bits(h), lambda a, b: a + b),
    )
    # majority: bit set iff votes > n/2 (2v > n avoids fractional compare);
    # empty docs give n = 0 → all bits 0, no special case needed
    bits = F.transform(votes, lambda v: F.when(v * 2 > n, F.lit(1)).otherwise(F.lit(0)))
    return bits, n


def simhash_blocks(text: Column, n_blocks: int = SIMHASH_BLOCKS) -> list[Column]:
    """SimHash as n_blocks 16-bit integer blocks (big-endian bit order).

    Column-expression form for ad-hoc / small inputs: the vote loop is a
    higher-order aggregate (interpreted, shared subtree re-evaluated per
    block). At corpus scale use simhash_blocks_df — explode + codegen'd
    sums, measured 14× faster on 5k docs."""
    bits, _ = _simhash_vote_bits(text)
    out = []
    for k in range(n_blocks):
        block_bits = F.slice(bits, k * 16 + 1, 16)
        out.append(F.aggregate(block_bits, F.lit(0), lambda acc, b: acc * 2 + b))
    return out


def simhash(text: Column) -> Column:
    """64-bit SimHash as a single long (blocks packed big-endian)."""
    sig = F.lit(0).cast("long")
    for k, blk in enumerate(simhash_blocks(text)):
        sig = sig.bitwiseOR(F.shiftleft(blk.cast("long"), 48 - 16 * k))
    return sig


def simhash_blocks_df(
    df, id_col: str = "doc_id", text_col: str = "text", n_blocks: int = SIMHASH_BLOCKS,
    hash_fn: str = "md5",
):
    """(id, b0..b3) via explode + codegen'd SUMs — the 100 TB path.

    The per-row array version above runs its higher-order vote loop in an
    INTERPRETED projection (HOFs don't codegen; measured 34 s / 5k docs).
    This variant explodes distinct tokens and aggregates 64 bit-sums with
    whole-stage-codegen HashAggregate: partial aggregation collapses each
    doc to one row map-side, so the shuffle moves only (id, 64 ints).
    Identical signatures by construction (pytest-asserted vs the column
    version and the DuckDB oracle).

    hash_fn='md5' (default): token bits from the md5 hex prefix — what the
    DuckDB oracle reproduces. hash_fn='xxhash64' (engine-internal fast
    path): bits straight off one xxhash64 long — no hex substring/conv
    string work per token (near-dup pair outputs pytest-asserted identical
    on the golden corpus).

    Token dedup happens AFTER a codegen'd explode (distinct on (id, token))
    rather than via array_distinct + an interpreted F.filter lambda over
    the array — per-row HOFs cost ~24 µs/element on this box (the minhash
    shingle-build lesson); '' maps to null so zero-token docs survive the
    explode with null sums → all-zero blocks, same as the array version."""
    check_hash_fn(hash_fn)
    # shuffle the narrow doc rows before the explode: hash(id) satisfies
    # both the (id, tok) distinct and the per-doc groupBy, so the signature
    # costs one shuffle of doc rows instead of two of token rows
    df = df.repartition(F.col(id_col))
    # explode_outer keeps zero-token docs (null token → null sums → blocks 0)
    t = df.select(
        id_col,
        F.explode_outer(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
        ).alias("__rawtok"),
    )
    t = t.select(id_col, F.nullif(F.col("__rawtok"), F.lit("")).alias("tok")).distinct()
    sums, names = [], []
    if hash_fn == "xxhash64":
        hl = F.xxhash64(F.col("tok"))
        for i in range(64):  # MSB-first
            name = f"__s{i}"
            bit = F.shiftright(hl, 63 - i).bitwiseAND(F.lit(1)).cast("int")
            sums.append(F.sum(bit).alias(name))
            names.append(name)
    else:
        h = F.substring(F.md5(F.col("tok")), 1, 16)
        for p in range(1, 17):  # hex char, MSB-first
            nib = F.conv(F.substring(h, p, 1), 16, 10).cast("int")
            for j in (3, 2, 1, 0):  # bit within nibble, MSB-first
                name = f"__s{(p - 1) * 4 + (3 - j)}"
                sums.append(F.sum(F.shiftright(nib, j).bitwiseAND(F.lit(1))).alias(name))
                names.append(name)
    agg = t.groupBy(id_col).agg(F.count(F.col("tok")).alias("__n"), *sums)

    blocks = []
    n = F.col("__n")
    for k in range(n_blocks):
        blk = F.lit(0)
        for i in range(16):
            bit = F.when(F.coalesce(F.col(names[k * 16 + i]), F.lit(0)) * 2 > n, 1).otherwise(0)
            blk = blk * 2 + bit
        blocks.append(blk.alias(f"b{k}"))
    return agg.select(id_col, *blocks)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


_LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "was"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "pas"],
    "es": ["el", "la", "que", "es", "los"],
}
_LANG_ORDER = list(_LANG_MARKERS)  # tie-break priority: first wins
_CJK_RANGE = "[一-鿿]"


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-word counts — pure JVM regexp_count passes."""
    low = F.lower(F.coalesce(text, F.lit("")))
    return {
        lang: sum(F.regexp_count(low, F.lit(rf"\b{w}\b")) for w in words)
        for lang, words in _LANG_MARKERS.items()
    }


def lang_guess(text: Column) -> Column:
    """Marker-word language ID as a JVM column expression.

    CJK-codepoint presence short-circuits to 'zh'; all-zero scores → 'unk';
    ties break by _LANG_ORDER priority (en > de > fr > es), matching the
    DuckDB oracle's CASE chain."""
    low = F.lower(F.coalesce(text, F.lit("")))
    scores = lang_scores(text)
    pred = F.lit(_LANG_ORDER[-1])
    # build the CASE chain back-to-front: lang wins if >= all later langs
    for i in range(len(_LANG_ORDER) - 2, -1, -1):
        lang = _LANG_ORDER[i]
        cond = None
        for later in _LANG_ORDER[i + 1:]:
            c = scores[lang] >= scores[later]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang).otherwise(pred)
    all_zero = sum(scores.values()) <= 0
    return (
        F.when(low.rlike(_CJK_RANGE), "zh")
        .when(all_zero, "unk")
        .otherwise(pred)
    )


ROLLING_BASE = 1000003


@pandas_udf(T.LongType())
def rolling_fingerprint(text: pd.Series) -> pd.Series:
    """Polynomial rolling-hash document fingerprint (numpy Horner).

    Defined over UNICODE CODEPOINTS mod 2^64 (returned as two's-complement
    int64) so the DuckDB oracle can reproduce it exactly with
    list_reduce(unicode(char)) HUGEINT arithmetic."""
    base = np.uint64(ROLLING_BASE)

    def one(t):
        if not isinstance(t, str) or not t:
            return 0
        # utf-32-le decode = vectorized codepoint extraction
        arr = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
        # h = Σ cp[i]·base^(n-1-i) mod 2^64 — fully vectorized wrap arithmetic
        with np.errstate(over="ignore"):
            pows = np.empty(len(arr), dtype=np.uint64)
            pows[0] = 1
            if len(arr) > 1:
                np.cumprod(np.full(len(arr) - 1, base, dtype=np.uint64), out=pows[1:])
            h = (arr * pows[::-1]).sum(dtype=np.uint64)
        return int(h.astype(np.int64))

    return text.map(one)


def bigram_lm_scores(
    df: "DataFrame", id_col: str = "doc_id", text_col: str = "text",
    alpha: float = 0.1, quantize: float | None = None,
) -> "DataFrame":
    """Corpus-trained bigram language-model quality score per document —
    the statistical upgrade to the heuristic quality_columns filter: docs
    whose token transitions are improbable UNDER THE CORPUS'S OWN
    distribution (boilerplate permutations, shuffled/garbage text, wrong
    language) score low; fluent in-distribution text scores high.

    Returns (id, n_bigrams, avg_log2_prob) where
    P(b|a) = (c(a,b)+alpha) / (c(a)+alpha*V), add-alpha smoothed.

    The vocabulary size V is computed INSIDE the plan (row count of the
    unigram table, cross-joined as a 1-row broadcast) — building this plan
    launches no Spark job, and one lineage serves all three count tables.

    With quantize set (e.g. 1e6), each per-bigram log2 term is rounded to
    a LONG on that grid before the per-doc aggregation: integer addition
    is order-independent, so the per-doc score is bit-stable across
    partitionings, shuffle fetch orders, and engines — the mode the
    cross-engine oracle row runs (float summation order would otherwise
    drift a few ulps run-to-run). avg_log2_prob is then sum/(n*quantize).

    Scale shape (100 TB): pure DataFrame — one token explode feeds BOTH
    count tables (unigram groupBy, bigram groupBy with map-side partial
    aggregation), per-doc scoring is two equi-joins on token keys + one
    groupBy; counts for real corpora are Zipf-skewed, so AQE's skew-join
    splitting handles the hot-token join keys. No UDF anywhere."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # shuffle the narrow doc rows before the explode: the bigram window is
    # id-keyed, so this replaces its token-level exchange
    df = df.repartition(F.col(id_col))
    toks = df.select(
        id_col,
        F.posexplode_outer(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__pos", "__tok"),
    ).filter(F.col("__tok").isNotNull() & (F.col("__tok") != ""))
    w = Window.partitionBy(id_col).orderBy("__pos")
    pairs = toks.select(
        id_col,
        F.col("__tok").alias("__a"),
        F.lead("__tok", 1).over(w).alias("__b"),
    ).filter(F.col("__b").isNotNull())

    uni = toks.groupBy(F.col("__tok").alias("__a")).agg(F.count("*").alias("__ca"))
    bi = pairs.groupBy("__a", "__b").agg(F.count("*").alias("__cab"))
    vocab = uni.agg(F.count("*").alias("__v"))

    lp = F.log2(
        (F.col("__cab") + F.lit(alpha))
        / (F.col("__ca") + F.lit(alpha) * F.col("__v"))
    )
    scored = (
        pairs.join(bi, ["__a", "__b"])
        .join(uni, "__a")
        .crossJoin(F.broadcast(vocab))
    )
    if quantize is not None:
        scored = scored.withColumn(
            "__lp_q", F.round(lp * F.lit(quantize)).cast("long")
        )
        return scored.groupBy(id_col).agg(
            F.count("*").alias("n_bigrams"),
            (F.sum("__lp_q") / (F.count("*") * F.lit(quantize))).alias("avg_log2_prob"),
        )
    scored = scored.withColumn("__lp", lp)
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.avg("__lp").alias("avg_log2_prob"),
    )


# --- PII scrubbing (training-data hygiene) ---------------------------------
# Conservative patterns that parse identically under Java regex and RE2:
# no lookarounds, no backrefs. Order matters: SSN before phone (the phone
# pattern would otherwise consume SSN-shaped digit runs), email before
# phone (digits in mail local parts).
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+?\d[\d().-]{7,}\d"),
]


def scrub_pii(text: Column) -> Column:
    """Redact emails / SSNs / IPv4s / phone-shaped digit runs in place —
    the standard pre-training hygiene pass, as a chain of JVM
    regexp_replace expressions (codegen, zero Python)."""
    from pyspark.sql import functions as F

    out = text
    for kind, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"[{kind.upper()}]")
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII hit counts (for filtering thresholds / audit stats).

    Each kind counts against the text with all EARLIER kinds already
    redacted — the same precedence the scrubber applies — so an SSN or
    dotted IP is not double-counted by the looser phone pattern."""
    from pyspark.sql import functions as F

    out: dict[str, Column] = {}
    cur = text
    for kind, pat in PII_PATTERNS:
        out[f"n_{kind}"] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, f"[{kind.upper()}]")
    return out


def repetition_signals(
    df: "DataFrame", id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":
    """Per-document repetition signals (the Gopher/C4 repetition filters):
      dup_line_frac   — fraction of newline-separated lines that are
                        repeats of an earlier line in the same doc;
      top_bigram_frac — fraction of the doc's bigram slots taken by its
                        single most frequent bigram.
    Highly repetitive docs (boilerplate, scraped nav, degenerate loops)
    spike both. Scale shape: two explodes with map-side-combined groupBys,
    all per-doc keys — no cross-doc shuffle skew beyond doc size."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # shuffle the narrow doc rows before the explodes: both branches' per-doc
    # groupBys key on id and share this one exchange
    df = df.repartition(F.col(id_col))
    lines = df.select(
        id_col, F.explode(F.split(F.col(text_col), "\n")).alias("__line")
    ).filter(F.trim("__line") != "")
    line_stats = (
        lines.groupBy(id_col, "__line")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg(
            (
                (F.sum("__c") - F.count("*")) / F.sum("__c")
            ).alias("dup_line_frac")
        )
    )

    toks = df.select(
        id_col,
        F.posexplode_outer(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__pos", "__tok"),
    ).filter(F.col("__tok").isNotNull() & (F.col("__tok") != ""))
    w = Window.partitionBy(id_col).orderBy("__pos")
    bi = toks.select(
        id_col,
        F.concat_ws(" ", F.col("__tok"), F.lead("__tok", 1).over(w)).alias("__b"),
        F.lead("__tok", 1).over(w).alias("__next"),
    ).filter(F.col("__next").isNotNull())
    bi_stats = (
        bi.groupBy(id_col, "__b")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg((F.max("__c") / F.sum("__c")).alias("top_bigram_frac"))
    )
    return line_stats.join(bi_stats, id_col, "full_outer")


def c4_quality_signals(
    df: "DataFrame", id_col: str = "doc_id", text_col: str = "text",
    min_sentences: int = 3, min_alpha_frac: float = 0.8,
    word_len_band: tuple[float, float] = (3.0, 10.0),
) -> "DataFrame":
    """C4/Gopher page-quality signals + the composed keep flag — the
    line/page filters of Raffel et al. (C4) and Rae et al. (Gopher):

      frac_lines_end_punct — fraction of non-empty lines ending in
                             terminal punctuation (C4 keeps such lines);
      n_sentences          — count of sentence terminators [.!?];
      has_lorem_ipsum      — placeholder-text marker (C4 page drop);
      has_curly_brace      — code marker '{' (C4 page drop);
      frac_alpha_words     — fraction of words containing a letter
                             (Gopher: >= 0.8);
      mean_word_len        — Gopher: within [3, 10];
      c4_keep              — the conjunction (>=3 sentences, no lorem,
                             no brace, alpha/length bands), null-safe
                             false for empty/null docs.

    Cross-engine parity: every fraction is a single division of exact
    integer aggregates (bit-equal doubles in any engine, no rounding).
    Scale shape: two explodes with per-doc map-side-combined groupBys
    LEFT-joined onto a row-level scalar projection — per-doc keys only,
    all JVM expressions, no UDF."""
    from pyspark.sql import functions as F

    # shuffle the narrow doc rows before the explodes: both branches' per-doc
    # groupBys and the id-keyed joins below share this one exchange
    df = df.repartition(F.col(id_col))
    text = F.col(text_col)
    scalars = df.select(
        id_col,
        F.regexp_count(text, F.lit(r"[.!?]")).alias("n_sentences"),
        F.lower(text).contains("lorem ipsum").alias("has_lorem_ipsum"),
        text.contains("{").alias("has_curly_brace"),
    )

    lines = df.select(
        id_col, F.explode(F.split(text, "\n")).alias("__line")
    ).filter(F.trim("__line") != "")
    line_stats = lines.groupBy(id_col).agg(
        F.count("*").alias("n_lines"),
        (
            F.sum(
                F.when(
                    F.substring(F.rtrim(F.col("__line")), -1, 1).isin(
                        ".", "!", "?", '"'
                    ),
                    1,
                ).otherwise(0)
            )
            / F.count("*")
        ).alias("frac_lines_end_punct"),
    )

    words = df.select(
        id_col,
        F.posexplode_outer(F.split(F.trim(text), r"\s+")).alias("__pos", "__w"),
    ).filter(F.col("__w").isNotNull() & (F.col("__w") != ""))
    word_stats = words.groupBy(id_col).agg(
        F.count("*").alias("n_words"),
        (
            F.sum(F.when(F.col("__w").rlike("[A-Za-z]"), 1).otherwise(0))
            / F.count("*")
        ).alias("frac_alpha_words"),
        (F.sum(F.length("__w")) / F.count("*")).alias("mean_word_len"),
    )

    out = scalars.join(line_stats, id_col, "left").join(word_stats, id_col, "left")
    keep = (
        (F.col("n_sentences") >= min_sentences)
        & ~F.col("has_lorem_ipsum")
        & ~F.col("has_curly_brace")
        & (F.col("frac_alpha_words") >= min_alpha_frac)
        & F.col("mean_word_len").between(*word_len_band)
    )
    return out.withColumn("c4_keep", F.coalesce(keep, F.lit(False)))


# URL / domain analysis --------------------------------------------------
# Host-charset regex chosen to parse identically under Java regex and RE2
# (no lookarounds); the host is everything after the scheme up to the
# first non-host character.
URL_HOST_PATTERN = r"https?://[A-Za-z0-9.-]+"


def doc_url_stats(
    df: "DataFrame", id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":
    """Per-document URL signals: total URL mentions and distinct domains —
    the inputs to link-spam filtering and URL-based dedup keys. One
    regexp_extract_all + explode, one per-doc groupBy (map-side combined)."""
    from pyspark.sql import functions as F

    # shuffle the narrow doc rows before the explode: the per-doc groupBy
    # then needs no further exchange
    df = df.repartition(F.col(id_col))
    urls = df.select(
        id_col,
        F.explode_outer(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_HOST_PATTERN), 0)
        ).alias("__u"),
    )
    dom = F.lower(F.regexp_replace(F.col("__u"), r"^https?://", ""))
    return urls.select(id_col, dom.alias("__d")).groupBy(id_col).agg(
        F.count("__d").alias("n_urls"),
        F.count_distinct(F.col("__d")).alias("n_domains"),
    )


def domain_counts(
    df: "DataFrame", id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":
    """Corpus-level domain frequency (domain, n_docs, n_urls) — the table
    a curation pipeline ranks to build domain allow/block lists. Shuffle
    key is the domain string; real crawls are Zipf-skewed on it, which
    AQE skew-join/partition-coalescing absorbs (same shape as the
    bigram-LM hot-token joins)."""
    from pyspark.sql import functions as F

    urls = df.select(
        id_col,
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_HOST_PATTERN), 0)
        ).alias("__u"),
    )
    dom = F.lower(F.regexp_replace(F.col("__u"), r"^https?://", ""))
    return (
        urls.select(id_col, dom.alias("domain"))
        .groupBy("domain")
        .agg(
            F.count_distinct(F.col(id_col)).alias("n_docs"),
            F.count("*").alias("n_urls"),
        )
    )
