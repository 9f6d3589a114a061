"""Cross-engine oracles for operators that never held a driver-registry
slot (the registry is capped at 50): same row-count + sorted-values
compare the driver and tests/test_retired_queries.py run."""

import duckdb

SF = "/root/testdata/sf0.001"

DOC_URL_SQL = """
    WITH u AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+')) AS u
        FROM read_parquet('{sf}/documents.parquet')
    ),
    d AS (SELECT doc_id, lower(regexp_replace(u, '^https?://', '')) AS dom FROM u),
    s AS (SELECT doc_id, CAST(COUNT(dom) AS BIGINT) AS n_urls,
                 CAST(COUNT(DISTINCT dom) AS BIGINT) AS n_domains
          FROM d GROUP BY doc_id)
    SELECT docs.doc_id, COALESCE(n_urls, 0) AS n_urls,
           COALESCE(n_domains, 0) AS n_domains
    FROM read_parquet('{sf}/documents.parquet') docs LEFT JOIN s USING (doc_id)
"""

DOMAIN_COUNTS_SQL = """
    WITH u AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+')) AS u
        FROM read_parquet('{sf}/documents.parquet')
    ),
    d AS (SELECT doc_id, lower(regexp_replace(u, '^https?://', '')) AS domain FROM u)
    SELECT domain,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_urls
    FROM d GROUP BY domain
"""


def _compare(spark_df, sql: str):
    got = spark_df.toPandas()
    want = duckdb.sql(sql.format(sf=SF)).df()
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    assert len(got) == len(want)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        assert g[c].where(g[c].notna(), None).tolist() == \
            w[c].where(w[c].notna(), None).tolist(), f"column {c} differs"


def test_doc_url_stats_matches_oracle(spark):
    from illumio_spark.functions.text import doc_url_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _compare(doc_url_stats(docs), DOC_URL_SQL)


def test_domain_counts_matches_oracle(spark):
    from illumio_spark.functions.text import domain_counts

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _compare(domain_counts(docs), DOMAIN_COUNTS_SQL)


def test_url_ops_on_synthetic_urls(spark):
    rows = [
        (0, "see https://Example.com/page and http://example.com/x plus https://other.org"),
        (1, "no links here"),
        (2, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from illumio_spark.functions.text import doc_url_stats, domain_counts

    stats = {r.doc_id: r for r in doc_url_stats(df).collect()}
    # host charset stops at '/', case folds: example.com counted twice
    assert (stats[0].n_urls, stats[0].n_domains) == (3, 2)
    assert (stats[1].n_urls, stats[1].n_domains) == (0, 0)
    assert (stats[2].n_urls, stats[2].n_domains) == (0, 0)
    doms = {r.domain: (r.n_docs, r.n_urls) for r in domain_counts(df).collect()}
    assert doms["example.com"] == (1, 2) and doms["other.org"] == (1, 1)


def test_text_pipeline_job_end_to_end(spark, tmp_path):
    """The curation CLI chains dedup -> near-dup -> quality -> PII into
    one run: attrition must be monotone, the output parquet must exist,
    and scrubbed text must contain no raw PII patterns."""
    import argparse
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.run_text_pipeline import run

    args = argparse.Namespace(
        input=f"{SF}/documents.parquet", output=str(tmp_path / "cleaned"),
        eval=None, ngram=13, near_dups=True, quality="c4",
        min_sentences=0, min_alpha_frac=0.8,
    )
    report = run(spark, args)
    stages = {s["stage"]: s for s in report["stages"]}
    assert stages["near_dup_drop"]["dropped"] > 0  # corpus has near-dups
    rows = [s["rows_out"] for s in report["stages"]]
    assert all(a >= b for a, b in zip(rows, rows[1:]))  # monotone attrition
    assert report["final_rows"] == rows[-1] > 0
    assert report["tokens"]["total"] > 0
    out = spark.read.parquet(str(tmp_path / "cleaned"))
    assert out.count() == report["final_rows"]
    from illumio_spark.functions.text import PII_PATTERNS
    from pyspark.sql import functions as F

    for _kind, pat in PII_PATTERNS:
        assert out.filter(F.col("text").rlike(pat)).count() == 0


VERBATIM_SQL = """
    WITH toks AS (
        SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(TRIM(text), '\\s+'),
                                 x -> x <> '') AS l
              FROM read_parquet('{sf}/documents.parquet') WHERE text IS NOT NULL)
    ),
    sh AS (
        SELECT DISTINCT doc_id, md5(s) AS h FROM (
            SELECT doc_id,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                       || ' ' || lead(tok, 3) OVER w AS s,
                   lead(tok, 3) OVER w AS last
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
        WHERE last IS NOT NULL
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
"""


def test_verbatim_overlap_pairs_matches_oracle(spark):
    # k=4 at sf0.001: the wordbag corpus has genuine shared 4-grams, and
    # DuckDB reproduces the md5-shingle self-join exactly
    from illumio_spark.operators.dedup import verbatim_overlap_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _compare(verbatim_overlap_pairs(docs, k=4, hash_fn="md5"), VERBATIM_SQL)


def test_verbatim_overlap_planted(spark):
    shared = " ".join(f"w{i}" for i in range(50))
    rows = [
        (0, "prefix " + shared + " suffix a"),
        (1, "other intro " + shared + " trailing"),
        (2, "completely different text with no overlap at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from illumio_spark.operators.dedup import verbatim_overlap_pairs

    pairs = verbatim_overlap_pairs(df, k=50).collect()
    assert len(pairs) == 1
    assert (pairs[0].id_a, pairs[0].id_b) == (0, 1) and pairs[0].n_shared == 1


def test_text_pipeline_single_execution_per_stage(spark, tmp_path):
    """VERDICT r5 task 2: each stage's joins must execute exactly once —
    the surviving frame is localCheckpoint-ed before its report count, so
    report actions never re-execute upstream stages. Evidence: total
    Spark stages for a 4-stage run (dedup, decontaminate, c4, pii+write)
    measured 44 with the checkpoint vs 109 with the r5 uncached recompute
    (O(stages²)); the bound sits between with headroom for plan jitter."""
    import argparse
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.run_text_pipeline import run

    sc = spark.sparkContext
    sc.setJobGroup("curation_once", "single-execution audit")
    args = argparse.Namespace(
        input=f"{SF}/documents.parquet", output=str(tmp_path / "cleaned"),
        eval=f"{SF}/documents.parquet", ngram=13, near_dups=False,
        quality="c4", min_sentences=0, min_alpha_frac=0.8,
    )
    report = run(spark, args)
    tracker = sc.statusTracker()
    jids = tracker.getJobIdsForGroup("curation_once")
    total_stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jids)
    assert total_stages <= 70, (
        f"{total_stages} stages for a 4-stage run — the O(stages²) "
        "recompute is back (checkpointed run measures ~44, uncached ~109)"
    )
    rows = [s["rows_out"] for s in report["stages"]]
    assert all(a >= b for a, b in zip(rows, rows[1:]))
    # self-decontamination sanity: eval == corpus wipes every doc with >= 13 tokens
    stages = {s["stage"]: s for s in report["stages"]}
    assert stages["decontaminate"]["dropped"] > 0


VERBATIM_SPANS_SQL = """
    WITH toks AS (
        SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) - 1 AS pos
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(TRIM(text), '\\s+'),
                                 x -> x <> '') AS l
              FROM read_parquet('{sf}/documents.parquet') WHERE text IS NOT NULL)
    ),
    sh AS (
        SELECT doc_id, pos, md5(s) AS h FROM (
            SELECT doc_id, pos,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                       || ' ' || lead(tok, 3) OVER w AS s,
                   lead(tok, 3) OVER w AS last
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
        WHERE last IS NOT NULL
    ),
    m AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    r AS (
        SELECT *, pos_a - pos_b AS diag,
               pos_a - ROW_NUMBER()
                   OVER (PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS isl
        FROM m
    )
    SELECT id_a, id_b,
           CAST(MIN(pos_a) AS INTEGER) AS pos_a,
           CAST(MIN(pos_b) AS INTEGER) AS pos_b,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(*) + 3 AS BIGINT) AS span_tokens
    FROM r GROUP BY id_a, id_b, diag, isl
"""


def test_verbatim_overlap_spans_matches_oracle(spark):
    """Span-level ExactSubstr (VERDICT r5 task 3): DuckDB recomputes the
    maximal shared runs — positions through the self-join, gap-and-islands
    along each alignment diagonal — and every (pair, span) row must agree."""
    from illumio_spark.operators.dedup import verbatim_overlap_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _compare(verbatim_overlap_spans(docs, k=4, hash_fn="md5"), VERBATIM_SPANS_SQL)


def test_verbatim_overlap_spans_planted_block(spark):
    """A 60-token block embedded verbatim in two docs at known offsets must
    come back as ONE maximal run: 11 windows of k=50, spanning 60 tokens,
    at exactly the planted positions; a second distinct shared block in the
    same pair yields its own row."""
    shared = " ".join(f"w{i}" for i in range(60))
    shared2 = " ".join(f"z{i}" for i in range(50))
    rows = [
        (0, "p0 p1 p2 " + shared + " s0 s1 " + shared2),
        (1, "q0 " + shared + " t0 t1 t2 t3 " + shared2 + " t4"),
        (2, "completely different text with no overlap at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from illumio_spark.operators.dedup import verbatim_overlap_spans

    spans = {(r.pos_a, r.pos_b): r for r in verbatim_overlap_spans(df, k=50).collect()}
    assert len(spans) == 2
    big = spans[(3, 1)]  # doc0 block starts at token 3, doc1 at token 1
    assert (big.id_a, big.id_b) == (0, 1)
    assert big.n_windows == 11 and big.span_tokens == 60
    small = spans[(65, 65)]  # 3 + 60 + 2 = 65 in doc0; 1 + 60 + 4 = 65 in doc1
    assert small.n_windows == 1 and small.span_tokens == 50


def test_verbatim_overlap_stop_shingles(spark):
    """max_doc_freq drops ubiquitous (boilerplate) windows before the
    self-join: a 50-token block shared by ALL four docs is excluded at
    max_doc_freq=3, leaving only the pair that also shares a rare block."""
    boiler = " ".join(f"b{i}" for i in range(50))
    rare = " ".join(f"r{i}" for i in range(50))
    rows = [
        (0, boiler + " x0 " + rare),
        (1, boiler + " y0 y1 " + rare),
        (2, boiler + " unrelated filler tokens here"),
        (3, boiler + " other filler entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from illumio_spark.operators.dedup import verbatim_overlap_pairs

    capped = verbatim_overlap_pairs(df, k=50, max_doc_freq=3).collect()
    assert [(r.id_a, r.id_b) for r in capped] == [(0, 1)]
    uncapped = verbatim_overlap_pairs(df, k=50).collect()
    assert len(uncapped) == 6  # all C(4,2) pairs meet via the boilerplate


def test_cut_verbatim_spans_remediation(spark):
    """The Lee et al. cut-the-span remediation end-to-end: spans located
    by verbatim_overlap_spans are removed from the higher-id doc of each
    pair (lower id keeps the canonical copy), non-span text survives
    verbatim, a doc that IS entirely duplicated span drops, and — the
    self-validating property — re-running the detector on the cleaned
    corpus finds nothing."""
    from illumio_spark.operators.dedup import (
        cut_verbatim_spans,
        verbatim_overlap_pairs,
        verbatim_overlap_spans,
    )

    shared = " ".join(f"w{i}" for i in range(60))
    shared2 = " ".join(f"z{i}" for i in range(50))
    rows = [
        (0, "p0 p1 p2 " + shared + " s0 s1 " + shared2),
        (1, "q0 " + shared + " t0 t1 t2 t3 " + shared2 + " t4"),
        (2, "completely different text with no overlap at all"),
        (3, shared),  # pure duplicate block: fully cut -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = verbatim_overlap_spans(df, k=50)
    cleaned = cut_verbatim_spans(df, spans)
    got = {r.doc_id: r.text for r in cleaned.collect()}
    assert got[0] == rows[0][1]  # lower id of every pair: untouched
    assert got[1] == "q0 t0 t1 t2 t3 t4"  # both spans excised, rest intact
    assert got[2] == rows[2][1]
    assert 3 not in got and len(got) == 3
    assert verbatim_overlap_pairs(cleaned, k=50).count() == 0


def _cut_reference(rows, spans, min_span_tokens):
    """Pure-Python cut_verbatim_spans: drop every token of an id_b doc whose
    index any qualifying span covers, rebuild with single spaces, drop a
    doc left with no tokens; untouched docs pass through unchanged."""
    import re

    cuts = {}
    for id_b, pos_b, span_tokens in spans:
        if span_tokens >= min_span_tokens:
            cuts.setdefault(id_b, []).append((pos_b, pos_b + span_tokens))
    out = {}
    for doc_id, text, *rest in rows:
        if doc_id not in cuts:
            out[doc_id] = (text, *rest)
            continue
        kept = [
            t for i, t in enumerate(re.split(r"\s+", text.strip(" ")))
            if not any(s <= i < e for s, e in cuts[doc_id])
        ]
        if kept:
            out[doc_id] = (" ".join(kept), *rest)
    return out


def test_cut_verbatim_spans_edge_cases_match_reference(spark):
    """Hand-built spans against the pure-Python reference: overlapping and
    adjacent intervals on one doc (cut without any merge step), a doc
    whose every token is cut drops, a span below min_span_tokens is
    ignored, an extra column passes through, and untouched docs keep
    their original whitespace byte for byte."""
    from illumio_spark.operators.dedup import cut_verbatim_spans

    toks = " ".join(f"t{i}" for i in range(20))
    rows = [
        (1, "keep  this\ttext\n as  is ", "a"),  # untouched, odd whitespace
        (2, toks, "b"),  # overlapping [2,8) + [5,11) and adjacent [11,14)
        (3, "x0 x1 x2 x3 x4 x5", "c"),  # [0,3) + [3,6): every token cut
        (4, toks, "d"),  # only a short span: untouched
        (5, "  lead y0  y1   y2 y3 tail", None),  # [1,4) on a spaced doc
    ]
    spans = [
        (2, 2, 6), (2, 5, 6), (2, 11, 3), (2, 5, 6),
        (3, 0, 3), (3, 3, 3),
        (4, 0, 2),
        (5, 1, 3),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    sdf = spark.createDataFrame(
        [(0, i, 0, p, 1, n) for i, p, n in spans],
        "id_a long, id_b long, pos_a long, pos_b long, n_windows long, span_tokens long",
    )
    out = cut_verbatim_spans(df, sdf, min_span_tokens=3)
    assert out.columns == df.columns
    got = {r.doc_id: (r.text, r.src) for r in out.collect()}
    want = _cut_reference(rows, spans, 3)
    assert got == want
    assert got[1] == rows[0][1:] and got[4] == rows[3][1:] and 3 not in got
    assert got[2][0] == "t0 t1 t14 t15 t16 t17 t18 t19"
    assert got[5] == ("lead y3 tail", None)


def test_text_pipeline_cut_spans_stage(spark, tmp_path):
    """--cut-spans K wires the ExactSubstr remediation into the curation
    CLI between near-dup drop and decontamination: the stage appears in
    the attrition report, attrition stays monotone, and total tokens
    shrink versus the same run without cutting (spans were excised)."""
    import argparse
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.run_text_pipeline import run

    def go(cut):
        args = argparse.Namespace(
            input=f"{SF}/documents.parquet", output=str(tmp_path / f"c{cut}"),
            eval=None, ngram=13, near_dups=False, quality="off",
            min_sentences=0, min_alpha_frac=0.8, cut_spans=cut,
        )
        return run(spark, args)

    base, cut = go(0), go(4)
    assert "verbatim_cut" in {s["stage"] for s in cut["stages"]}
    rows = [s["rows_out"] for s in cut["stages"]]
    assert all(a >= b for a, b in zip(rows, rows[1:]))
    assert cut["tokens"]["total"] < base["tokens"]["total"]


# --- corpus-assembly operators (operators/curation.py) ---------------------

MIXTURE_SQL = """
    WITH per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split_regex(TRIM(text), '\\s+'))) AS BIGINT)
                   AS n_tokens
        FROM read_parquet('{sf}/documents.parquet') GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS actual_frac,
           COALESCE(t.target_frac, 0.0) AS target_frac,
           COALESCE(t.target_frac, 0.0)
               / (CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()) AS weight
    FROM per LEFT JOIN (VALUES {targets}) t(source, target_frac) USING (source)
"""

PACK_SQL = """
    WITH d AS (
        SELECT source, doc_id,
               CAST(len(string_split_regex(TRIM(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM read_parquet('{sf}/documents.parquet')
    ),
    o AS (
        SELECT *, COALESCE(SUM(n_tokens) OVER (
                     PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_off
        FROM d
    )
    SELECT source, doc_id, n_tokens, start_off,
           CAST(FLOOR(start_off / {L}) AS BIGINT) AS first_pack,
           CAST(FLOOR((start_off + GREATEST(n_tokens, 1) - 1) / {L}) AS BIGINT)
               AS last_pack
    FROM o
"""


def test_mixture_weights_matches_oracle(spark):
    """Data-mixing weights: per-source token shares vs normalized targets.
    Targets cover half the sources (others get weight 0.0 = dropped) and
    are deliberately unnormalized — the operator normalizes. Both engines
    compute the identical single-division expressions, so doubles are
    bit-equal."""
    from illumio_spark.operators.curation import mixture_weights

    raw = {f"src{i}": float(1 + i % 3) for i in range(0, 20, 2)}
    tot = sum(raw.values())
    norm = {k: v / tot for k, v in raw.items()}
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # string→DOUBLE cast: a bare decimal literal is DECIMAL in DuckDB and
    # its double conversion can be 1 ULP off the Python float the Spark
    # side broadcasts; the string parse is the IEEE round-trip
    vals = ", ".join(f"('{k}', CAST('{v!r}' AS DOUBLE))" for k, v in sorted(norm.items()))
    _compare(mixture_weights(docs, raw), MIXTURE_SQL.replace("{targets}", vals))


def test_pack_chunks_matches_oracle(spark):
    """Concat-and-chunk packing coordinates per source stratum, seq_len
    deliberately small (64) so docs straddle pack boundaries at test SF."""
    from illumio_spark.operators.curation import pack_chunks

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _compare(pack_chunks(docs, 64), PACK_SQL.replace("{L}", "64"))


def test_pack_stats_invariants(spark):
    """Pack-level rollup: token totals conserved, fill_frac in (0, 1],
    split-doc count equals the straddle count recomputed from the
    coordinate output, and a seq_len larger than any stratum's stream
    yields exactly one pack per stratum with zero splits."""
    import pyspark.sql.functions as F
    from illumio_spark.operators.curation import pack_chunks, pack_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    packed = pack_chunks(docs, 64)
    stats = pack_stats(packed, 64).toPandas().set_index("source")
    base = packed.groupBy("source").agg(
        F.sum("n_tokens").alias("t"),
        F.sum((F.col("last_pack") > F.col("first_pack")).cast("long")).alias("s"),
    ).toPandas().set_index("source")
    assert (stats["n_tokens"] == base["t"]).all()
    assert (stats["n_split_docs"] == base["s"]).all()
    assert ((stats["fill_frac"] > 0) & (stats["fill_frac"] <= 1)).all()
    big = pack_stats(pack_chunks(docs, 10**9), 10**9).toPandas()
    assert (big["n_packs"] == 1).all() and (big["n_split_docs"] == 0).all()


def test_text_pipeline_assembly_report(spark, tmp_path):
    """--mix-targets / --pack-len append report-only corpus-assembly
    sections: mixture weights sum the cleaned corpus's tokens exactly,
    packing conserves tokens and never exceeds one pack of slack per
    stratum, and row counts are untouched by either flag."""
    import argparse
    import json as _json
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.run_text_pipeline import run

    targets = {f"src{i}": 1.0 for i in range(0, 20, 2)}
    args = argparse.Namespace(
        input=f"{SF}/documents.parquet", output=str(tmp_path / "c"),
        eval=None, ngram=13, near_dups=False, quality="off",
        min_sentences=0, min_alpha_frac=0.8, cut_spans=0,
        mix_targets=_json.dumps(targets), pack_len=64,
    )
    rep = run(spark, args)
    mix = rep["mixture"]
    assert sum(m["n_tokens"] for m in mix) == rep["tokens"]["total"]
    assert abs(sum(m["actual_frac"] for m in mix) - 1.0) < 1e-9
    # targeted sources get positive weight, untargeted get 0.0 (dropped)
    assert all((m["weight"] > 0) == (m["source"] in targets) for m in mix)
    pk = rep["packing"]
    assert sum(p["n_tokens"] for p in pk) == rep["tokens"]["total"]
    assert all(0 < p["fill_frac"] <= 1 for p in pk)
    assert all(p["n_packs"] * 64 - p["n_tokens"] < 64 for p in pk)
    assert rep["final_rows"] == rep["stages"][-1]["rows_out"]


APPLY_MIX_SQL = """
    WITH d AS (
        SELECT source, doc_id,
               CAST(concat('0x', substr(md5(source || ':' || doc_id), 1, 8))
                    AS BIGINT) / 4294967296.0 AS frac
        FROM read_parquet('{sf}/documents.parquet')
    ),
    j AS (
        SELECT d.*, COALESCE(t.w, 0.0) AS w
        FROM d LEFT JOIN (VALUES {weights}) t(source, w) USING (source)
    ),
    n AS (
        SELECT source, doc_id,
               CAST(FLOOR(w) + CASE WHEN frac < w - FLOOR(w) THEN 1 ELSE 0 END
                    AS BIGINT) AS n_copies
        FROM j
    )
    SELECT source, doc_id, unnest(generate_series(0, n_copies - 1)) AS copy_idx
    FROM n WHERE n_copies > 0
"""


def test_apply_mixture_matches_oracle(spark):
    """Deterministic mixture materialization: integer repeats + md5
    hash-fraction residual. Weights span drop (0 implicit), downsample
    (0.4), identity-ish (1.5), and multi-epoch (2.25) regimes."""
    from illumio_spark.operators.curation import apply_mixture

    weights = {"src0": 2.25, "src1": 0.4, "src2": 1.5, "src3": 1.0, "src4": 0.0}
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = apply_mixture(docs, weights).select("source", "doc_id", "copy_idx")
    vals = ", ".join(
        f"('{k}', CAST('{v!r}' AS DOUBLE))" for k, v in sorted(weights.items())
    )
    _compare(out, APPLY_MIX_SQL.replace("{weights}", vals))


BUDGET_SQL = """
    WITH d AS (
        SELECT source, doc_id,
               CAST(len(string_split_regex(TRIM(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM read_parquet('{sf}/documents.parquet')
    ),
    o AS (
        SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
                     PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM d
    )
    SELECT source, doc_id, n_tokens, cum_before FROM o WHERE cum_before < 300
"""

BUDGET_ORDERED_SQL = """
    WITH d AS (
        SELECT source, doc_id, n_chars,
               CAST(len(string_split_regex(TRIM(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM read_parquet('{sf}/documents.parquet')
    ),
    o AS (
        SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
                     PARTITION BY source ORDER BY n_chars, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM d
    )
    SELECT source, doc_id, n_tokens, cum_before FROM o WHERE cum_before < 300
"""


def test_select_token_budget_matches_oracle(spark):
    """Greedy fill-until-full under a 300-token per-source budget, both in
    id order and under a caller-supplied ordering column (n_chars — the
    'best-first' path); the straddling doc is kept in both engines."""
    from illumio_spark.operators.curation import select_token_budget

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _compare(select_token_budget(docs, 300), BUDGET_SQL)
    _compare(
        select_token_budget(docs, 300, order_col="n_chars"), BUDGET_ORDERED_SQL
    )


def test_select_token_budget_invariants(spark):
    """Fill-until-full contract: every stratum's selection stays under
    budget before its last pick (max cum_before < budget), and dropping
    each stratum's straddling doc leaves the remainder strictly under
    budget."""
    from pyspark.sql import Window, functions as F

    from illumio_spark.operators.curation import select_token_budget

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sel = select_token_budget(docs, 300)
    rows = sel.groupBy("source").agg(F.max("cum_before").alias("max_before")).collect()
    assert rows and all(r.max_before < 300 for r in rows)
    w = Window.partitionBy("source").orderBy(F.desc("cum_before"))
    rest = (
        sel.withColumn("rnk", F.row_number().over(w))
        .filter("rnk > 1")
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("rest"))
        .collect()
    )
    assert rest and all(r.rest < 300 for r in rest)


def test_text_pipeline_budget_and_mix_output(spark, tmp_path):
    """--token-budget caps every source's selected tokens (fill-until-full:
    strictly under budget before the straddling doc), and --mix-output
    materializes exactly the mixture apply_mixture computes from the
    reported weights, capped by --max-repeat."""
    import argparse
    import json as _json
    import sys

    sys.path.insert(0, "/root/repo")
    from pyspark.sql import functions as F

    from illumio_spark.operators.curation import apply_mixture
    from jobs.run_text_pipeline import run

    targets = {"src0": 0.3, "src1": 0.3, "src2": 0.4}
    args = argparse.Namespace(
        input=f"{SF}/documents.parquet", output=str(tmp_path / "c"),
        eval=None, ngram=13, near_dups=False, quality="off",
        min_sentences=0, min_alpha_frac=0.8, cut_spans=0,
        mix_targets=_json.dumps(targets), pack_len=0,
        token_budget=800, mix_output=str(tmp_path / "m"), max_repeat=5.0,
    )
    rep = run(spark, args)
    stages = {s["stage"]: s for s in rep["stages"]}
    assert stages["token_budget"]["rows_out"] < stages["token_budget"]["rows_in"]

    # the budget held per source in the WRITTEN corpus: total minus the
    # straddling (max-id) doc is strictly under budget
    from illumio_spark.functions import text as TX

    cleaned = spark.read.parquet(str(tmp_path / "c"))
    per = (
        cleaned.select("source", "doc_id", TX.token_count(F.col("text")).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("tot"), F.max_by("n", "doc_id").alias("last_n"))
        .collect()
    )
    assert per and all(r.tot - r.last_n < 800 for r in per)

    # mixed output == apply_mixture of the cleaned corpus under the same
    # capped weights, row for row
    weights = {
        m["source"]: min(m["weight"], 5.0) for m in rep["mixture"]
    }
    expect = apply_mixture(cleaned, weights).select("source", "doc_id", "copy_idx")
    mixed = spark.read.parquet(str(tmp_path / "m")).select(
        "source", "doc_id", "copy_idx"
    )
    assert mixed.count() == rep["mixed"]["rows"] == expect.count()
    assert expect.exceptAll(mixed).isEmpty() and mixed.exceptAll(expect).isEmpty()


def test_text_pipeline_sharded_mix_output(spark, tmp_path):
    """--shards N writes shard=0..N-1 dirs whose union is exactly the
    mixture; every row's shard is pmod(xxhash64(source:doc_id:copy_idx),
    N); each written part file is internally sorted by sort_key (the
    training-order contract a sequential loader relies on)."""
    import argparse
    import glob
    import json as _json
    import sys

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    sys.path.insert(0, "/root/repo")
    from jobs.run_text_pipeline import run

    targets = {"src0": 0.5, "src1": 0.5}
    args = argparse.Namespace(
        input=f"{SF}/documents.parquet", output=str(tmp_path / "c"),
        eval=None, ngram=13, near_dups=False, quality="off",
        min_sentences=0, min_alpha_frac=0.8, cut_spans=0,
        mix_targets=_json.dumps(targets), pack_len=0,
        token_budget=0, mix_output=str(tmp_path / "m"), max_repeat=3.0,
        shards=4, splits=_json.dumps({"train": 0.9, "val": 0.1}),
        chunk_output=str(tmp_path / "ch"), chunk_tokens=32, chunk_overlap=8,
    )
    rep = run(spark, args)
    assert rep["mixed"]["shards"] == 4
    assert set(rep["splits"]) == {"train", "val"}
    assert sum(rep["splits"].values()) == rep["final_rows"]
    cleaned = spark.read.parquet(str(tmp_path / "c"))
    assert "split" in cleaned.columns
    # chunked output: every non-null doc yields >= 1 chunk, and overlap
    # makes the chunk token total weakly exceed the corpus token total
    assert rep["chunks"]["rows"] >= rep["final_rows"]
    assert rep["chunks"]["tokens"] >= rep["tokens"]["total"]
    mixed = spark.read.parquet(str(tmp_path / "m"))
    assert mixed.count() == rep["mixed"]["rows"]
    shards = sorted(r.shard for r in mixed.select("shard").distinct().collect())
    assert shards == [0, 1, 2, 3]
    exp = F.pmod(
        F.xxhash64(F.concat_ws(":", "source", "doc_id", "copy_idx")), F.lit(4)
    ).cast("int")
    assert mixed.filter(F.col("shard") != exp).count() == 0
    for part in glob.glob(str(tmp_path / "m" / "shard=*" / "*.parquet")):
        keys = pq.read_table(part, columns=["sort_key"])["sort_key"].to_pylist()
        assert keys == sorted(keys), f"unsorted shard file {part}"


def test_incremental_dedup_two_run_frontier(spark, tmp_path):
    """Run the CLI twice against the same --seen table: run 1 processes
    the corpus and records its fingerprints; run 2 on the SAME input
    drops every doc at the cross-run stage (rows_out == 0) and appends
    nothing new. A third run on a half-new corpus keeps exactly the new
    docs. The reference analog is the processed-keys resume anti-join."""
    import argparse

    from pyspark.sql import functions as F

    from jobs.run_text_pipeline import run

    def mk_args(inp, out):
        return argparse.Namespace(
            input=inp, output=out, seen=str(tmp_path / "seen"),
            eval=None, ngram=13, near_dups=False, quality="off",
            min_sentences=0, min_alpha_frac=0.8, cut_spans=0,
            mix_targets=None, pack_len=0, token_budget=0,
        )

    src = f"{SF}/documents.parquet"
    r1 = run(spark, mk_args(src, str(tmp_path / "o1")))
    s1 = {s["stage"]: s for s in r1["stages"]}
    assert s1["cross_run_dedup"]["rows_out"] > 0
    assert r1["seen_fps_appended"] == s1["cross_run_dedup"]["rows_out"]

    r2 = run(spark, mk_args(src, str(tmp_path / "o2")))
    s2 = {s["stage"]: s for s in r2["stages"]}
    assert s2["cross_run_dedup"]["rows_out"] == 0
    assert r2["seen_fps_appended"] == 0 and r2["final_rows"] == 0

    # half-new corpus: originals drop, fresh docs survive
    docs = spark.read.parquet(src)
    fresh = docs.limit(50).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    ).withColumn("text", F.concat(F.col("text"), F.lit(" novel-suffix")))
    mixed_in = str(tmp_path / "in3")
    docs.limit(50).unionByName(fresh).write.parquet(mixed_in)
    r3 = run(spark, mk_args(mixed_in, str(tmp_path / "o3")))
    s3 = {s["stage"]: s for s in r3["stages"]}
    assert s3["cross_run_dedup"]["rows_out"] == 50
    assert r3["seen_fps_appended"] == 50


def test_cli_seen_frontier_records_processed_not_survivors(spark, tmp_path):
    """Pins the --seen contract (r6 VERDICT nit 3 / task 8): the
    fingerprint frontier records every doc the run PROCESSED — including
    docs a LATER stage (quality filter) dropped — so a future run with a
    looser threshold cannot resurrect them. Run 1 drops some docs at the
    c4 stage yet appends fps for all; run 2 with quality OFF still drops
    everything at the cross-run stage."""
    import argparse

    from jobs.run_text_pipeline import run

    def mk_args(out, quality):
        return argparse.Namespace(
            input=f"{SF}/documents.parquet", output=out,
            seen=str(tmp_path / "seen"), eval=None, ngram=13,
            near_dups=False, quality=quality, min_sentences=1,
            min_alpha_frac=0.8, cut_spans=0, mix_targets=None,
            pack_len=0, token_budget=0,
        )

    r1 = run(spark, mk_args(str(tmp_path / "o1"), "c4"))
    s1 = {s["stage"]: s for s in r1["stages"]}
    assert s1["c4_quality"]["dropped"] > 0  # quality really dropped docs
    # frontier covers PROCESSED docs (post-dedup), not final survivors
    assert r1["seen_fps_appended"] == s1["cross_run_dedup"]["rows_out"]
    assert r1["seen_fps_appended"] > r1["final_rows"]

    r2 = run(spark, mk_args(str(tmp_path / "o2"), "off"))
    s2 = {s["stage"]: s for s in r2["stages"]}
    assert s2["cross_run_dedup"]["rows_out"] == 0  # nothing resurrects
    assert r2["final_rows"] == 0


def test_cli_top_frac_stage(spark, tmp_path):
    """--top-frac wires score-threshold selection into the curation CLI
    (VERDICT r6 task 2): the kept set must equal select_top_frac's
    direct output over the bigram-LM scores of the stage's input, and
    the attrition report must carry the stage row."""
    import argparse

    from illumio_spark.functions import text as TX
    from illumio_spark.operators.curation import select_top_frac
    from jobs.run_text_pipeline import run

    src = f"{SF}/documents.parquet"
    args = argparse.Namespace(
        input=src, output=str(tmp_path / "o"), seen=None, eval=None,
        ngram=13, near_dups=False, quality="off", min_sentences=0,
        min_alpha_frac=0.8, cut_spans=0, top_frac=0.4,
        mix_targets=None, pack_len=0, token_budget=0,
    )
    rep = run(spark, args)
    stages = {s["stage"]: s for s in rep["stages"]}
    assert "top_frac_quality" in stages
    assert 0 < stages["top_frac_quality"]["rows_out"] < stages["exact_dedup"]["rows_out"]

    # replicate the stage by hand: exact dedup survivors -> bigram-LM
    # score -> top 40% per source; the CLI's kept set must match exactly
    # (the corpus is dup-free at this SF, so the LM trains on all docs)
    assert stages["exact_dedup"]["dropped"] == 0
    docs = spark.read.parquet(src)
    scored = docs.select("source", "doc_id").join(
        TX.bigram_lm_scores(docs), "doc_id"
    )
    want = {
        r.doc_id
        for r in select_top_frac(scored, 0.4, "avg_log2_prob").collect()
    }
    got = {r.doc_id for r in spark.read.parquet(str(tmp_path / "o")).collect()}
    assert got == want


def test_incremental_neardup_cli_two_run_frontier(spark, tmp_path):
    """CLI --near-dups --seen-sigs: run 1 drops within-batch near-dups
    and records every processed doc's bands; run 2 over near-duplicates
    of run-1 content (both kept AND dropped docs, under fresh ids) drops
    everything; a genuinely novel doc in the same run survives. Band
    frontier advances only by each run's processed docs."""
    import argparse

    from pyspark.sql import functions as F

    from illumio_spark.operators.dedup import N_BANDS
    from jobs.run_text_pipeline import run

    def mk_args(inp, out):
        return argparse.Namespace(
            input=inp, output=out, seen=None, seen_sigs=str(tmp_path / "sigs"),
            eval=None, ngram=13, near_dups=True, quality="off",
            min_sentences=0, min_alpha_frac=0.8, cut_spans=0,
            mix_targets=None, pack_len=0, token_budget=0,
        )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    near = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 500_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    in1 = str(tmp_path / "in1")
    docs.select("doc_id", "text").unionByName(near).write.parquet(in1)
    r1 = run(spark, mk_args(in1, str(tmp_path / "o1")))
    s1 = {s["stage"]: s for s in r1["stages"]}
    assert s1["cross_run_neardup"]["dropped"] >= 10  # the injected near-dups
    assert r1["seen_bands_appended"] == 70 * N_BANDS  # processed, not kept

    # run 2: near-dups of run-1 docs (kept and dropped alike) + 1 novel doc
    redo = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 900_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    novel = spark.createDataFrame(
        [(999_999, "entirely novel content absent from every prior run batch")],
        "doc_id long, text string",
    )
    in2 = str(tmp_path / "in2")
    redo.unionByName(novel).write.parquet(in2)
    r2 = run(spark, mk_args(in2, str(tmp_path / "o2")))
    s2 = {s["stage"]: s for s in r2["stages"]}
    assert s2["cross_run_neardup"]["rows_out"] == 1
    assert r2["seen_bands_appended"] == 21 * N_BANDS
    kept = spark.read.parquet(str(tmp_path / "o2"))
    assert [r.doc_id for r in kept.collect()] == [999_999]


def test_compact_sigs_cli_retracts_bridge(spark, tmp_path):
    """CLI --compact-sigs maintenance mode: two --seen-sigs runs emit
    {A, B} (batch 2's bridge doc C links them, too late to retract);
    compaction over the frontier + the emitted outputs writes canonical
    {A} and the retraction (B → A), and runs NO pipeline stages."""
    import argparse

    from jobs.run_text_pipeline import run
    from tests.test_dedup_similarity import _bridge_triple

    def mk_args(inp, out, compact=False):
        return argparse.Namespace(
            input=inp, output=out, seen=None, seen_sigs=str(tmp_path / "sigs"),
            eval=None, ngram=13, near_dups=True, quality="off",
            min_sentences=0, min_alpha_frac=0.8, cut_spans=0,
            mix_targets=None, pack_len=0, token_budget=0,
            compact_sigs=compact,
        )

    a, b, c = _bridge_triple()
    in1, in2 = str(tmp_path / "in1"), str(tmp_path / "in2")
    spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    ).write.parquet(in1)
    spark.createDataFrame([(10, c)], "doc_id long, text string").write.parquet(in2)
    r1 = run(spark, mk_args(in1, str(tmp_path / "o1")))
    r2 = run(spark, mk_args(in2, str(tmp_path / "o2")))
    assert {s["stage"]: s for s in r1["stages"]}["cross_run_neardup"]["rows_out"] == 2
    assert {s["stage"]: s for s in r2["stages"]}["cross_run_neardup"]["rows_out"] == 0

    # maintenance pass: emitted = glob of both runs' cleaned outputs
    rep = run(
        spark,
        mk_args(f"{tmp_path}/o*", str(tmp_path / "compacted"), compact=True),
    )
    assert "stages" not in rep
    assert rep["compact"]["emitted_rows"] == 2
    assert rep["compact"]["canonical_rows"] == 1
    assert rep["compact"]["retraction_rows"] == 1
    rets = spark.read.parquet(str(tmp_path / "compacted/retractions")).collect()
    assert [(r.doc_id, r.component) for r in rets] == [(2, 1)]
    canon = spark.read.parquet(str(tmp_path / "compacted/canonical")).collect()
    assert [r.doc_id for r in canon] == [1]


def test_incremental_dedup_null_text_fingerprint(spark):
    """md5(NULL) is NULL and NULL keys never anti-join-match, so without
    the sentinel a NULL-text doc would survive the seen check and append
    a fresh NULL fp EVERY run (r6 ADVICE). With it: run 1 keeps one
    NULL-text doc and records exactly one joinable sentinel row; run 2
    drops all NULL-text docs and appends nothing."""
    from illumio_spark.operators.dedup import NULL_TEXT_FP, incremental_dedup

    batch1 = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text")], "doc_id int, text string"
    )
    kept1, fps1 = incremental_dedup(batch1, None)
    assert sorted(r.doc_id for r in kept1.collect()) == [1, 3]
    fp_vals = [r.fp for r in fps1.collect()]
    assert len(fp_vals) == 2 and fp_vals.count(NULL_TEXT_FP) == 1
    assert all(v is not None for v in fp_vals)

    batch2 = spark.createDataFrame(
        [(10, None), (11, "brand new")], "doc_id int, text string"
    )
    kept2, fps2 = incremental_dedup(batch2, fps1)
    assert [r.doc_id for r in kept2.collect()] == [11]
    assert [r.fp for r in fps2.collect()] != [None]
    assert fps2.count() == 1


def test_assign_splits_group_mode_is_leakage_safe(spark):
    """Group mode hashes the group label, so every member of a near-dup
    component gets the same split; ungrouped mode scatters the same rows
    across splits. Fractions approximately honored on 2,000 groups."""
    from pyspark.sql import functions as F

    from illumio_spark.operators.curation import assign_splits

    rows = [(i, f"src{i % 3}", i // 4) for i in range(8000)]  # 4-doc groups
    df = spark.createDataFrame(rows, "doc_id long, source string, component long")
    out = assign_splits(
        df, {"train": 0.8, "val": 0.1, "test": 0.1}, group_col="component"
    )
    per_group = out.groupBy("component").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_group.filter("n_splits != 1").count() == 0
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.7 < counts["train"] / 8000 < 0.9
    # ungrouped: the same 4-doc id-blocks straddle splits somewhere
    loose = assign_splits(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    straddled = (
        loose.groupBy("component").agg(F.countDistinct("split").alias("n_splits"))
        .filter("n_splits > 1").count()
    )
    assert straddled > 0


CHUNK_SQL = """
    WITH d AS (
        SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
        FROM read_parquet('{sf}/documents.parquet') WHERE text IS NOT NULL
    ),
    n AS (
        SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
               CASE WHEN len(toks) <= 16 THEN 1
                    ELSE (len(toks) - 16 + 11) // 12 + 1 END AS n_chunks
        FROM d
    ),
    e AS (
        SELECT doc_id, toks, n_tokens,
               unnest(generate_series(0, n_chunks - 1)) AS ci
        FROM n
    )
    SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
           CAST(ci * 12 AS BIGINT) AS start_tok,
           CAST(LEAST(16, n_tokens - ci * 12) AS BIGINT) AS n_chunk_tokens,
           array_to_string(
               toks[ci * 12 + 1 : ci * 12 + LEAST(16, n_tokens - ci * 12)], ' '
           ) AS chunk_text
    FROM e
"""


def test_chunk_documents_matches_oracle(spark):
    """Sliding-window chunker (16-token windows, 4-token overlap, stride
    12) vs a DuckDB replay of the same tokenize → chunk-count → slice
    math, including the reassembled chunk text."""
    from illumio_spark.operators.curation import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _compare(chunk_documents(docs, 16, overlap=4), CHUNK_SQL)


def test_chunk_documents_exact_coordinates(spark):
    """Known 26-token doc, chunk 8 / overlap 3 (stride 5): starts are
    0,5,10,15,20, all full except the 6-token tail, and each chunk's
    text is exactly its token slice."""
    from illumio_spark.operators.curation import chunk_documents

    words = [f"t{i}" for i in range(26)]
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id int, text string")
    rows = chunk_documents(df, 8, overlap=3).orderBy("chunk_idx").collect()
    assert [(r.chunk_idx, r.start_tok, r.n_chunk_tokens) for r in rows] == [
        (0, 0, 8), (1, 5, 8), (2, 10, 8), (3, 15, 8), (4, 20, 6)
    ]
    for r in rows:
        assert r.chunk_text == " ".join(words[r.start_tok:r.start_tok + r.n_chunk_tokens])
    # NULL text yields no chunks; single-token doc yields one chunk
    edge = spark.createDataFrame(
        [(2, None), (3, "solo")], "doc_id int, text string"
    )
    out = chunk_documents(edge, 8, overlap=3).collect()
    assert [(r.doc_id, r.chunk_idx, r.n_chunk_tokens) for r in out] == [(3, 0, 1)]
    # empty / whitespace-only text: default emits the degenerate ['']
    # chunk (oracle parity); drop_empty=True emits zero chunks for those
    # docs and leaves real docs untouched (r6 VERDICT nit 1)
    empt = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "a b c")],
        "doc_id int, text string",
    )
    dflt = chunk_documents(empt, 8).collect()
    assert sorted(r.doc_id for r in dflt) == [1, 2, 4]
    dropped = chunk_documents(empt, 8, drop_empty=True).collect()
    assert [r.doc_id for r in dropped] == [4]
    assert dropped[0].chunk_text == "a b c"


def test_chunk_documents_python_reference_sweep(spark):
    """Every (n_tokens 1..40) x (overlap 0/3/7 at window 8) combination
    against a direct Python replay of the contract: starts advance by
    stride, the last chunk always reaches the tail, and no chunk starts
    at/after n_tokens."""
    import pytest

    from illumio_spark.operators.curation import chunk_documents

    def reference(n, c, s):
        if n <= c:
            return [(0, 0, n)]
        k = (n - c + s - 1) // s + 1
        return [(i, i * s, min(c, n - i * s)) for i in range(k)]

    docs = [(n, " ".join(f"w{j}" for j in range(n))) for n in range(1, 41)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    for overlap in (0, 3, 7):
        stride = 8 - overlap
        got = {
            (r.doc_id, r.chunk_idx): (r.start_tok, r.n_chunk_tokens)
            for r in chunk_documents(df, 8, overlap=overlap).collect()
        }
        want = {
            (n, i): (st, ln)
            for n, _ in docs
            for i, st, ln in reference(n, 8, stride)
        }
        assert got == want, f"overlap={overlap}"
    with pytest.raises(ValueError):
        chunk_documents(df, 8, overlap=8)
    with pytest.raises(ValueError):
        chunk_documents(df, 8, overlap=-1)


TOP_FRAC_SQL = """
    WITH r AS (
        SELECT source, doc_id, n_chars,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id
               ) AS BIGINT) AS rank,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_stratum
        FROM read_parquet('{sf}/documents.parquet')
    )
    SELECT * FROM r WHERE rank <= CEIL(CAST('0.3' AS DOUBLE) * n_stratum)
"""


def test_select_top_frac_matches_oracle(spark):
    """Keep the top 30% of each source by n_chars (id tiebreaker);
    ceil(frac * n) is the same IEEE double on both engines."""
    from illumio_spark.operators.curation import select_top_frac

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _compare(select_top_frac(docs, 0.3, "n_chars"), TOP_FRAC_SQL)


def test_select_top_frac_prefilter_identical(spark):
    """approx_prefilter cuts the window-sort input but must return the
    EXACT same rows/ranks as the plain path — every row that could make
    the cut survives the 2x-frac threshold, so survivor ranks equal
    global ranks. Checked at two fracs, both directions."""
    from illumio_spark.operators.curation import select_top_frac

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for frac in (0.1, 0.3):
        for desc in (True, False):
            plain = select_top_frac(docs, frac, "n_chars", descending=desc)
            fast = select_top_frac(
                docs, frac, "n_chars", descending=desc, approx_prefilter=True
            )
            assert plain.exceptAll(fast).isEmpty() and fast.exceptAll(plain).isEmpty(), (
                f"frac={frac} desc={desc}"
            )

    # NULL-heavy scores: plain ranks NULLs last and can still keep some;
    # the prefilter must not silently drop them (1 of 10 scores non-null,
    # frac 0.4 forces NULL-score rows into the kept set)
    rows = [(i, "s", 100 if i == 0 else None) for i in range(10)]
    nulls = spark.createDataFrame(rows, "doc_id int, source string, score int")
    plain = select_top_frac(nulls, 0.4, "score")
    fast = select_top_frac(nulls, 0.4, "score", approx_prefilter=True)
    assert plain.count() == 4
    assert plain.exceptAll(fast).isEmpty() and fast.exceptAll(plain).isEmpty()

    # NULL-MAJORITY strata (r6 ADVICE): 10 scored + 30 NULL rows at
    # frac=0.4 → keep = 16 counts the NULLs, but the 2*frac threshold
    # only guarantees ~8 non-null survivors — without the bypass the
    # prefilter would drop scored rows the plain path keeps. Mix safe
    # and unsafe strata so both code paths run in one plan, and check
    # the threshold-droppable scored rows (many non-null, all needed)
    # in the same sweep.
    rows = (
        [(i, "nullheavy", i if i < 10 else None) for i in range(40)]
        + [(i, "allscored", i * 3 % 17) for i in range(40)]
        + [(i, "bigsafe", i * 7 % 101) for i in range(400)]
    )
    mixed = spark.createDataFrame(rows, "doc_id int, source string, score int")
    for frac in (0.2, 0.4):
        plain = select_top_frac(mixed, frac, "score")
        fast = select_top_frac(mixed, frac, "score", approx_prefilter=True)
        assert plain.exceptAll(fast).isEmpty() and fast.exceptAll(plain).isEmpty(), (
            f"null-majority frac={frac}"
        )
    # in the null-heavy stratum every scored row must be kept (plain
    # semantics: 16 kept = 10 scored + 6 NULLs) — pin it explicitly
    kept = select_top_frac(mixed, 0.4, "score", approx_prefilter=True).filter(
        "source = 'nullheavy'"
    )
    assert kept.filter("score IS NOT NULL").count() == 10
    assert kept.count() == 16


SHARD_SQL = """
    WITH h AS (
        SELECT source, doc_id,
               CAST(concat('0x', substr(md5(source || ':' || doc_id), 1, 15))
                    AS BIGINT) AS sort_key
        FROM read_parquet('{sf}/documents.parquet')
    )
    SELECT source, doc_id, sort_key,
           CAST(sort_key % 8 AS INTEGER) AS shard
    FROM h
"""


def test_shuffle_shards_matches_oracle(spark):
    """md5-mode shard assignment is bit-reproducible in DuckDB (60-bit
    positive hash, so % == pmod); xxhash64 engine mode yields the same
    shard-count histogram shape (all 8 shards populated, total
    preserved)."""
    from pyspark.sql import functions as F

    from illumio_spark.operators.curation import shuffle_shards

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = shuffle_shards(docs, 8, hash_fn="md5").select(
        "source", "doc_id", "sort_key", "shard"
    )
    _compare(out, SHARD_SQL)

    fast = shuffle_shards(docs, 8).select("shard", "sort_key")
    counts = {r.shard: r.n for r in fast.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == set(range(8)) and sum(counts.values()) == docs.count()
