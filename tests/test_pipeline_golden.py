"""Golden end-to-end test: Spark pipeline vs pure-Python oracle.

SURVEY.md §5.2/§5.3 — per-sink row counts, per-sink aggregate counts, and
BYTE-EQUALITY of routed rows under stable (conv_id, turn_idx) ordering.
"""

import pandas as pd
import pytest

from illumio_spark import oracle, synth
from illumio_spark.plans.pipeline import run_pipeline
from illumio_spark.sources.tableio import TableIO

N_CONV = 120


@pytest.fixture(scope="module")
def transcripts_pdf():
    return synth.generate_pandas(N_CONV, hot_frac=0.0)


@pytest.fixture(scope="module")
def oracle_out(transcripts_pdf):
    return oracle.run(transcripts_pdf, run_id="test")


@pytest.fixture(scope="module")
def spark_out(spark, transcripts_pdf, tmp_path_factory):
    df = spark.createDataFrame(transcripts_pdf)
    io = TableIO(str(tmp_path_factory.mktemp("golden_sinks")))
    return run_pipeline(spark, df, io=io, run_id="test")


def _sorted_pdf(sdf):
    return (
        sdf.toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_class_mix_is_nontrivial(oracle_out):
    roll = oracle_out["rollups"].set_index("sink")["n_rows"]
    assert roll["dead_letter"] > 0
    routed = oracle_out["routed_events"]
    assert (routed.event_class == "summary").sum() > 0
    assert (routed.event_class == "auditable").sum() > 0


def test_routed_rows_byte_equal(spark_out, oracle_out):
    got = _sorted_pdf(spark_out["routed_events"])
    want = oracle_out["routed_events"]
    assert len(got) == len(want)
    # exact text equality, per-row, in stable order (the per-row invariant)
    mismatches = (got["routed_text"].to_numpy() != want["routed_text"].to_numpy()).sum()
    if mismatches:
        idx = (got["routed_text"] != want["routed_text"]).idxmax()
        raise AssertionError(
            f"{mismatches} mismatching routed rows; first at {idx}:\n"
            f"spark : {got['routed_text'][idx]!r}\n"
            f"oracle: {want['routed_text'][idx]!r}"
        )
    for col in ["conv_id", "turn_idx", "event_class", "event_type", "severity"]:
        pd.testing.assert_series_equal(
            got[col], want[col], check_dtype=False, check_names=False
        )


def test_dead_letter_matches(spark_out, oracle_out):
    got = _sorted_pdf(spark_out["dead_letter"])
    want = oracle_out["dead_letter"]
    assert len(got) == len(want)
    pd.testing.assert_series_equal(
        got["error_reason"], want["error_reason"], check_dtype=False, check_names=False
    )
    assert (got["raw_text"].fillna("") == want["raw_text"].fillna("")).all()


def test_rollup_counts_match(spark_out, oracle_out):
    def norm(pdf):
        return {
            (r["event_class"] if pd.notna(r["event_class"]) else None, r["sink"]): int(r["n_rows"])
            for _, r in pdf.iterrows()
        }

    got = norm(spark_out["rollups"].toPandas())
    want = norm(oracle_out["rollups"])
    assert got == want


def test_checkpoints_match(spark_out, oracle_out):
    """Per-day watermarks over the committed sinks equal a pandas per-day
    aggregate over the oracle's routed and dead-letter ts."""
    ts = pd.concat([oracle_out["routed_events"]["ts"], oracle_out["dead_letter"]["ts"]])
    want = (
        ts.groupby(ts.dt.strftime("%Y-%m-%d"))
        .agg(max_ts="max", n_rows="size")
        .rename_axis("partition_key")
        .reset_index()
    )
    want["lineage_id"] = "test:" + want["partition_key"]
    got = spark_out["checkpoints"].toPandas().sort_values("partition_key").reset_index(drop=True)
    assert len(want) > 1  # the fixture spans several days
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_truncation_exercised(oracle_out):
    routed = oracle_out["routed_events"]
    assert routed["routed_text"].str.endswith("...").sum() > 0, (
        "fixture must exercise the MAX_MESSAGE_LENGTH truncation path"
    )


def test_nested_extraction_exercised(oracle_out):
    """P4: sip/tag2/tag3 must really come from notifications[0].info, and
    both the with-notifications and empty-notifications paths must occur."""
    audit = oracle_out["routed_events"].query("event_class == 'auditable'")["routed_text"]
    with_sip = audit.str.contains(r"\|sip=10\.", regex=True)
    assert with_sip.sum() > 0, "nested sip path never taken"
    assert (~with_sip).sum() > 0, "empty-notifications path never taken"
    # tag2/tag3 ride the same nested guard as sip
    assert (audit.str.contains(r"\|tag2=/v1/", regex=True) == with_sip).all()
    assert (audit.str.contains(r"\|tag3=(?:GET|POST|PUT|DELETE)", regex=True) == with_sip).all()
    # tag1 is ALWAYS device_type, never the notification_type (the overwrite quirk)
    assert audit.str.contains(r"\|tag1=TranscriptAudit\|", regex=True).all()


def test_labels_map_fold_exercised(oracle_out):
    """P7: map<string,string> labels fold into tag4, empty values skipped."""
    audit = oracle_out["routed_events"].query("event_class == 'auditable'")["routed_text"]
    tag4 = audit.str.extract(r"\|tag4=Source: ([^|]*)")[0].dropna()
    assert len(tag4) > 0, "labels fold never emitted"
    assert len(tag4) < len(audit), "no-labels / all-empty-labels path never taken"
    # every folded entry is k=v with a non-empty value
    for entry in tag4.str.split(", ").explode():
        k, _, v = entry.partition("=")
        assert k in ("env", "team", "zone") and v != ""


def test_maptype_roundtrip_parquet(spark, transcripts_pdf, tmp_path):
    """The real MapType column survives a parquet sink round-trip."""
    from illumio_spark.plans.pipeline import parse_enrich_format

    df = spark.createDataFrame(transcripts_pdf)
    enriched = parse_enrich_format(spark, df)
    labeled = enriched.filter("a_labels IS NOT NULL").select("conv_id", "turn_idx", "a_labels")
    path = str(tmp_path / "labels.parquet")
    labeled.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["a_labels"] == "map<string,string>"
    got = {(r.conv_id, r.turn_idx): r.a_labels for r in back.collect()}
    want = {(r.conv_id, r.turn_idx): r.a_labels for r in labeled.collect()}
    assert got == want and len(got) > 0
