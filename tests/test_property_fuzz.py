"""Property-based fuzz: Spark pipeline vs pure-Python oracle byte equality
on ADVERSARIAL turn payloads (SURVEY.md §5.2 pushed past the golden corpus).

The golden suite proves equality on the realistic synthetic corpus; this
suite throws hostile text at the parse→route→format path — pipe/equals
injection, unicode, quotes, embedded newlines-as-escapes, truncation-edge
lengths, near-miss grok lines, malformed and hostile JSON — and requires
routed_text / dead-letter BYTE equality between engines on every row.

Each hypothesis example is one batch of rows through a real Spark job, so
examples are few but each carries many adversarial rows.
"""

from __future__ import annotations

import json
import tempfile

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from illumio_spark import oracle, schema as S
from illumio_spark.plans.pipeline import run_pipeline
from illumio_spark.sources.tableio import TableIO

# no newlines: the transcript contract is one turn per line (the raw
# NDJSON wire format cannot carry literal newlines inside a turn)
_CHARS = st.characters(
    codec="utf-8", exclude_characters="\n\r", exclude_categories=("Cs",)
)
_TEXT = st.text(_CHARS, min_size=0, max_size=80)
_INJECT = st.sampled_from(
    ["|", "||", "=", "msg=", "act=", '"', "\\", "…", "naïve|name", "a=b|c=d",
     "\x01", "pre\x01post", "\xa0padded\xa0"]  # split sentinel + unicode ws
)


def _summaryish(draw):
    """Grok near-misses and exact matches with hostile msg payloads."""
    msg = draw(st.one_of(_TEXT, _INJECT, st.just("x" * draw(st.integers(0, 2200)))))
    count = draw(st.one_of(st.integers(0, 10**9), st.just(-1)))
    act = draw(st.one_of(st.just("session"), _INJECT))
    line = (
        f"act={act} sn=sensor-{draw(st.integers(0, 9))} count={count} "
        f"interval_sec=30 bytes_in=10 bytes_out=20 state=open msg={msg}"
    )
    if draw(st.booleans()):
        return line
    # structured corruption: drop/duplicate a field, pad, reorder
    return draw(
        st.sampled_from(
            [
                line.replace(" count=", " kount=", 1),
                " " + line,
                line.replace("act=", "act= ", 1),
                line + " trailing=extra",
            ]
        )
    )


def _auditish(draw):
    """JSON audit payloads: valid, hostile-valued, and malformed."""
    obj = {
        "event_type": draw(
            st.one_of(st.just("user.login"), st.just(""), st.just("  "), _INJECT)
        ),
        "severity": draw(st.one_of(st.just("critical"), st.none(), _INJECT)),
        "session": draw(st.integers(0, 10**12)),
        "src_user": draw(st.one_of(_TEXT, st.none())),
        "labels": draw(
            st.dictionaries(
                st.sampled_from(["env", "region", "k|ey", "note"]),
                st.one_of(_TEXT, st.just("")),
                max_size=3,
            )
        ),
        "notifications": [
            {
                "notification_type": draw(st.one_of(st.just("alert"), _INJECT)),
                "info": {"src_ip": "10.0.0.9", "api_endpoint": draw(_TEXT), "api_method": "GET"},
            }
        ][: draw(st.integers(0, 1))],
    }
    s = json.dumps(obj, ensure_ascii=draw(st.booleans()))
    breakage = draw(st.integers(0, 3))
    if breakage == 1:
        return s[:-1]  # truncated JSON
    if breakage == 2:
        return s.replace('"', "'")  # single quotes: BOTH engines must reject
    if breakage == 3:
        return "[1, 2, 3]"  # valid JSON, not an object
    return s


@st.composite
def turn_batch(draw):
    n = draw(st.integers(min_value=10, max_value=40))
    rows = []
    for i in range(n):
        kind = draw(st.integers(0, 4))
        if kind == 0:
            text = draw(st.one_of(st.none(), st.just(""), st.just("   ")))
        elif kind == 1:
            text = _summaryish(draw)
        elif kind == 2:
            text = _auditish(draw)
        else:
            text = draw(st.one_of(_TEXT, _INJECT))
        rows.append(
            {
                "conv_id": f"conv-{i % 5}",
                "turn_idx": i,
                "role": draw(st.sampled_from(S.ROLES + ["intruder", ""])),
                "text": text,
                "tool": draw(st.sampled_from(S.TOOLS + [None, "unknown_tool"])),
                "ts": pd.Timestamp("2026-01-03 12:00:00") + pd.Timedelta(seconds=i),
            }
        )
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def fuzz_spark(spark):
    return spark


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(pdf=turn_batch())
def test_pipeline_byte_equal_on_adversarial_payloads(fuzz_spark, tmp_path, pdf):
    spark = fuzz_spark
    sdf = spark.createDataFrame(pdf, schema=S.TRANSCRIPT_SCHEMA)
    # tmp_path is shared by every hypothesis example: one sink root each
    io = TableIO(tempfile.mkdtemp(dir=tmp_path))
    got = run_pipeline(spark, sdf, io=io, run_id="fuzz")
    want = oracle.run(pdf, run_id="fuzz")

    g_r = (
        got["routed_events"]
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    w_r = want["routed_events"].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(g_r) == len(w_r)
    for col in ["event_class", "event_type", "severity", "routed_text"]:
        gv = g_r[col].where(pd.notna(g_r[col]), None).tolist()
        wv = w_r[col].where(pd.notna(w_r[col]), None).tolist()
        if gv != wv:
            i = next(k for k in range(len(gv)) if gv[k] != wv[k])
            raise AssertionError(
                f"{col} mismatch at row {i} "
                f"(conv={g_r['conv_id'][i]}, turn={g_r['turn_idx'][i]}):\n"
                f"spark : {gv[i]!r}\noracle: {wv[i]!r}\n"
                f"input : {pdf.set_index('turn_idx')['text'][g_r['turn_idx'][i]]!r}"
            )

    g_d = (
        got["dead_letter"].toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    w_d = want["dead_letter"].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert g_d["error_reason"].tolist() == w_d["error_reason"].tolist()
    assert (
        g_d["raw_text"].where(pd.notna(g_d["raw_text"]), None).tolist()
        == w_d["raw_text"].where(pd.notna(w_d["raw_text"]), None).tolist()
    )
