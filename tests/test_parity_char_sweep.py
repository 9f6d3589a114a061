"""Deterministic per-character parity sweep for the dual-path parser.

The r4 perf fix routes each row to EITHER the ASCII twin patterns or the
exact Unicode ones based on a two-range tricky-char scan. The fuzz suite
covers this statistically; this test covers it EXHAUSTIVELY: every char
in [\\x01-\\x7f] plus every Python-whitespace / exotic-digit char is
injected at the grok positions where ASCII/Unicode semantics could
diverge (inside a \\S+ token, as field padding, inside msg), and every
row must route and extract byte-identically to the pure-Python oracle.
(\\x00 is excluded: Spark JVM strings carry it, but the Arrow pandas
round-trip the comparison itself uses does too — it's covered by fuzz.)
"""

import pandas as pd
import pytest

from illumio_spark import oracle, schema as S
from illumio_spark.plans.pipeline import run_pipeline
from illumio_spark.sources.tableio import TableIO

# every ASCII char + the chars whose class membership differs between
# Python and ASCII-Java regex semantics (Python-ws beyond Java-ws, NEL,
# NBSP, ogham, general-punctuation spaces, ideographic space) + a
# non-ASCII decimal digit (Arabic-Indic) + a non-ws non-digit Unicode char
_CHARS = [chr(c) for c in range(0x01, 0x80) if chr(c) not in "\n\r"] + [
    "\x85", "\xa0", "\u1680", "\u2000", "\u2005", "\u200a", "\u2028",
    "\u2029", "\u202f", "\u205f", "\u3000", "\u0660", "\u06f1",
    "\xe9", "\u4e2d",
]


def _rows():
    rows = []
    i = 0
    for ch in _CHARS:
        for text in (
            f"act=a{ch}b sn=s1 count=3 interval_sec=30 bytes_in=1 bytes_out=2 state=open msg=hello",
            f"act=session sn=s1 count=3 interval_sec=30 bytes_in=1 bytes_out=2 state=open msg=x{ch}y",
            f"{ch}act=session sn=s1 count=3 interval_sec=30 bytes_in=1 bytes_out=2 state=open msg=m",
            f"act=session sn=s1 count={ch} interval_sec=30 bytes_in=1 bytes_out=2 state=open msg=m",
            f"{ch}{{\"event_type\": \"user.login\", \"severity\": \"high\"}}",
        ):
            rows.append(
                {
                    "conv_id": "conv-0",
                    "turn_idx": i,
                    "role": "user",
                    "text": text,
                    "tool": None,
                    "ts": pd.Timestamp("2026-01-03 12:00:00"),
                }
            )
            i += 1
    return pd.DataFrame(rows)


def test_char_sweep_routes_and_formats_byte_identically(spark, tmp_path):
    pdf = _rows()
    sdf = spark.createDataFrame(pdf, schema=S.TRANSCRIPT_SCHEMA)
    got = run_pipeline(spark, sdf, io=TableIO(str(tmp_path)), run_id="sweep")
    want = oracle.run(pdf, run_id="sweep")

    g = got["routed_events"].toPandas().sort_values("turn_idx").reset_index(drop=True)
    w = want["routed_events"].sort_values("turn_idx").reset_index(drop=True)
    assert g["turn_idx"].tolist() == w["turn_idx"].tolist(), (
        "routing disagreement: rows classified differently between engines"
    )
    for col in ["event_class", "routed_text"]:
        gv = g[col].where(pd.notna(g[col]), None).tolist()
        wv = w[col].where(pd.notna(w[col]), None).tolist()
        if gv != wv:
            k = next(j for j in range(len(gv)) if gv[j] != wv[j])
            raise AssertionError(
                f"{col} mismatch at turn {g['turn_idx'][k]}:\n"
                f"spark : {gv[k]!r}\noracle: {wv[k]!r}\n"
                f"input : {pdf.set_index('turn_idx')['text'][g['turn_idx'][k]]!r}"
            )

    g_d = got["dead_letter"].toPandas().sort_values("turn_idx").reset_index(drop=True)
    w_d = want["dead_letter"].sort_values("turn_idx").reset_index(drop=True)
    assert g_d["turn_idx"].tolist() == w_d["turn_idx"].tolist()
    assert g_d["error_reason"].tolist() == w_d["error_reason"].tolist()
