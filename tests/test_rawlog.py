"""Raw gz-NDJSON ingestion (S7/P1/S8): the wire-format front-end must be
lossless — routed rows from raw files byte-equal the in-memory path — and
the validity pre-scan must count malformed lines like the reference
(app/s3_manager.py:322-331)."""

import gzip
import os

import pytest

from illumio_spark import oracle, synth
from illumio_spark.plans.pipeline import run_pipeline
from illumio_spark.sources.rawlog import read_raw_gz, validity_prescan, write_gz_fixture
from illumio_spark.sources.tableio import TableIO

N_CONV = 60


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    pdf = synth.generate_pandas(N_CONV)
    out = str(tmp_path_factory.mktemp("rawgz"))
    paths = write_gz_fixture(pdf, out, lines_per_file=200)
    assert len(paths) > 1  # multi-file scan
    assert all(p.endswith(".ndjson.gz") for p in paths)
    return pdf, out


def test_filenames_encode_timestamp(fixture_dir):
    _, out = fixture_dir
    import re

    for name in os.listdir(out):
        assert re.match(r"^\d{14}_\d{5}\.ndjson\.gz$", name), name


def test_raw_roundtrip_byte_equal(spark, fixture_dir, tmp_path):
    pdf, out = fixture_dir
    raw = read_raw_gz(spark, f"{out}/*.ndjson.gz")
    out = run_pipeline(spark, raw, io=TableIO(str(tmp_path)))
    got = out["routed_events"].toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = oracle.run(pdf)["routed_events"]
    assert len(got) == len(want)
    assert (got["routed_text"].to_numpy() == want["routed_text"].to_numpy()).all()


def test_validity_prescan_counts_malformed(spark, fixture_dir, tmp_path):
    pdf, out = fixture_dir
    # copy one file and append malformed raw lines (truncated gz download /
    # corrupt NDJSON — the reference's invalid-line counting)
    src = sorted(os.listdir(out))[0]
    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    with gzip.open(os.path.join(out, src), "rt") as f:
        lines = f.read()
    n_good = len(lines.splitlines())
    with gzip.open(str(bad_dir / src), "wt") as f:
        f.write(lines)
        f.write('{"conv_id": "x", truncated\n')
        f.write("not json at all\n")
    row = validity_prescan(spark, str(bad_dir / "*.ndjson.gz")).collect()[0]
    assert row.n_total == n_good + 2
    assert row.n_valid == n_good
    assert row.n_invalid == 2


def test_malformed_raw_lines_dead_letter(spark, tmp_path):
    p = tmp_path / "m"
    p.mkdir()
    with gzip.open(str(p / "20260101000000_00000.ndjson.gz"), "wt") as f:
        f.write('{"conv_id":"c1","turn_idx":0,"role":"user","text":"act=completion sn=s count=1'
                ' interval_sec=1 bytes_in=1 bytes_out=1 state=ok msg=hi","tool":null,'
                '"ts":"2026-01-01T00:00:00.000000"}\n')
        f.write("garbage line\n")
    raw = read_raw_gz(spark, str(p / "*.ndjson.gz"))
    out = run_pipeline(spark, raw, io=TableIO(str(tmp_path / "sinks")))
    assert out["routed_events"].count() == 1
    dead = out["dead_letter"].collect()
    assert len(dead) == 1
    assert dead[0].conv_id == "__raw_invalid__"
    assert dead[0].raw_text == "garbage line"


def test_gz_roundtrip_hostile_text(spark, tmp_path):
    """The gz-NDJSON wire format must round-trip ANY text payload —
    including literal newlines, pipes, quotes, backslashes, and unicode —
    because the writer JSON-escapes per line and read_raw_gz's from_json
    unescapes symmetrically. Byte equality per (conv_id, turn_idx)."""
    import pandas as pd

    hostile = [
        "line with\nembedded newline",
        "tab\tand\rcarriage",
        'quotes "double" and \'single\'',
        "back\\slash and pipe|and=equals",
        "naïve — ünïcödé ✓ 中文 😀",
        "",
        None,
        "x" * 5000,
        '{"nested": "json in text", "n": [1,2]}',
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c-{i}" for i in range(len(hostile))],
            "turn_idx": range(len(hostile)),
            "role": ["user"] * len(hostile),
            "text": hostile,
            "tool": [None] * len(hostile),
            "ts": [pd.Timestamp("2026-01-05 08:00:00")] * len(hostile),
        }
    )
    write_gz_fixture(pdf, str(tmp_path))
    back = (
        read_raw_gz(spark, str(tmp_path) + "/*.ndjson.gz")
        .orderBy("turn_idx")
        .select("conv_id", "turn_idx", "text")
        .collect()
    )
    assert len(back) == len(hostile)
    for r, want in zip(back, hostile):
        assert r["text"] == want, f"turn {r['turn_idx']}: {r['text']!r} != {want!r}"
