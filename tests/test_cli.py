"""In-process smoke test of the transcript-pipeline CLI
(jobs/run_pipeline.py): a synthetic run prints one line per sink whose
counts match the oracle, a --resume re-run finds nothing pending, and an
unknown option is an argparse usage error. The text-pipeline CLI
(jobs/run_text_pipeline.py) rejects out-of-range sizes the same way."""

import re
import sys

import pytest

from illumio_spark import oracle, synth

N_CONV = 20
_SINK_LINE = re.compile(r"^\[pipeline\]\s+(\w+)\s+(\w+): ([\d,]+)$")


def _main(argv, monkeypatch, capsys):
    from jobs.run_pipeline import main

    monkeypatch.setattr(sys, "argv", ["run_pipeline.py", *argv])
    main()
    return capsys.readouterr().out.splitlines()


@pytest.fixture
def shared_session_conf(spark):
    # main() calls build_session, whose getOrCreate re-applies the
    # builder's SQL confs to this test session; put them back afterwards
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_run_pipeline_cli_sinks_resume_and_usage(shared_session_conf, tmp_path, monkeypatch, capsys):
    argv = ["--synthetic", str(N_CONV), "--output", str(tmp_path / "sinks"), "--run-id", "cli"]

    lines = _main(argv, monkeypatch, capsys)
    got = {
        (m[1], m[2]): int(m[3].replace(",", ""))
        for m in map(_SINK_LINE.match, lines) if m
    }
    want_pdf = oracle.run(synth.generate_pandas(N_CONV, hot_frac=0.2), run_id="cli")["rollups"]
    want = {(r.sink, str(r.event_class)): r.n_rows for r in want_pdf.itertuples()}
    assert got == want, lines
    assert any(l.startswith("[pipeline] run_id=cli ") for l in lines), lines

    lines = _main([*argv, "--resume"], monkeypatch, capsys)
    assert any("nothing pending" in l for l in lines), lines

    for removed in (["--parser", "pandas"], ["--sink-partitions", "8"]):
        with pytest.raises(SystemExit) as exc:
            _main([*argv, *removed], monkeypatch, capsys)
        assert exc.value.code == 2


@pytest.mark.parametrize("bad", [["--ngram", "0"], ["--ngram", "-3"], ["--cut-spans", "-1"]])
def test_run_text_pipeline_rejects_bad_sizes(bad, tmp_path, monkeypatch, capsys):
    from jobs.run_text_pipeline import main

    argv = ["--input", str(tmp_path / "in.parquet"), "--output", str(tmp_path / "out"), *bad]
    monkeypatch.setattr(sys, "argv", ["run_text_pipeline.py", *argv])
    with pytest.raises(SystemExit) as exc:
        main()
    assert exc.value.code == 2
    assert f"argument {bad[0]}: must be >= " in capsys.readouterr().err
