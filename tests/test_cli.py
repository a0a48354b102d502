"""CLI argument semantics (cli.rs:69-95 parse tests)."""

from __future__ import annotations

import pytest

from clusterforge_spark.cli import build_parser, parse_rfm_values


def test_parse_rfm_happy_path():
    assert parse_rfm_values("30,10,500.0") == (30.0, 10.0, 500.0)
    assert parse_rfm_values(" 30 , 10 , 500 ") == (30.0, 10.0, 500.0)


def test_parse_rfm_wrong_arity():
    with pytest.raises(ValueError, match="expected 3"):
        parse_rfm_values("30,10")
    with pytest.raises(ValueError, match="expected 3"):
        parse_rfm_values("1,2,3,4")


def test_parse_rfm_bad_field_named():
    with pytest.raises(ValueError, match="invalid frequency"):
        parse_rfm_values("30,abc,500")
    with pytest.raises(ValueError, match="invalid monetary"):
        parse_rfm_values("30,10,xyz")


def test_parser_defaults():
    args = build_parser().parse_args(["--input", "x.csv"])
    assert args.clusters == 4
    assert args.max_iters == 300
    assert args.tolerance == 1e-4
    assert args.seed == 42
    assert args.predict is None


def _shared_session(spark, monkeypatch):
    """Hand the CLI the shared test session with a no-op stop: ``main``
    stops its session on exit, which would end the JVM for every test
    that runs after it."""
    import clusterforge_spark.session as S

    monkeypatch.setattr(spark, "stop", lambda: None, raising=False)
    monkeypatch.setattr(S, "get_spark", lambda *a, **k: spark)


def test_cli_curate_mode(spark, tmp_path, capsys, monkeypatch):
    from clusterforge_spark.cli import main

    from tests.conftest import SF_DIR

    _shared_session(spark, monkeypatch)
    out = str(tmp_path / "curated_out")
    rc = main(["--input", SF_DIR, "--curate", out])
    assert rc == 0
    captured = capsys.readouterr().out
    assert "Curation complete" in captured and "kept" in captured
    import os

    assert os.path.isdir(f"{out}/curated") and os.path.isdir(f"{out}/rejects")


def test_cli_curate_rejects_csv_input(spark, tmp_path, capsys, monkeypatch):
    from clusterforge_spark.cli import main

    _shared_session(spark, monkeypatch)
    csv = tmp_path / "x.csv"
    csv.write_text("a,b\n1,2\n")
    rc = main(["--input", str(csv), "--curate", str(tmp_path / "o")])
    assert rc == 2
