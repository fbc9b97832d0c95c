"""Replay CLI: day discovery and error paths."""

from __future__ import annotations

from etl_pipeline_for_detection_banking_fraud_spark.cli import discover_days, main


def test_discover_days_orders_by_date(tmp_path):
    for d in ("15042021", "01032021", "02032021"):
        (tmp_path / f"transactions_{d}.txt").write_text("")
    assert discover_days(str(tmp_path)) == ["01032021", "02032021", "15042021"]


def test_replay_empty_dir_exits_2(tmp_path, capsys):
    rc = main(["replay", "--data", str(tmp_path), "--warehouse", str(tmp_path / "wh")])
    assert rc == 2
    assert "no transactions" in capsys.readouterr().err


def test_replay_missing_seed_dml_exits_2_before_spark(feeds, tmp_path, capsys,
                                                      monkeypatch):
    """Feeds present but no seed DML at the given path: a usage error,
    and no Spark session is started for it."""
    from pyspark.sql import SparkSession

    from etl_pipeline_for_detection_banking_fraud_spark import cli

    def no_spark(*a, **k):
        raise AssertionError("get_spark called before the seed DML check")

    monkeypatch.setattr(cli, "get_spark", no_spark)
    before = SparkSession._instantiatedSession
    rc = main(["replay", "--data", feeds.dir, "--warehouse", str(tmp_path / "wh"),
               "--seed-dml", str(tmp_path / "missing_ddl_dml.sql")])
    assert rc == 2
    assert "--seed-dml" in capsys.readouterr().err
    assert SparkSession._instantiatedSession is before
    assert not (tmp_path / "wh").exists()
