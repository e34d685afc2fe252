"""The ``python -m dataframe_differ_spark`` command line."""

from __future__ import annotations

import dataframe_differ_spark.__main__ as cli


def test_cli_warns_on_right_side_duplicate_keys(spark, tmp_path, monkeypatch, capsys):
    left = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    right = spark.createDataFrame([(1, "a"), (2, "c"), (2, "d")], "k int, v string")
    lpath, rpath = str(tmp_path / "left.parquet"), str(tmp_path / "right.parquet")
    left.write.parquet(lpath)
    right.write.parquet(rpath)
    monkeypatch.setattr(cli, "get_spark", lambda app_name: spark)

    assert cli.main([lpath, rpath, "--keys", "k"]) == 0
    out, err = capsys.readouterr()
    assert "warning: right side has duplicate keys (e.g. (2,))" in err
    assert "left side" not in err
    assert out.startswith("DataFrame diff report")
    assert "changed        2" in out
