"""Tests for sources/load utilities (read_file dispatch, load_sas
cache path, optimized_df, df_types_dict, to_copy_paste)."""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pandas as pd
import pytest

from pd_utils_spark.sources.load import (
    df_types_dict,
    load_sas,
    optimized_df,
    read_file,
    read_parquet,
    to_copy_paste,
)
from tests.helpers import last_job_id

PDF = pd.DataFrame({"a": [1, 2], "b": ["x", "y"], "c": [1.5, 2.5]})


@pytest.fixture()
def tmpdir_files():
    d = tempfile.mkdtemp(prefix="src_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


class TestReadFile:
    def test_csv_dispatch(self, spark, tmpdir_files):
        p = f"{tmpdir_files}/t.csv"
        PDF.to_csv(p, index=False)
        out = read_file(spark, p).toPandas().sort_values("a").reset_index(drop=True)
        assert out.a.tolist() == [1, 2] and out.b.tolist() == ["x", "y"]

    def test_tsv_dispatch(self, spark, tmpdir_files):
        p = f"{tmpdir_files}/t.tsv"
        PDF.to_csv(p, index=False, sep="\t")
        assert read_file(spark, p).count() == 2

    def test_json_dispatch(self, spark, tmpdir_files):
        p = f"{tmpdir_files}/t.json"
        PDF.to_json(p, orient="records", lines=True)
        assert read_file(spark, p).count() == 2

    def test_parquet_dispatch(self, spark, tmpdir_files):
        p = f"{tmpdir_files}/t.parquet"
        PDF.to_parquet(p)
        assert read_file(spark, p).count() == 2

    def test_unknown_extension(self, spark):
        with pytest.raises(NotImplementedError, match=r"\.xyz"):
            read_file(spark, "/nope/file.xyz")


class TestLoadSas:
    def test_fresh_cache_is_used(self, spark, tmpdir_files):
        # a parquet cache newer than the .sas7bdat is read directly —
        # no SAS codec needed (mirrors the reference's mtime rule)
        sas = f"{tmpdir_files}/data.sas7bdat"
        with open(sas, "wb") as f:
            f.write(b"\x00")
        time.sleep(0.05)
        spark.createDataFrame(PDF).write.parquet(f"{tmpdir_files}/data.parquet")
        out = load_sas(spark, sas)
        assert out.count() == 2

    def test_stale_cache_triggers_reload(self, spark, tmpdir_files):
        spark.createDataFrame(PDF).write.parquet(f"{tmpdir_files}/data.parquet")
        time.sleep(0.05)
        sas = f"{tmpdir_files}/data.sas7bdat"
        with open(sas, "wb") as f:
            f.write(b"\x00")  # newer than cache -> cold path -> read_sas fails
        os.utime(sas, None)
        with pytest.raises(Exception):
            load_sas(spark, sas)


class TestOptimize:
    def test_optimized_df_narrows(self, spark):
        df = spark.createDataFrame(PDF)
        out = optimized_df(df)
        types = dict(out.dtypes)
        assert types["a"] == "int" and types["c"] == "float" and types["b"] == "string"

    def test_optimized_df_refuses_lossy_casts(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "big": [2**40, 1],               # overflows int32
                    "precise": [0.1, 1e300],          # not float32-exact
                    "ok": [1, 2],
                }
            )
        )
        types = dict(optimized_df(df).dtypes)
        assert types["big"] == "bigint"      # kept — would overflow
        assert types["precise"] == "double"  # kept — would lose precision
        assert types["ok"] == "int"

    def test_df_types_dict(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"a": [1], "d": pd.to_datetime(["2024-01-01"])})
        )
        assert df_types_dict(df) == {"a": "bigint"}
        assert "d" in df_types_dict(df, remove_dates=False)


class TestToCopyPaste:
    def test_literal_roundtrip(self, spark):
        df = spark.createDataFrame(PDF)
        s = to_copy_paste(df)
        rebuilt = eval(s, {"pd": pd})  # the emitted literal is valid code
        assert sorted(rebuilt.a) == [1, 2]
        assert list(rebuilt.columns) == ["a", "b", "c"]


class TestReadFileNewExtensions:
    def test_txt_reader(self, spark, tmp_path):
        from pd_utils_spark.sources.load import read_file

        p = tmp_path / "lines.txt"
        p.write_text("alpha\nbeta\n")
        out = read_file(spark, str(p))
        assert out.columns == ["value"]
        assert sorted(r.value for r in out.collect()) == ["alpha", "beta"]

    def test_jsonl_reader(self, spark, tmp_path):
        from pd_utils_spark.sources.load import read_file

        p = tmp_path / "rows.jsonl"
        p.write_text('{"a": 1}\n{"a": 2}\n')
        out = read_file(spark, str(p))
        assert sorted(r.a for r in out.collect()) == [1, 2]

    def test_gzipped_csv_dispatches_on_inner_extension(self, spark, tmp_path):
        import gzip

        from pd_utils_spark.sources.load import read_file

        p = tmp_path / "data.csv.gz"
        with gzip.open(p, "wt") as f:
            f.write("x,y\n1,a\n2,b\n")
        out = read_file(spark, str(p))
        assert out.columns == ["x", "y"]
        assert out.count() == 2

    def test_unknown_extension_raises(self, spark):
        import pytest as _pytest

        from pd_utils_spark.sources.load import read_file

        with _pytest.raises(NotImplementedError, match="xyz"):
            read_file(spark, "file.xyz")


class TestReadParquetSchemaMemo:
    """read_parquet infers a file's schema once and reuses it while the
    file and the inference confs are unchanged."""

    def test_repeat_read_runs_no_job(self, spark, tmp_path):
        p = str(tmp_path / "t.parquet")
        PDF.to_parquet(p)
        first = read_parquet(spark, p)
        before = last_job_id(spark)
        again = read_parquet(spark, p)
        via_dispatch = read_file(spark, p)
        assert last_job_id(spark) == before
        assert again.schema == first.schema == via_dispatch.schema
        assert sorted(r.a for r in again.collect()) == [1, 2]

    def test_rewrite_with_other_columns_reinfers(self, spark, tmp_path):
        p = str(tmp_path / "t.parquet")
        PDF.to_parquet(p)
        assert read_parquet(spark, p).columns == ["a", "b", "c"]
        pd.DataFrame({"z": [1.0, 2.0, 3.0]}).to_parquet(p)
        before = last_job_id(spark)
        out = read_parquet(spark, p)
        assert last_job_id(spark) > before  # the inference job ran
        assert out.columns == ["z"]
        assert sorted(r.z for r in out.collect()) == [1.0, 2.0, 3.0]

    def test_inference_conf_change_reinfers(self, spark, tmp_path):
        key = "spark.sql.legacy.parquet.nanosAsLong"
        p = str(tmp_path / "t.parquet")
        PDF.to_parquet(p)
        prev = spark.conf.get(key)
        read_parquet(spark, p)
        try:
            spark.conf.set(key, "false" if prev == "true" else "true")
            before = last_job_id(spark)
            read_parquet(spark, p)
            assert last_job_id(spark) > before
        finally:
            spark.conf.set(key, prev)

    def test_directory_and_glob_paths(self, spark, tmp_path):
        d = tmp_path / "parts"
        d.mkdir()
        PDF.iloc[:1].to_parquet(d / "p0.parquet")
        PDF.iloc[1:].to_parquet(d / "p1.parquet")
        for path in (str(d), str(d / "*.parquet")):
            out = read_parquet(spark, path)
            assert out.columns == ["a", "b", "c"]
            assert sorted(r.a for r in out.collect()) == [1, 2]
        # a directory is inferred on every read, so a changed member
        # file is seen
        pd.DataFrame({"a": [3], "b": ["z"], "c": [3.5], "d": [True]}).to_parquet(
            d / "p2.parquet"
        )
        out = read_parquet(spark, str(d))
        assert sorted(r.a for r in out.collect()) == [1, 2, 3]
