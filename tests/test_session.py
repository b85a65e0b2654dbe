"""``session.one_slice_df``: small driver-side row lists become one
Arrow ``LocalRelation`` slice — the same rows and schema as
``createDataFrame`` over one RDD slice, no Python worker, no size cap,
and rows Arrow cannot convert exactly keep the RDD path."""

from __future__ import annotations

import datetime
import glob
import os

import pytest
from pyspark.sql.types import StructType

from dsgrid_spark.session import one_slice_df


def _plan(df, mode="simple"):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def _rdd_df(spark, rows, ddl):
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
                                 StructType.fromDDL(ddl))


ROW_CASES = [
    pytest.param([(1, "a", 2.5), (2, None, None)],
                 "id int, name string, v double", id="scalars"),
    pytest.param([(0, [1.0, 2.0, 3.0]), (1, [])],
                 "cluster int, centroid array<double>", id="array"),
    pytest.param([(b"\x00\x01", True)], "blob binary, flag boolean",
                 id="binary_bool"),
    pytest.param([(None, [None, 2.0])], "s string, arr array<double>",
                 id="nulls"),
    pytest.param([("t1", 7), ("t2", 8)], "term string, df bigint",
                 id="bigint"),
]


@pytest.mark.parametrize("rows,ddl", ROW_CASES)
def test_one_slice_df_matches_rdd_path(spark, rows, ddl):
    """Same rows AND the same schema (nullability included) as
    createDataFrame(parallelize(rows, 1)), planned without a pickled
    RDD scan or a Python evaluation node."""
    got = one_slice_df(spark, rows, ddl)
    old = _rdd_df(spark, rows, ddl)
    assert got.schema == old.schema
    assert [tuple(r) for r in got.collect()] == \
        [tuple(r) for r in old.collect()]
    plan = _plan(got)
    assert "Scan ExistingRDD" not in plan
    assert "EvalPython" not in plan


def test_one_slice_df_fallbacks(spark):
    """Values without an exact Arrow form keep the one-slice RDD path,
    so the Arrow path never widens what one_slice_df accepts: a str or
    a bool into an int and an int overflow still fail as
    createDataFrame fails, and a timestamp (which Arrow localizes
    differently) reads back as createDataFrame reads it. A frame of any
    size on the Arrow path plans as a LocalRelation."""
    for rows, ddl in ([("5",)], "n int"), ([(True,)], "n int"), \
            ([(1 << 40,)], "n int"):
        df = one_slice_df(spark, rows, ddl)
        assert "Scan ExistingRDD" in _plan(df)
        with pytest.raises(Exception,
                           match="can not accept object|must be between"):
            df.collect()
    ts = [(datetime.datetime(2020, 1, 1, 6, 30),)]
    df = one_slice_df(spark, ts, "t timestamp")
    assert "Scan ExistingRDD" in _plan(df)
    assert df.collect() == _rdd_df(spark, ts, "t timestamp").collect()
    # 200 x 64 cells: past any literal-tree size, still one LocalRelation
    big = [(i, [float(j) for j in range(64)]) for i in range(200)]
    df = one_slice_df(spark, big, "c int, v array<double>")
    assert "LocalRelation" in _plan(df, "extended")
    assert "Scan ExistingRDD" not in _plan(df)
    assert df.rdd.getNumPartitions() == 1
    assert [tuple(r) for r in df.collect()] == big
    # generator input still works end-to-end
    df = one_slice_df(spark, ((i, "s") for i in range(3)), "a int, b string")
    assert df.count() == 3


def test_one_slice_df_used_by_index_meta_writes(spark, tmp_path):
    """An index meta write through one_slice_df round-trips through
    parquet, and HadoopFilesystem.write_rows (built on it) lands one
    part file per write, overwrite and partitioned append alike."""
    from dsgrid_spark.filesystem import HadoopFilesystem

    p = str(tmp_path / "meta")
    one_slice_df(
        spark, [(4, 2, 123, 8)],
        "num_hashes int, shingle_k int, seed int, n_shards int",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    back = spark.read.parquet(p).collect()
    assert [tuple(r) for r in back] == [(4, 2, 123, 8)]

    fs = HadoopFilesystem(spark, f"file://{tmp_path}")
    rows = [(i, float(i)) for i in range(50)]
    fs.write_rows(f"file://{tmp_path}/rows", rows, "n long, v double")
    fs.write_rows(f"file://{tmp_path}/log", rows, "n long, v double",
                  partition=("batch", "b1"))
    for sub in ("rows/part-*", "log/batch=b1/part-*"):
        assert len(glob.glob(os.path.join(str(tmp_path), sub))) == 1, sub
    assert sorted((r["n"], r["v"]) for r in
                  fs.read_rows(f"file://{tmp_path}/rows")) == rows
