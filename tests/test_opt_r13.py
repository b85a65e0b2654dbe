"""Driver-side metadata IO: ``LocalFilesystem.write_rows`` (pyarrow, no
Spark job per one-row parquet file) stays bit- and schema-compatible
with the Spark writer it replaces, and an overwrite leaves nothing of
the previous write behind. The same checks run through both filesystem
implementations in ``test_filesystem.py``."""

from __future__ import annotations

import os

from dsgrid_spark.filesystem import LocalFilesystem
from dsgrid_spark.session import one_slice_df

STATS_DDL = ("n_docs long, total_tokens long, n_buckets int,"
             " has_positions boolean, analyzer string")
STATS_ROW = [(250, 31415, 8, False, "simple")]


def test_write_meta_rows_spark_readable(spark, tmp_path):
    """A flat overwrite via the pyarrow path reads back through
    spark.read.parquet with the values AND dtypes the one_slice_df
    Spark write produces."""
    fast = f"{tmp_path}/fast"
    slow = f"{tmp_path}/slow"
    LocalFilesystem().write_rows(fast, STATS_ROW, STATS_DDL)
    (one_slice_df(spark, STATS_ROW, STATS_DDL)
       .write.mode("overwrite").parquet(slow))
    df_fast = spark.read.parquet(fast)
    df_slow = spark.read.parquet(slow)
    assert df_fast.schema == df_slow.schema
    assert ([tuple(r) for r in df_fast.collect()]
            == [tuple(r) for r in df_slow.collect()])


def test_write_meta_rows_overwrite_replaces(spark, tmp_path):
    """Overwrite semantics: a second write fully replaces the first
    (no stale part files), like mode('overwrite')."""
    fs = LocalFilesystem()
    p = f"{tmp_path}/meta"
    fs.write_rows(p, STATS_ROW, STATS_DDL)
    fs.write_rows(p, [(999, 1, 4, True, "std")], STATS_DDL)
    got = fs.read_rows(p)
    assert len(got) == 1 and got[0]["n_docs"] == 999
    assert spark.read.parquet(p).count() == 1
    assert len([f for f in os.listdir(p) if f.endswith(".parquet")]) == 1
