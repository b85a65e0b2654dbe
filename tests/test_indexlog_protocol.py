"""The shared index commit protocol (``indexlog.build_index`` /
``append_batch`` / ``replace_batches``) as seen through its callers:
the vector-dimension guard every vector build and append runs before
writing, the binary append's two pre-commit guards, and a compaction
retry's cleanup of the generation tables it transfers."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from dsgrid_spark.pipeline import indexlog
from tests.test_round11 import _clustered_vectors


def _vectors(spark, rows):
    return spark.createDataFrame(rows,
                                 "vec_id long, embedding array<double>")


def test_ivf_build_and_append_reject_wrong_dim(spark, tmp_path):
    """4-dim vectors against 8-dim centroids fail loudly at build and
    at append, before anything is written: a wrong-dim row gets no
    cluster and would land under ``cluster=__HIVE_DEFAULT_PARTITION__``,
    where no search probes it."""
    from dsgrid_spark.pipeline.similarity import (append_ivf_index,
                                                  ivf_search,
                                                  write_ivf_index)

    rows = _clustered_vectors(12, dim=8)
    centroids = [rows[0][1], rows[1][1]]
    short = _vectors(spark, [(100 + i, v[:4]) for i, v in rows[:4]])

    bad = str(tmp_path / "bad")
    with pytest.raises(ValueError, match="corpus vector dim 4 != coarse "
                                         "centroid dim 8"):
        write_ivf_index(short, bad, centroids)
    assert not os.path.exists(bad)

    path = str(tmp_path / "ivf")
    write_ivf_index(_vectors(spark, rows), path, centroids)
    with pytest.raises(ValueError, match="batch vector dim 4 != index "
                                         "dim 8"):
        append_ivf_index(short, path, batch_id="short1")
    assert indexlog.batch_sets(spark, path)[1] == {indexlog.BASE_BATCH}
    assert glob.glob(f"{path}/vectors/*/batch=short1") == []
    assert not glob.glob(f"{path}/vectors/cluster=__HIVE_DEFAULT_PARTITION__")
    got = ivf_search(spark, path, [(0, rows[0][1])], k=20,
                     n_probe=2).collect()
    assert sorted(r["id"] for r in got) == [i for i, _ in rows]


def test_binary_append_guards(spark, tmp_path, monkeypatch):
    """append_binary_index loses LOUDLY to a racing rebalance, like the
    IVF and PQ appends: a generation flip between its payload write and
    its commit raises StaleGenerationError, and a raised append-block
    marker raises AppendsBlockedError. After either, nothing of the
    batch is visible, and a retry under the same id lands."""
    from dsgrid_spark.pipeline.rebalance import rebalance_index
    from dsgrid_spark.pipeline.similarity import (append_binary_index,
                                                  hamming_search,
                                                  write_binary_index)

    rows = _clustered_vectors(30)
    path = str(tmp_path / "bin")
    write_binary_index(_vectors(spark, rows), path,
                       [rows[0][1], rows[1][1]])
    extra = (_vectors(spark, _clustered_vectors(6, seed=9))
             .withColumn("vec_id", F.col("vec_id") + 1000))

    def visible_ids():
        got = hamming_search(spark, path, [(0, rows[0][1])], k=100,
                             n_probe=2, rerank=False).collect()
        return {r["id"] for r in got}

    orig = indexlog.check_generation_unchanged
    state = {"fired": False}

    def hook(sp, p, gen):
        if not state["fired"]:
            state["fired"] = True
            rebalance_index(sp, p, calibrate_drift=False)
        return orig(sp, p, gen)

    monkeypatch.setattr(indexlog, "check_generation_unchanged", hook)
    with pytest.raises(indexlog.StaleGenerationError, match="flipped"):
        append_binary_index(extra, path, batch_id="race1")
    monkeypatch.setattr(indexlog, "check_generation_unchanged", orig)
    assert state["fired"]
    assert "race1" not in indexlog.batch_sets(spark, path)[1]
    assert all(i < 1000 for i in visible_ids())

    indexlog.block_appends(spark, path)
    try:
        with pytest.raises(indexlog.AppendsBlockedError):
            append_binary_index(extra, path, batch_id="blocked1")
    finally:
        indexlog.unblock_appends(spark, path)
    assert "blocked1" not in indexlog.batch_sets(spark, path)[1]
    assert all(i < 1000 for i in visible_ids())

    assert append_binary_index(extra, path, batch_id="race1") is True
    assert {i for i in visible_ids() if i >= 1000} == \
        {1000 + i for i in range(6)}


def test_compact_retry_single_drift_baseline_row(spark, tmp_path,
                                                 monkeypatch):
    """A compaction that absorbs the generation's establisher copies the
    generation tables (centroids, drift baseline) to its own batch id.
    When it crashes after those copies, the retry adopts the same id
    and clears every generation table of the crashed attempt first, so
    each copy holds exactly one attempt's rows."""
    from dsgrid_spark.filesystem import filesystem_for
    from dsgrid_spark.pipeline.rebalance import write_drift_baseline
    from dsgrid_spark.pipeline.similarity import (append_ivf_index,
                                                  write_ivf_index)

    rows = _clustered_vectors(20)
    path = str(tmp_path / "ivf")
    write_ivf_index(_vectors(spark, rows), path, [rows[0][1], rows[1][1]])
    append_ivf_index(_vectors(spark, _clustered_vectors(6, seed=9))
                     .withColumn("vec_id", F.col("vec_id") + 1000),
                     path, batch_id="b1")
    write_drift_baseline(spark, path, indexlog.BASE_BATCH,
                         {"ratio": 1.0, "n_sample": 26, "n_clusters": 2,
                          "dim": 6})

    orig = indexlog.log_batch

    def crash(sp, p, batch_id, **metrics):
        raise RuntimeError("crash before the compaction's commit")

    monkeypatch.setattr(indexlog, "log_batch", crash)
    with pytest.raises(RuntimeError, match="crash before"):
        indexlog.compact(spark, path)
    monkeypatch.setattr(indexlog, "log_batch", orig)
    crashed = indexlog.open_intents(spark, path)
    assert len(crashed) == 1

    cmp_id = indexlog.compact(spark, path)
    assert {cmp_id} == crashed
    assert indexlog.committed_batches(spark, path) == {cmp_id}
    fs = filesystem_for(spark, path)
    assert len(fs.read_rows(f"{path}/drift_baseline/batch={cmp_id}")) == 1
    assert len(fs.read_rows(f"{path}/centroids/batch={cmp_id}")) == 2
