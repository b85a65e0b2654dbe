"""The filesystem layer (``dsgrid_spark/filesystem.py``).

One parity harness runs every ``FilesystemInterface`` method through
both implementations — ``LocalFilesystem()`` and
``HadoopFilesystem(spark, "file:///")`` — each case once per
implementation against identical trees, and asserts equal results (the
spark-rapids ``assert_gpu_and_cpu_are_equal_collect`` shape). Where the
two really differ, the difference itself is asserted, so callers can
rely on it. Also here: ``read_committed``'s footer schema against
Spark's own inference, the two lock races the shared atomic-marker
primitive closes, the default-filesystem resolution of
``filesystem_for``, and the layering guard that keeps raw Hadoop
FileSystem calls out of the rest of the package.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from pathlib import Path
from types import SimpleNamespace
from urllib.parse import urlparse

import pytest

from dsgrid_spark import filesystem as fsmod
from dsgrid_spark.filesystem import (HadoopFilesystem, LocalFilesystem,
                                     filesystem_for)
from dsgrid_spark.pipeline import indexlog
from dsgrid_spark.session import one_slice_df

STATS_DDL = ("n_docs long, total_tokens long, n_buckets int,"
             " has_positions boolean, analyzer string")
STATS_ROW = [(250, 31415, 8, False, "simple")]
IMPLS = ("local", "hadoop")


def _impl(spark, name: str):
    return (LocalFilesystem() if name == "local"
            else HadoopFilesystem(spark, "file:///"))


@pytest.fixture(params=IMPLS)
def fs(request, spark):
    return _impl(spark, request.param)


@pytest.fixture()
def load_df(spark):
    return spark.createDataFrame(
        [(h, county, float(h + 1) * mult) for h in range(4)
         for county, mult in (("06037", 1.0), ("08031", 10.0))],
        "hour int, geography string, value double")


def _rel(path: str, root: str) -> str:
    """A status path relative to ``root`` — Hadoop qualifies paths
    (``file:/...``), local globs return them as given."""
    return urlparse(path).path[len(str(root).rstrip("/")) + 1:]


def assert_fs_equal(spark, tmp_path, case):
    """Run ``case(fs, root)`` once per implementation, each in its own
    fresh root, and assert both return the same result."""
    out = {}
    for name in IMPLS:
        root = f"{tmp_path}/{name}"
        os.makedirs(root)
        out[name] = case(_impl(spark, name), root)
    assert out["local"] == out["hadoop"]
    return out["local"]


# ---------------------------------------------------------------------------
# write_rows / read_rows
# ---------------------------------------------------------------------------

def test_write_rows_overwrite_spark_readable(spark, tmp_path):
    """An overwrite reads back through spark.read.parquet with the
    values AND dtypes the one_slice_df Spark write produces, and a
    second overwrite fully replaces the first (no stale part files)."""
    ref = f"{tmp_path}/ref"
    (one_slice_df(spark, STATS_ROW, STATS_DDL)
       .write.mode("overwrite").parquet(ref))
    want = spark.read.parquet(ref)

    def case(fs, root):
        fs.write_rows(f"{root}/meta", STATS_ROW, STATS_DDL)
        got = spark.read.parquet(f"{root}/meta")
        assert got.schema == want.schema
        first = [tuple(r) for r in got.collect()]
        fs.write_rows(f"{root}/meta", [(999, 1, 4, True, "std")],
                      STATS_DDL)
        return first, fs.read_rows(f"{root}/meta")

    first, second = assert_fs_equal(spark, tmp_path, case)
    assert first == [tuple(r) for r in want.collect()]
    assert second == [{"n_docs": 999, "total_tokens": 1, "n_buckets": 4,
                       "has_positions": True, "analyzer": "std"}]


def test_partition_append_matches_partitionby(spark, tmp_path):
    """``partition=`` appends lay out <dir>/batch=<id>/ exactly as
    partitionBy does: same directory shape, partition column derived
    from the dirname by BOTH readers, absent from the file payload."""
    ref = f"{tmp_path}/ref_log"
    for b, n in (("base", 10), ("auto000001", 7)):
        (one_slice_df(spark, [(1, n, b)],
                      "committed long, n_docs long, batch string")
           .write.mode("append").partitionBy("batch").parquet(ref))
    want = spark.read.parquet(ref)
    key = lambda r: r["batch"]  # noqa: E731

    def case(fs, root):
        lp = f"{root}/log"
        for b, n in (("base", 10), ("auto000001", 7)):
            fs.write_rows(lp, [(1, n)], "committed long, n_docs long",
                          partition=("batch", b))
        got = spark.read.parquet(lp)
        assert got.schema == want.schema
        assert (sorted(tuple(r) for r in got.collect())
                == sorted(tuple(r) for r in want.collect()))
        import pyarrow.parquet as pq
        files = [os.path.join(d, f) for d, _, fs_ in os.walk(lp)
                 for f in fs_ if f.endswith(".parquet")]
        assert files and all(
            "batch" not in pq.read_table(f).column_names for f in files)
        return sorted(fs.read_rows(lp), key=key)

    rows = assert_fs_equal(spark, tmp_path, case)
    assert rows == sorted((r.asDict() for r in want.collect()), key=key)


def test_read_rows_on_spark_written_log(spark, tmp_path):
    """read_rows over a log Spark wrote equals the spark.read view on
    both implementations (an index whose log predates the driver-side
    writer)."""
    lp = f"{tmp_path}/idx/batches"
    for b, n in (("base", 3), ("day1", 4)):
        (one_slice_df(spark, [(1, n, b)],
                      "committed long, n_docs long, batch string")
           .write.mode("append").partitionBy("batch").parquet(lp))
    want = sorted((r.asDict() for r in spark.read.parquet(lp).collect()),
                  key=lambda r: r["batch"])
    for name in IMPLS:
        assert sorted(_impl(spark, name).read_rows(lp),
                      key=lambda r: r["batch"]) == want


def test_read_rows_merges_missing_columns(spark, tmp_path):
    """Files lacking a column read as None for it (the mergeSchema
    tolerance resolve_timestamp relies on for pre-commit-time logs)."""
    def case(fs, root):
        lp = f"{root}/log"
        fs.write_rows(lp, [(1,)], "committed long",
                      partition=("batch", "old"))
        fs.write_rows(lp, [(1, 123456789)],
                      "committed long, committed_at_ms long",
                      partition=("batch", "new"))
        return {r["batch"]: r for r in fs.read_rows(lp)}

    rows = assert_fs_equal(spark, tmp_path, case)
    assert rows["old"]["committed_at_ms"] is None
    assert rows["new"]["committed_at_ms"] == 123456789


def test_read_rows_missing_or_empty_raises(fs, tmp_path):
    """A missing or data-free dir is FileNotFoundError on both
    implementations — never a Spark analysis error."""
    with pytest.raises(FileNotFoundError):
        fs.read_rows(f"{tmp_path}/nope")
    os.makedirs(f"{tmp_path}/empty")
    Path(f"{tmp_path}/empty/_SUCCESS").touch()
    with pytest.raises(FileNotFoundError):
        fs.read_rows(f"{tmp_path}/empty")


def test_write_rows_unmappable_type(spark, tmp_path):
    """A real difference: the local writer maps DDL types to pyarrow
    and refuses a type without a mapping (here timestamp), writing
    nothing; the Hadoop writer is Spark and takes any Spark type. No
    caller writes such a type."""
    target = f"{tmp_path}/never_written"
    with pytest.raises(ValueError, match="no pyarrow mapping"):
        LocalFilesystem().write_rows(target, [(None,)], "v timestamp")
    assert not os.path.exists(target)
    HadoopFilesystem(spark, "file:///").write_rows(
        f"{tmp_path}/ts", [(None,)], "v timestamp")
    assert spark.read.parquet(f"{tmp_path}/ts").count() == 1


# ---------------------------------------------------------------------------
# parquet_data_schema / read_committed
# ---------------------------------------------------------------------------

def _committed_read(spark, monkeypatch, fs, path, ids):
    """read_committed of ``path``'s vectors through ``fs``, with the
    Spark jobs its planning launched."""
    monkeypatch.setattr(indexlog, "filesystem_for", lambda spark, p: fs)
    sc = spark.sparkContext
    sc.setJobGroup("read-committed-plan", "plan one committed read")
    try:
        df = indexlog.read_committed(spark, path, "vectors", ids=ids)
    finally:
        sc.setJobGroup(None, None)
    return df, sc.statusTracker().getJobIdsForGroup("read-committed-plan")


def test_read_committed_schema_matches_inference(spark, tmp_path,
                                                 monkeypatch, fs):
    """On a Spark-written ``cluster=*/batch=*`` tree, read_committed has
    the schema (nullability and partition columns included) and the rows
    of the Spark-inferred read. Locally the schema comes from one
    footer, so planning launches no job; Hadoop leaves it to Spark."""
    from pyspark.sql import functions as F

    path = f"{tmp_path}/idx"
    for b in ("base", "b1", "orphan"):
        (spark.range(12)
         .select("id", (F.col("id") % 3).cast("int").alias("cluster"),
                 F.array(F.col("id").cast("double"), F.lit(1.0))
                 .alias("embedding"), F.lit(b).alias("batch"))
         .write.mode("append").partitionBy("cluster", "batch")
         .parquet(f"{path}/vectors"))
    ids = {"base", "b1"}
    got, jobs = _committed_read(spark, monkeypatch, fs, path, ids)
    want = (spark.read.parquet(f"{path}/vectors")
            .filter(F.col("batch").isin(sorted(ids))))
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == 24
    spark_schema = fs.parquet_data_schema(f"{path}/vectors")
    if isinstance(fs, LocalFilesystem):
        assert spark_schema.fieldNames() == ["id", "embedding"]
        assert jobs == []
    else:
        assert spark_schema is None


def test_read_committed_infers_without_spark_metadata(spark, tmp_path,
                                                      monkeypatch, fs):
    """A pyarrow-written tree carries no Spark footer metadata: the
    schema read returns None and Spark infers the schema as before."""
    path = f"{tmp_path}/idx"
    for b in ("base", "b1"):
        LocalFilesystem().write_rows(f"{path}/vectors", [(1, 2.5), (2, None)],
                                     "id long, score double",
                                     partition=("batch", b))
    assert fs.parquet_data_schema(f"{path}/vectors") is None
    got, _ = _committed_read(spark, monkeypatch, fs, path, {"b1"})
    assert got.schema == spark.read.parquet(f"{path}/vectors").schema
    assert sorted((r["id"], r["score"], r["batch"]) for r in got.collect()) \
        == [(1, 2.5, "b1"), (2, None, "b1")]


# ---------------------------------------------------------------------------
# glob / glob_delete / mtime
# ---------------------------------------------------------------------------

def _index_tree(spark, root: str) -> None:
    """The shapes index callers glob over, including dot-names and the
    ``.crc`` sidecars Hadoop writes next to its files."""
    for d in ("postings/bucket=0/batch=base", "postings/bucket=1/batch=b1",
              "postings/bucket=1/batch=base", "intents/auto000002",
              "centroids/batch=base"):
        os.makedirs(f"{root}/{d}")
    hfs = HadoopFilesystem(spark, "file:///")
    hfs.write_text(f"{root}/postings/bucket=0/batch=base/part-0.parquet",
                   "x")  # leaves .part-0.parquet.crc beside it
    hfs.write_text(f"{root}/centroids/part-0.parquet", "x")
    for f in ("locks/compact.lock", "locks/compact.lock.broken-ab12",
              "locks/.hidden.lock", "intents/.dotted", "centroids/_SUCCESS"):
        os.makedirs(os.path.dirname(f"{root}/{f}"), exist_ok=True)
        Path(f"{root}/{f}").touch()


GLOBS = ("*/*/batch=*", "locks/*.lock.broken-*", "locks/*.lock",
         "intents/*", "centroids/*", "postings/bucket=*/batch=base",
         "postings/bucket=0/batch=base/*", "nothing/*")


def test_glob_patterns(spark, tmp_path):
    """Every pattern shape index callers use matches the same entries
    (relative path, name, is_dir) on both implementations; ``*``
    matches dot-names, ``.crc`` sidecars never match, and mtimes are
    epoch millis."""
    def case(fs, root):
        _index_tree(spark, root)
        out = {}
        for pattern in GLOBS:
            sts = fs.glob(f"{root}/{pattern}")
            for st in sts:
                assert abs(st.mtime_ms - time.time() * 1000) < 600_000
            out[pattern] = [(_rel(st.path, root), st.name, st.is_dir)
                            for st in sts]
        return out

    got = assert_fs_equal(spark, tmp_path, case)
    assert [n for _, n, _ in got["*/*/batch=*"]] == [
        "batch=base", "batch=b1", "batch=base"]
    assert [n for _, n, _ in got["intents/*"]] == [".dotted", "auto000002"]
    assert [n for _, n, _ in got["locks/*.lock"]] == [
        ".hidden.lock", "compact.lock"]
    assert [n for _, n, _ in got["locks/*.lock.broken-*"]] == [
        "compact.lock.broken-ab12"]
    assert [n for _, n, _ in got["centroids/*"]] == [
        "_SUCCESS", "batch=base", "part-0.parquet"]
    assert [n for _, n, _ in got["postings/bucket=0/batch=base/*"]] == [
        "part-0.parquet"]
    assert got["nothing/*"] == []


def test_glob_delete_counts(spark, tmp_path):
    """glob_delete removes every match recursively (a file together
    with its ``.crc`` sidecar) and returns how many matched; 0 when
    nothing does."""
    def case(fs, root):
        _index_tree(spark, root)
        counts = [fs.glob_delete(f"{root}/{p}")
                  for p in ("*/*/batch=base", "locks/*.lock.broken-*",
                            "intents/auto000002", "centroids/part-*",
                            "nothing/*")]
        left = sorted(os.path.relpath(os.path.join(d, n), root)
                      for d, ds, fs_ in os.walk(root) for n in ds + fs_)
        return counts, left

    counts, left = assert_fs_equal(spark, tmp_path, case)
    assert counts == [2, 1, 1, 1, 0]
    assert not any(p.endswith(".crc") for p in left
               if p.startswith("centroids/"))
    assert "postings/bucket=1/batch=b1" in left
    assert not any("batch=base" in p and p.startswith("postings/")
                   for p in left)


def test_mtime_ms(spark, tmp_path):
    """mtime is the file's modification time in epoch millis — the
    same value from both implementations for the same file — and None
    for a missing path."""
    p = f"{tmp_path}/f"
    Path(p).write_text("x")
    old = time.time() - 7200.5
    os.utime(p, (old, old))
    want = os.stat(p).st_mtime_ns // 1_000_000
    for name in IMPLS:
        fs = _impl(spark, name)
        assert fs.mtime(p) == want
        assert fs.mtime(f"{tmp_path}/missing") is None


# ---------------------------------------------------------------------------
# create_exclusive / rename / the remaining surface
# ---------------------------------------------------------------------------

def test_create_exclusive(spark, tmp_path):
    """First create wins (parents created), a second returns False
    without clobbering."""
    def case(fs, root):
        p = f"{root}/locks/x.lock"
        return (fs.create_exclusive(p, "first"),
                fs.create_exclusive(p, "second"), fs.read_text(p))

    assert assert_fs_equal(spark, tmp_path, case) == (True, False, "first")


def test_rename_onto_missing_and_existing_target(spark, tmp_path):
    """Onto a missing target both implementations move the entry, and a
    missing source raises on both. Onto an EXISTING target they differ,
    and callers handle both: locally a file target is replaced and a
    non-empty directory target raises; Hadoop returns False for a file
    target and moves the source INTO a directory target (the nesting
    sigstore's corpus swap unwinds)."""
    def case(fs, root):
        Path(f"{root}/a").write_text("a")
        os.makedirs(f"{root}/d1/x")
        moved = (fs.rename(f"{root}/a", f"{root}/b"),
                 fs.rename(f"{root}/d1", f"{root}/d2"))
        with pytest.raises(Exception):
            fs.rename(f"{root}/nope", f"{root}/nope2")
        return moved, sorted(os.listdir(root)), fs.read_text(f"{root}/b")

    assert assert_fs_equal(spark, tmp_path, case) == (
        (True, True), ["b", "d2"], "a")

    out = {}
    for name in IMPLS:
        fs, root = _impl(spark, name), f"{tmp_path}/existing_{name}"
        os.makedirs(f"{root}/src/x")
        os.makedirs(f"{root}/dst/y")
        Path(f"{root}/f1").write_text("1")
        Path(f"{root}/f2").write_text("2")
        try:
            dir_moved = fs.rename(f"{root}/src", f"{root}/dst")
        except OSError:
            dir_moved = "raised"
        out[name] = (fs.rename(f"{root}/f1", f"{root}/f2"),
                     Path(f"{root}/f2").read_text(), dir_moved,
                     sorted(os.listdir(f"{root}/dst")))
    assert out["local"] == (True, "1", "raised", ["y"])
    assert out["hadoop"] == (False, "2", True, ["src", "y"])


def test_hadoop_filesystem_over_file_uri(spark, load_df, tmp_path):
    """The Hadoop-FS-backed filesystem interface (reference
    dsgrid/filesystem/*, cloud/s3_storage_interface.py) round-trips
    metadata + parquet through a URI scheme. file:// exercises the exact
    code path an s3a:// root takes — same JVM connector API, different
    scheme — so this is the local proof of the object-store
    plumbing."""
    root = f"file://{tmp_path}/cloudreg"
    fs = HadoopFilesystem(spark, root)
    fs.mkdirs(f"{root}/datasets/load/.staging-1.0.0")
    fs.write_text(f"{root}/registry.json", '{"datasets": {}}')
    assert fs.exists(f"{root}/registry.json")
    assert fs.read_text(f"{root}/registry.json") == '{"datasets": {}}'
    load_df.write.parquet(f"{root}/datasets/load/.staging-1.0.0/table.parquet")
    # staged-rename publish, the store's crash-safety contract, over the FS
    assert fs.rename(f"{root}/datasets/load/.staging-1.0.0",
                     f"{root}/datasets/load/1.0.0")
    assert "1.0.0" in fs.listdir(f"{root}/datasets/load")
    got = spark.read.parquet(f"{root}/datasets/load/1.0.0/table.parquet")
    assert got.count() == load_df.count()
    sizes = fs.list_sizes(f"{root}/datasets/load/1.0.0")
    assert sizes and all(s > 0 for _, s in sizes)
    fs.copy_tree(f"{root}/datasets/load/1.0.0", f"{root}/copy")
    assert spark.read.parquet(f"{root}/copy/table.parquet").count() \
        == load_df.count()
    fs.rm_tree(f"{root}/datasets/load/1.0.0")
    assert not fs.exists(f"{root}/datasets/load/1.0.0")


def test_filesystem_s3a_round_trip(spark, load_df):
    """s3a:// round trip against a MinIO-style endpoint. Skips unless
    DSGRID_S3_TEST_ENDPOINT / _BUCKET (and optional _KEY/_SECRET) are set
    AND the hadoop-aws connector is on the classpath; on a real
    deployment the same HadoopFilesystem calls run unchanged over the
    configured endpoint."""
    endpoint = os.environ.get("DSGRID_S3_TEST_ENDPOINT")
    bucket = os.environ.get("DSGRID_S3_TEST_BUCKET")
    if not endpoint or not bucket:
        pytest.skip("no s3 test endpoint configured "
                    "(set DSGRID_S3_TEST_ENDPOINT / DSGRID_S3_TEST_BUCKET)")
    for k, v in {
        "fs.s3a.endpoint": endpoint,
        "fs.s3a.path.style.access": "true",
        "fs.s3a.access.key": os.environ.get("DSGRID_S3_TEST_KEY", ""),
        "fs.s3a.secret.key": os.environ.get("DSGRID_S3_TEST_SECRET", ""),
    }.items():
        spark._jsc.hadoopConfiguration().set(k, v)
    root = f"s3a://{bucket}/dsgrid_test"
    try:
        fs = filesystem_for(spark, root)
        fs.write_text(f"{root}/registry.json", "{}")
    except Exception as e:  # connector jar missing / endpoint unreachable
        pytest.skip(f"s3a unavailable: {e}")
    assert fs.read_text(f"{root}/registry.json") == "{}"
    load_df.write.mode("overwrite").parquet(f"{root}/table.parquet")
    assert spark.read.parquet(f"{root}/table.parquet").count() == load_df.count()
    # lock-file protocol primitives over the object store
    assert fs.create_exclusive(f"{root}/.locks/registry.lock", "{}")
    assert not fs.create_exclusive(f"{root}/.locks/registry.lock", "{}")
    fs.rm_tree(root)


# ---------------------------------------------------------------------------
# filesystem_for
# ---------------------------------------------------------------------------

def test_filesystem_for_default_fs(spark, tmp_path, monkeypatch):
    """Local for ``file:`` URIs and for bare paths under a ``file:``
    default FS; Hadoop for every other scheme AND for a bare path when
    ``fs.defaultFS`` is not ``file:`` (spark.read.parquet("/data/x")
    then resolves to HDFS, so must every listing and rename). The
    default FS is read once per session."""
    assert isinstance(filesystem_for(spark, str(tmp_path)), LocalFilesystem)
    assert isinstance(filesystem_for(spark, f"file://{tmp_path}"),
                      LocalFilesystem)
    made = []
    monkeypatch.setattr(fsmod, "_DEFAULT_FS_CACHE", {})
    monkeypatch.setattr(fsmod, "HadoopFilesystem",
                        lambda spark, root: made.append(root) or "hadoop")
    reads = []

    class Conf:
        def get(self, key, default):
            reads.append(key)
            return "hdfs://namenode:8020"

    jsc = SimpleNamespace(hadoopConfiguration=Conf)
    hdfs_session = SimpleNamespace(_jsc=jsc)
    assert filesystem_for(hdfs_session, "/data/x") == "hadoop"
    assert filesystem_for(hdfs_session, "/data/y") == "hadoop"
    assert isinstance(filesystem_for(hdfs_session, "file:///data/x"),
                      LocalFilesystem)
    assert filesystem_for(spark, "s3a://bucket/idx") == "hadoop"
    assert made == ["/data/x", "/data/y", "s3a://bucket/idx"]
    assert reads == ["fs.defaultFS"]


# ---------------------------------------------------------------------------
# the atomic-marker locks
# ---------------------------------------------------------------------------

def test_compact_lock_race_exactly_one_winner(spark, tmp_path):
    """6 threads race acquire_compact_lock on a fresh index path, 100
    times: exactly one wins each trial, the rest raise
    ConcurrentCompactionError. (Through Hadoop over file://, whose
    create checks existence and then creates, trials with two winners
    were common.)"""
    n_threads = 6
    for trial in range(100):
        path = f"{tmp_path}/idx{trial}"
        barrier = threading.Barrier(n_threads)
        results = []

        def racer():
            barrier.wait()
            try:
                indexlog.acquire_compact_lock(spark, path)
                results.append("won")
            except indexlog.ConcurrentCompactionError:
                results.append("lost")

        threads = [threading.Thread(target=racer) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert sorted(results) == ["lost"] * (n_threads - 1) + ["won"], \
            f"trial {trial}: {results}"


class _PauseAfterFirstRead(LocalFilesystem):
    """Stops its caller right after the first read_text returns — a
    breaker that has read the stale holder but not yet broken it."""

    def __init__(self):
        self.read_done = threading.Event()
        self.resume = threading.Event()

    def read_text(self, path):
        text = super().read_text(path)
        if not self.read_done.is_set():
            self.read_done.set()
            assert self.resume.wait(30)
        return text


def test_registry_lock_stale_break_is_atomic(tmp_path):
    """Two breakers both read the same stale holder. Breaker A pauses
    between its read and its break while breaker B breaks the lock and
    acquires. When A resumes it must not displace B: at most one lock is
    held. (Check-then-delete let A delete B's fresh lock and take it.)"""
    from dsgrid_spark.registry.locking import (RegistryLock,
                                               RegistryLockError,
                                               lock_path_for)

    path = lock_path_for(str(tmp_path / "reg"))
    LocalFilesystem().create_exclusive(path, json.dumps(
        {"username": "crashed", "uuid": "stale",
         "timestamp": time.time() - 3600}))
    slow_fs = _PauseAfterFirstRead()
    a = RegistryLock(slow_fs, path, user="a", timeout_seconds=1.0,
                     poll_seconds=0.05)
    b = RegistryLock(LocalFilesystem(), path, user="b",
                     timeout_seconds=2.0, poll_seconds=0.05)
    outcome = {}

    def run_a():
        try:
            a.acquire()
            outcome["a"] = "held"
        except RegistryLockError:
            outcome["a"] = "lost"

    t = threading.Thread(target=run_a)
    t.start()
    assert slow_fs.read_done.wait(30)
    b.acquire()
    slow_fs.resume.set()
    t.join(30)
    assert outcome["a"] == "lost"
    assert b.read_holder()["uuid"] == b.uuid
    b.release()


def test_log_batch_preserves_log_contract(spark, tmp_path, monkeypatch,
                                          fs):
    """log_batch → committed_batches / log_snapshot / resolve_timestamp
    behave identically through either implementation's row IO: ids
    visible, totals summed, commit times readable, no temp files
    left."""
    monkeypatch.setattr(indexlog, "filesystem_for", lambda spark, p: fs)
    path = f"{tmp_path}/idx"
    indexlog.log_batch(spark, path, "base", n_docs=5, total_tokens=100)
    indexlog.log_batch(spark, path, "auto000001", n_docs=2,
                       total_tokens=40)
    ids, totals = indexlog.log_snapshot(spark, path, "n_docs",
                                        "total_tokens")
    assert ids == {"base", "auto000001"}
    assert totals == {"n_docs": 7, "total_tokens": 140}
    assert indexlog.committed_batches(spark, path) == ids
    assert indexlog.resolve_timestamp(
        spark, path, "2100-01-01T00:00:00+00:00") == ids
    lp = indexlog._log_path(path)
    assert not any(f.startswith(".") and f.endswith(".tmp")
                   for d, _, fs_ in os.walk(lp) for f in fs_)


# ---------------------------------------------------------------------------
# layering guard
# ---------------------------------------------------------------------------

_RAW_FS = re.compile(r"org\.apache\.hadoop\.fs|getFileSystem|"
                     r"hadoopConfiguration\(|createNewFile|read_meta_rows|"
                     r"write_meta_rows|_meta_local_dir|"
                     r"read_metadata|read_schema")


def test_layering_guard_no_raw_filesystem_calls():
    """filesystem.py is the only module that may touch the Hadoop
    FileSystem API, read a parquet footer or pick a metadata IO path;
    everything else goes through filesystem_for."""
    pkg = Path(__file__).resolve().parent.parent / "dsgrid_spark"
    offenders = [
        f"{p.relative_to(pkg.parent)}:{i}: {line.strip()}"
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "filesystem.py" or p.parent != pkg
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _RAW_FS.search(line)]
    assert offenders == []


_COMMIT_POINTS = re.compile(
    r"\b(log_batch|clear_intent|reset_log|clear_attempt|summed_metrics|"
    r"check_appends_allowed|check_generation_unchanged)\(")


def test_layering_guard_commit_points_only_in_indexlog():
    """Every index build, append and replacement commits through
    indexlog.build_index / append_batch / replace_batches, so the
    commit points themselves are called nowhere else in the package."""
    pkg = Path(__file__).resolve().parent.parent / "dsgrid_spark"
    offenders = [
        f"{p.relative_to(pkg.parent)}:{i}: {line.strip()}"
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "pipeline" / "indexlog.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _COMMIT_POINTS.search(line)]
    assert offenders == []
