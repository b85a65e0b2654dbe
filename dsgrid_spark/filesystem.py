"""Filesystem interface: local paths and Hadoop-FS URIs (object stores).

Mirrors the reference's filesystem abstraction (reference
dsgrid/filesystem/filesystem_interface.py, local_filesystem.py,
s3_filesystem.py:118, cloud/s3_storage_interface.py) re-expressed over
Spark's own Hadoop FileSystem layer instead of boto3: every scheme Spark
can read parquet from (file://, hdfs://, s3a://, gs://, abfss://) gets
metadata/text IO through the SAME JVM connector and credential chain the
parquet scans use — no second cloud SDK, no separate auth path.

This module is the ONLY route from ``dsgrid_spark`` to storage outside
Spark's own DataFrame readers and writers: the registry, the dataset
writers and every persisted index (``pipeline/indexlog.py`` and the
index modules) list, glob, rename, lock and read/write their small
metadata tables through :func:`filesystem_for`. A test scans the package
for raw Hadoop FileSystem calls anywhere else.

Usage for an object-store deployment::

    spark.conf.set("spark.hadoop.fs.s3a.endpoint", "https://minio.internal:9000")
    spark.conf.set("spark.hadoop.fs.s3a.path.style.access", "true")
    fs = filesystem_for(spark, "s3a://bucket/registry")
    fs.write_text("s3a://bucket/registry/registry.json", index_json)

Object stores offer no atomic flock; multi-writer registry mutation over
s3a:// is serialized by the lock-file protocol in
``dsgrid_spark.registry.locking`` (uuid + TTL lock files built on
``create_exclusive`` below, matching the reference's S3 registry lock
files — cloud/s3_storage_interface.py:49-134 — with a stronger
create-exclusive + read-back handshake instead of check-then-write).
Reads and version-immutable data dirs are safe without locks because
version directories are never rewritten.
"""

from __future__ import annotations

import os
import shutil
import uuid
from abc import ABC, abstractmethod
from pathlib import Path
from typing import Callable, NamedTuple
from urllib.parse import urlparse


class FileStatus(NamedTuple):
    """One :meth:`FilesystemInterface.glob` match. ``path`` is in the
    implementation's own form (a plain path locally, a qualified URI on
    Hadoop) and is accepted back by every method of the same
    filesystem."""

    path: str
    name: str
    mtime_ms: int
    is_dir: bool


class FilesystemInterface(ABC):
    """Reference filesystem_interface.py surface, plus what the
    persisted indexes need: globs, mtimes and small parquet row sets.

    Known differences between the implementations, pinned by
    ``tests/test_filesystem.py``: ``rename`` onto an EXISTING target
    replaces a file target and fails on a non-empty directory target
    locally (``os.replace``), while Hadoop returns False for a file
    target and moves the source INTO a directory target (callers that
    can meet an existing target must handle both — see
    ``sigstore._swap_corpus_batch``); local ``write_rows`` raises
    ValueError for a DDL type without a pyarrow mapping."""

    @abstractmethod
    def exists(self, path: str) -> bool: ...

    @abstractmethod
    def mkdirs(self, path: str) -> None: ...

    @abstractmethod
    def listdir(self, path: str) -> list[str]: ...

    @abstractmethod
    def rm_tree(self, path: str) -> None: ...

    @abstractmethod
    def rename(self, src: str, dst: str) -> bool: ...

    @abstractmethod
    def read_text(self, path: str) -> str: ...

    @abstractmethod
    def write_text(self, path: str, text: str) -> None: ...

    @abstractmethod
    def list_sizes(self, path: str) -> list[tuple[str, int]]:
        """Recursive (file_path, bytes) listing of DATA files — names
        starting with '_' or '.' (markers, checksums, staging) are
        skipped, matching what Spark's readers ignore."""
        ...

    @abstractmethod
    def copy_tree(self, src: str, dst: str) -> None:
        """Recursive copy to an absent ``dst``. Hadoop resolves each
        side from its own path, so small cross-scheme copies (a local
        index's log rows mirrored to hdfs) work; bulk cross-scheme
        transfer is a distcp-shaped job (``pipeline/indexsync.py``)."""
        ...

    @abstractmethod
    def create_exclusive(self, path: str, text: str) -> bool:
        """Create ``path`` with ``text`` ONLY if it does not exist;
        returns False (without writing) when it already does. Atomic on
        the local filesystem (``O_EXCL``) and on HDFS. NOT atomic through
        Hadoop over ``file://`` (its create checks existence, then
        creates), which is why :func:`filesystem_for` never returns
        :class:`HadoopFilesystem` for a local path. Best-effort on object
        stores whose create is last-writer-wins — callers needing a hard
        guarantee must verify by reading back (see
        registry/locking.py)."""
        ...

    @abstractmethod
    def glob(self, pattern: str) -> list[FileStatus]:
        """Entries matching a glob pattern (``*``, ``?``, ``[...]``),
        sorted by path; [] when nothing matches. ``*`` matches
        dot-names; Hadoop ``.crc`` checksum sidecars never match."""
        ...

    def glob_delete(self, pattern: str) -> int:
        """Recursively delete every entry matching ``pattern``; returns
        the number of matches removed (0 when nothing matched)."""
        matches = self.glob(pattern)
        for st in matches:
            self.rm_tree(st.path)
        return len(matches)

    @abstractmethod
    def mtime(self, path: str) -> int | None:
        """Modification time in epoch millis, or None when missing."""
        ...

    @abstractmethod
    def read_rows(self, dirpath: str) -> list[dict]:
        """Rows of a SMALL parquet directory (or single file) as dicts:
        hive ``k=v`` levels resolved the way Spark resolves them, columns
        merged across files (a column missing from some files reads as
        None — ``mergeSchema``). Raises FileNotFoundError when the path
        is missing or holds no data files. Not for data-scale tables."""
        ...

    @abstractmethod
    def write_rows(self, dirpath: str, rows, ddl: str,
                   partition: tuple[str, str] | None = None) -> None:
        """Write a SMALL row set (tuples in ``ddl`` field order) as
        parquet. ``partition=None`` overwrites ``dirpath``;
        ``partition=(col, value)`` appends one ``<dirpath>/<col>=<value>/``
        directory, exactly as ``partitionBy`` lays it out (the column
        lives in the directory name only)."""
        ...


class LocalFilesystem(FilesystemInterface):
    """Plain-path implementation (reference local_filesystem.py)."""

    def _p(self, path: str) -> Path:
        parsed = urlparse(str(path))
        return Path(parsed.path if parsed.scheme == "file" else str(path))

    def exists(self, path: str) -> bool:
        return self._p(path).exists()

    def mkdirs(self, path: str) -> None:
        self._p(path).mkdir(parents=True, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        return sorted(p.name for p in self._p(path).iterdir())

    def rm_tree(self, path: str) -> None:
        p = self._p(path)
        if p.is_dir():
            shutil.rmtree(p)
        elif p.exists():
            p.unlink()
            # as Hadoop's delete does, take the checksum sidecar along
            p.with_name(f".{p.name}.crc").unlink(missing_ok=True)

    def rename(self, src: str, dst: str) -> bool:
        self._p(src).replace(self._p(dst))
        return True

    def read_text(self, path: str) -> str:
        return self._p(path).read_text()

    def write_text(self, path: str, text: str) -> None:
        self._p(path).write_text(text)

    def list_sizes(self, path: str) -> list[tuple[str, int]]:
        out = []
        for p in sorted(self._p(path).rglob("*")):
            if p.is_file() and not p.name.startswith(("_", ".")):
                out.append((str(p), p.stat().st_size))
        return out

    def copy_tree(self, src: str, dst: str) -> None:
        s, d = self._p(src), self._p(dst)
        d.parent.mkdir(parents=True, exist_ok=True)
        if s.is_dir():
            shutil.copytree(s, d)
        else:
            shutil.copy2(s, d)

    def create_exclusive(self, path: str, text: str) -> bool:
        p = self._p(path)
        p.parent.mkdir(parents=True, exist_ok=True)
        try:
            fd = os.open(str(p), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, text.encode("utf-8"))
        finally:
            os.close(fd)
        return True

    def glob(self, pattern: str) -> list[FileStatus]:
        import glob as _glob

        out = []
        for p in sorted(_glob.glob(str(self._p(pattern)),
                                   include_hidden=True)):
            name = os.path.basename(p)
            if name.startswith(".") and name.endswith(".crc"):
                continue  # Hadoop checksum sidecar, hidden as Hadoop does
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed since the listing
                continue
            out.append(FileStatus(p, name, st.st_mtime_ns // 1_000_000,
                                  os.path.isdir(p)))
        return out

    def mtime(self, path: str) -> int | None:
        try:
            return os.stat(self._p(path)).st_mtime_ns // 1_000_000
        except FileNotFoundError:
            return None

    # Driver-side parquet IO for driver-bounded metadata (batch logs,
    # compaction rows, meta/stats rows, centroid and codebook tables).
    # Through Spark each of these was a full job — a 1-task write with
    # the whole FileSource commit protocol, or a 1-2-task scan+collect —
    # measured 0.15-0.5 s EACH on local[32], several per index build and
    # two per search call (q32 'bdf': 1.25 s of its 2.7 s warm path).
    # pyarrow reads and writes the same files in about 10 ms. Atomicity
    # matches the Spark writer: appends land as a hidden temp file
    # renamed into place (readers never see a partial file); overwrites
    # build a sibling temp dir and swap.

    def read_rows(self, dirpath: str) -> list[dict]:
        import pyarrow.parquet as _pq

        loc = str(self._p(dirpath))
        rows: list[dict] = []
        n_files = 0

        def _walk(d: str, extra: dict) -> None:
            nonlocal n_files
            for name in sorted(os.listdir(d)):
                if name.startswith((".", "_")):
                    continue
                p = os.path.join(d, name)
                if os.path.isdir(p):
                    if "=" in name:
                        k, _, v = name.partition("=")
                        _walk(p, {**extra, k: _partition_value(v)})
                    continue
                if not name.endswith(".parquet"):
                    continue
                n_files += 1
                for r in _pq.read_table(p).to_pylist():
                    r.update(extra)
                    rows.append(r)

        if os.path.isfile(loc):
            return _pq.read_table(loc).to_pylist()
        if not os.path.isdir(loc):
            raise FileNotFoundError(dirpath)
        _walk(loc, {})
        if n_files == 0:
            raise FileNotFoundError(f"no parquet data files under {dirpath}")
        keys = set()
        for r in rows:
            keys.update(r)
        for r in rows:
            for k in keys - r.keys():
                r[k] = None
        return rows

    def write_rows(self, dirpath: str, rows, ddl: str,
                   partition: tuple[str, str] | None = None) -> None:
        import pyarrow as pa
        import pyarrow.parquet as _pq

        loc = str(self._p(dirpath))
        schema = _pa_schema(ddl)
        if schema is None:
            raise ValueError(f"no pyarrow mapping for DDL {ddl!r}")
        rows = [tuple(r) for r in rows]
        cols = {f.name: pa.array([r[i] for r in rows], type=f.type)
                for i, f in enumerate(schema)}
        table = pa.table(cols, schema=schema)
        token = uuid.uuid4().hex[:12]
        if partition is not None:
            col, value = partition
            pdir = os.path.join(loc, f"{col}={value}")
            os.makedirs(pdir, exist_ok=True)
            tmp = os.path.join(pdir, f".part-{token}.parquet.tmp")
            _pq.write_table(table, tmp, compression="snappy")
            os.rename(tmp, os.path.join(pdir, f"part-00000-{token}.parquet"))
            return
        tmpdir = f"{loc}__tmp_{token}"
        os.makedirs(tmpdir)
        _pq.write_table(table,
                        os.path.join(tmpdir, f"part-00000-{token}.parquet"),
                        compression="snappy")
        if os.path.isdir(loc):
            shutil.rmtree(loc)
        os.rename(tmpdir, loc)


def _partition_value(raw: str):
    """Spark-style partition-value inference (int, then double, else
    string) for the one hive level metadata dirs carry (``batch=<id>``,
    ``by=<id>``). Batch ids are ``[A-Za-z0-9._-]`` by check_batch_id,
    so no unescaping is needed."""
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return float(raw)
    except ValueError:
        return raw


def _pa_schema(schema_ddl: str):
    """pyarrow schema for a DDL of scalar (or array-of-scalar) fields,
    or None when a type has no mapping."""
    import pyarrow as pa
    from pyspark.sql.types import (ArrayType, BinaryType, BooleanType,
                                   ByteType, DoubleType, FloatType,
                                   IntegerType, LongType, ShortType,
                                   StringType, StructType)
    try:
        st = StructType.fromDDL(schema_ddl)
    except Exception:
        return None
    mapping = {LongType: pa.int64(), IntegerType: pa.int32(),
               ShortType: pa.int16(), ByteType: pa.int8(),
               DoubleType: pa.float64(), FloatType: pa.float32(),
               StringType: pa.string(), BooleanType: pa.bool_(),
               BinaryType: pa.binary()}
    fields = []
    for f in st.fields:
        dt = f.dataType
        if isinstance(dt, ArrayType):
            inner = mapping.get(type(dt.elementType))
            t = pa.list_(inner) if inner is not None else None
        else:
            t = mapping.get(type(dt))
        if t is None:
            return None
        fields.append(pa.field(f.name, t))
    return pa.schema(fields)


class HadoopFilesystem(FilesystemInterface):
    """Any Hadoop-FS scheme via the session JVM (reference
    s3_filesystem.py, minus boto3: the s3a connector Spark already scans
    parquet through serves the metadata IO too, so credentials/endpoint
    configure ONCE via spark.hadoop.fs.s3a.*). Row-set IO is one Spark
    read or write, the cluster-filesystem path for hdfs/s3a indexes.
    """

    def __init__(self, spark, root_uri: str):
        self._spark = spark
        self._jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        self._fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(
            self._jvm.java.net.URI(str(root_uri)), conf
        )

    def _path(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(str(path))

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._path(path)))

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._path(path))

    def listdir(self, path: str) -> list[str]:
        statuses = self._fs.listStatus(self._path(path))
        return sorted(s.getPath().getName() for s in statuses)

    def rm_tree(self, path: str) -> None:
        self._fs.delete(self._path(path), True)

    def rename(self, src: str, dst: str) -> bool:
        return bool(self._fs.rename(self._path(src), self._path(dst)))

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._path(path))
        try:
            return str(self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"))
        finally:
            stream.close()

    def write_text(self, path: str, text: str) -> None:
        out = self._fs.create(self._path(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def list_sizes(self, path: str) -> list[tuple[str, int]]:
        it = self._fs.listFiles(self._path(path), True)
        out = []
        while it.hasNext():
            st = it.next()
            name = st.getPath().getName()
            if not name.startswith(("_", ".")):
                out.append((str(st.getPath().toString()), int(st.getLen())))
        return sorted(out)

    def copy_tree(self, src: str, dst: str) -> None:
        # each side's FileSystem comes from its own path, so the copy
        # may cross Hadoop schemes (a local index mirrored to hdfs)
        conf = self._fs.getConf()
        sp, dp = self._path(src), self._path(dst)
        if not self._jvm.org.apache.hadoop.fs.FileUtil.copy(
                sp.getFileSystem(conf), sp, dp.getFileSystem(conf), dp,
                False, conf):
            raise IOError(f"copy failed: {src} -> {dst}")

    def create_exclusive(self, path: str, text: str) -> bool:
        # FileSystem.create(path, overwrite=False) throws
        # FileAlreadyExistsException when the path exists — atomic on
        # HDFS; on S3A the existence check races (document at the caller).
        try:
            out = self._fs.create(self._path(path), False)
        except Exception as e:  # Py4JJavaError wrapping FileAlreadyExists
            if "AlreadyExists" in str(e) or "already exists" in str(e):
                return False
            raise
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        return True

    def glob(self, pattern: str) -> list[FileStatus]:
        out = []
        for st in (self._fs.globStatus(self._path(pattern)) or []):
            p = st.getPath()
            out.append(FileStatus(str(p.toString()), str(p.getName()),
                                  int(st.getModificationTime()),
                                  bool(st.isDirectory())))
        return sorted(out)

    def mtime(self, path: str) -> int | None:
        try:
            return int(self._fs.getFileStatus(
                self._path(path)).getModificationTime())
        except Exception as e:  # Py4JJavaError wrapping FileNotFound
            if "FileNotFound" in str(e):
                return None
            raise

    def read_rows(self, dirpath: str) -> list[dict]:
        # probe first: an absent or data-free dir is FileNotFoundError
        # here, never a Spark analysis error
        if not self.exists(dirpath) or not self.list_sizes(dirpath):
            raise FileNotFoundError(f"no parquet data files under {dirpath}")
        df = self._spark.read.option("mergeSchema", "true").parquet(
            str(dirpath))
        return [r.asDict() for r in df.collect()]

    def write_rows(self, dirpath: str, rows, ddl: str,
                   partition: tuple[str, str] | None = None) -> None:
        from dsgrid_spark.session import one_slice_df

        if partition is None:
            (one_slice_df(self._spark, [tuple(r) for r in rows], ddl)
               .write.mode("overwrite").parquet(str(dirpath)))
            return
        col, value = partition
        (one_slice_df(self._spark, [tuple(r) + (value,) for r in rows],
                      f"{ddl}, {col} string")
           .write.mode("append").partitionBy(col).parquet(str(dirpath)))


_DEFAULT_FS_CACHE: dict[int, str] = {}


def filesystem_for(spark, root: str) -> FilesystemInterface:
    """Pick the implementation for ``root``, the way Spark resolves it
    (reference filesystem factory): ``file:`` URIs, and bare paths
    under a ``file:`` default filesystem, get :class:`LocalFilesystem`
    (fast driver-side IO, atomic ``O_EXCL`` creates); every other
    scheme — and a bare path when ``fs.defaultFS`` is e.g. HDFS — goes
    through the Hadoop connector. ``fs.defaultFS`` is read once per
    session."""
    scheme = urlparse(str(root)).scheme
    if scheme == "file":
        return LocalFilesystem()
    if not scheme:
        key = id(spark._jsc)
        fsdef = _DEFAULT_FS_CACHE.get(key)
        if fsdef is None:
            fsdef = _DEFAULT_FS_CACHE[key] = str(
                spark._jsc.hadoopConfiguration().get(
                    "fs.defaultFS", "file:///"))
        if fsdef.startswith("file:"):
            return LocalFilesystem()
    return HadoopFilesystem(spark, root)


def break_marker(fs: FilesystemInterface, path: str,
                 owned: Callable[[str], bool]) -> bool:
    """Break a stale marker file (a lock) without check-then-delete —
    the stale-break half of the atomic-marker protocol whose acquire
    half is :meth:`FilesystemInterface.create_exclusive`.

    The marker is RENAMED to a breaker-unique tombstone
    (``<path>.broken-<uuid>``): of several racing breakers exactly one
    moves any given file. ``owned(tombstone)`` then checks that the
    moved file is the holder the caller judged stale (same uuid, same
    mtime — rename preserves both). If so the tombstone is deleted and
    True returned: the caller may now ``create_exclusive`` the marker.
    If not — the marker was re-acquired between the caller's read and
    the rename — it is put back through ``create_exclusive`` (never
    over a marker a third racer created meanwhile; that tombstone is
    left for vacuum and fsck to surface) and False returned: the caller
    lost and must back off."""
    tomb = f"{path}.broken-{uuid.uuid4().hex}"
    try:
        if not fs.rename(path, tomb):
            return False
    except Exception:  # marker already gone: another breaker moved it
        return False
    if owned(tomb):
        fs.rm_tree(tomb)
        return True
    if fs.create_exclusive(path, fs.read_text(tomb)):
        fs.rm_tree(tomb)
    return False
