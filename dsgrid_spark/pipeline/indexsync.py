"""One-way incremental mirror for persisted indexes — the disaster-
recovery / promotion tool (`index sync` in the CLI).

Every index this package persists (term, IVF, PQ, binary, sigs) is a
tree of IMMUTABLE batch-scoped directories plus a one-row-per-batch
log whose commit makes a batch visible (pipeline/indexlog.py). That
structure makes mirroring exactly-once by construction: copy a
batch's artifacts first, copy its LOG ROW last — the batch appears at
the destination atomically, exactly as an append would have landed
it. The mirror therefore needs no locks, no quiescence at the source,
and no bookkeeping beyond the destination's own log:

1. Static tables (``meta``/``stats``, and the legacy FLAT centroid /
   codebook layouts, which predate generation scoping) are copied
   once, when the destination lacks them.
2. Source batches are mirrored in COMMIT-TIME order (``committed_at_ms``,
   NULL = the unknown past = oldest). For each batch not yet ingested
   at the destination: any previous crashed attempt's artifacts are
   deleted, then its payload dirs (``<sub>/<col>=K/batch=<id>``), its
   generation tables (``centroids/batch=<id>``,
   ``codebooks/batch=<id>``), and its compaction rows
   (``compactions/by=<id>`` — inert until the batch commits) are
   copied, and its ``batches/batch=<id>`` log row LAST. Because the
   order is commit-time and compaction rows land before their
   replacing batch's log row, the destination's visible set after
   EVERY step equals a historical view of the source
   (``indexlog.resolve_timestamp``'s views) — consistent generations,
   no double counting, searches correct mid-sync.
3. A crash anywhere leaves the in-flight batch invisible at the
   destination; the re-run deletes its partial artifacts and
   re-copies. Re-running a completed sync is a no-op. Batches the
   source has retired-and-purged since the last sync are simply never
   copied; batches the destination holds that the source has since
   compacted away retire at the destination the instant the replacing
   batch's log row lands, and the destination's OWN vacuum purges
   them under its own ttl.

Round 12 keeps the protocol and changes the transport: all missing
batches' artifacts STAGE as one parallel Spark copy job
(:func:`_parallel_copy`, the DistCp shape) before any log row lands —
staging writes only invisible state, so parallelism never touches
atomicity. ``verify=True`` gates promotion on :func:`indexlog.fsck`,
and ``as_of=`` clones a PINNED historical view (the reproducible-eval
snapshot) instead of the live one.

Caveats, stated loudly: a REBUILT source (``write_*`` over an
existing path resets the log and reuses the ``base`` id with new
content) cannot be mirrored incrementally onto a destination that
synced the old build — batch ids no longer mean the same bytes; pass
``overwrite=True`` to reset the destination. The sigstore's optional
``corpus_path`` side table lives OUTSIDE the index tree; pass
``src_corpus``/``dst_corpus`` to mirror it batch-atomically alongside
(omitted, it is not copied). Locks and intents are lifecycle state,
never copied. A
purge racing the copy window at the source fails the copy LOUDLY
(re-run); schedule syncs inside the source's vacuum ttl grace, the
same contract its readers carry.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from dsgrid_spark.filesystem import LocalFilesystem, filesystem_for
from dsgrid_spark.pipeline import indexlog

__all__ = ["sync_index"]

#: 2-level subtrees copied per batch (generation tables, the
#: generation's drift-calibration record, replacement rows); payloads
#: are discovered from the tree itself
_TWO_LEVEL = (*((t, "batch") for t in indexlog.GEN_TABLES),
              ("compactions", "by"))


def _copy_tree(spark, src_path: str, dst_path: str) -> None:
    """Recursive DRIVER-SIDE copy of one directory (or file) to an
    EXACT destination path (pre-deleted by the caller, so Hadoop's
    copy-into-existing-dir nesting can never trigger). Used for the
    tiny serial pieces — static tables, compaction rows, log rows —
    and as the fallback when the parallel path can't serve a scheme;
    bulk batch payloads go through :func:`_parallel_copy`. A local
    source copies through the destination's filesystem, a remote one
    through its own (Hadoop resolves each side from its path, so the
    copy may cross schemes)."""
    fs = filesystem_for(spark, src_path)
    if isinstance(fs, LocalFilesystem):
        fs = filesystem_for(spark, dst_path)
    fs.copy_tree(src_path, dst_path)


def _copy_tree_atomic(spark, src_path: str, dst_path: str) -> None:
    """Copy a directory to a ``_``-prefixed sibling temp name, then
    RENAME into place — for trees that may be LIVE at the destination
    the moment they exist (compaction ``by=`` dirs whose ``by`` is
    already committed there): a crash mid-copy leaves only the temp
    (invisible to partition discovery and re-replaced on retry), never
    a permanently partial table the skip-if-exists pre-pass would
    treat as done."""
    fs = filesystem_for(spark, dst_path)
    parent, name = dst_path.rstrip("/").rsplit("/", 1)
    tmp = f"{parent}/_sync_tmp_{name}"
    fs.rm_tree(tmp)
    _copy_tree(spark, src_path, tmp)
    fs.rm_tree(dst_path)
    if not fs.rename(tmp, dst_path):
        raise IOError(f"rename failed: {tmp} -> {dst_path}")


def _list_files(spark, root: str) -> list[tuple[str, int]]:
    """Data files under ``root`` recursively (``_``/``.`` markers and
    checksums skipped), as (path-relative-to-root, size) pairs — the
    metadata listing the parallel copy schedules from. Driver-side:
    file COUNT per sync is bounded by batch count × partitions, orders
    of magnitude below the byte volume that made the serial copy the
    bottleneck."""
    from urllib.parse import urlparse

    cut = len(urlparse(root).path.rstrip("/")) + 1
    return [(urlparse(p).path[cut:], sz)
            for p, sz in filesystem_for(spark, root).list_sizes(root)]


def _pafs_of(path: str):
    """(pyarrow FileSystem, in-filesystem path) for a URI or bare
    path — the executor-side half of the parallel copy (no JVM on
    Python workers, so bytes stream through pyarrow's FS layer)."""
    import pyarrow.fs as pafs

    if "://" in path:
        fs, p = pafs.FileSystem.from_uri(path)
        return fs, p
    return pafs.LocalFileSystem(), path


def _copy_file_group(group: list[tuple[str, str]]) -> None:
    """Stream one slice's files src → dst (8 MiB chunks); idempotent
    (output streams truncate), so Spark task retries are safe."""
    for src, dst in group:
        sfs, sp = _pafs_of(src)
        dfs, dp = _pafs_of(dst)
        parent = dp.rsplit("/", 1)[0]
        if parent:
            dfs.create_dir(parent, recursive=True)
        with sfs.open_input_stream(sp) as r, \
                dfs.open_output_stream(dp) as w:
            while True:
                chunk = r.read(8 << 20)
                if not chunk:
                    break
                w.write(chunk)


def _parallel_copy(spark, specs: list[tuple[str, str, int]],
                   parallelism: int | None = None) -> None:
    """Copy ``(src, dst, size)`` file specs as ONE Spark job — the
    DistCp shape: the driver holds only the file list; bytes stream
    executor-side. Files are interleaved LARGEST-FIRST across slices
    so a handful of giant files can't serialize the job behind one
    task. Falls back to the driver-serial Hadoop copy when pyarrow
    cannot resolve the scheme (e.g. hdfs:// without libhdfs) or for
    single-file ticks where a job launch costs more than the copy."""
    if not specs:
        return
    sc = spark.sparkContext
    n = parallelism if parallelism is not None else \
        sc.defaultParallelism
    n = max(1, min(int(n), len(specs)))
    usable = n > 1
    if usable:
        try:  # driver-side scheme probe; workers import pyarrow lazily
            _pafs_of(specs[0][0]), _pafs_of(specs[0][1])
        except Exception:
            usable = False
    if not usable:
        for s, d, _ in specs:
            _copy_tree(spark, s, d)
        return
    ordered = sorted(specs, key=lambda t: (-t[2], t[0]))
    groups = [[(s, d) for s, d, _ in ordered[i::n]] for i in range(n)]
    sc.parallelize(groups, n).foreach(_copy_file_group)


def _batch_rels(spark, src: str, batch_id: str) -> list[str]:
    """Every source artifact of one batch, as index-relative paths,
    log row EXCLUDED (the caller copies it last): payload dirs plus
    the 2-level generation/compaction dirs."""
    fs = filesystem_for(spark, src)
    rels = ["/".join(st.path.rstrip("/").split("/")[-3:])
            for st in fs.glob(f"{src}/*/*/batch={batch_id}")]
    for sub, col in _TWO_LEVEL:
        if fs.exists(f"{src}/{sub}/{col}={batch_id}"):
            rels.append(f"{sub}/{col}={batch_id}")
    return rels


def sync_index(spark: SparkSession, src: str, dst: str,
               overwrite: bool = False,
               src_corpus: str | None = None,
               dst_corpus: str | None = None,
               copy_parallelism: int | None = None,
               verify: bool = False,
               as_of=None) -> dict:
    """Mirror the source index's committed state onto ``dst``
    (module docstring): incremental, idempotent, crash-safe,
    batch-atomic at the destination. Returns
    ``{"copied_batches": [...], "skipped_batches": n,
    "static_copied": [...], "copied_files": n, "copied_bytes": n}``.

    Bulk payload bytes move in ONE parallel Spark job over the missing
    batches' file list (:func:`_parallel_copy`, the DistCp shape —
    ``copy_parallelism`` slices, default the cluster's parallelism):
    staged artifacts are INVISIBLE at the destination until their log
    row lands, so parallelism never touches the protocol — artifacts
    (all of them, for every missing batch) first, then each log row,
    alone, in commit-time order from the driver. The initial mirror of
    a 100 TB index is therefore cluster-wide streaming, not a
    driver-serial loop; a crash at any point still converges on re-run
    (uncommitted batches are re-cleaned and re-staged).

    ``src_corpus``/``dst_corpus`` extend the mirror to a sigstore's
    store-managed corpus table (``corpus_path`` in
    ``sigstore.ingest_dedup_batch`` — it lives OUTSIDE the index
    tree): each batch's ``batch=<id>`` corpus dir is staged BEFORE the
    batch's log row, so corpus text becomes visible at the destination
    exactly when the batch's signatures do — the same atomicity
    ``read_corpus`` relies on at the source.

    ``verify=True`` runs :func:`indexlog.fsck` on the destination
    after the mirror and raises ``IOError`` on any ERROR finding —
    the promotion gate: never point traffic at an unverified mirror.

    ``as_of`` (a captured batch set or an ISO-8601 timestamp,
    :func:`indexlog.resolve_batches`'s contract) clones a PINNED
    HISTORICAL VIEW instead of the live one — the reproducible-eval
    snapshot: only the pin's batches copy, compaction rows beyond the
    pin stay inert at the destination (their replacing batches' log
    rows never land), and the clone's visible set equals exactly what
    a pinned search at the source reads. Validity follows the pin
    contract: a pin whose data the source has purged fails LOUDLY
    before anything copies. The destination must not already be AHEAD
    of the pin (batches outside it committed there) — use a fresh
    destination or ``overwrite=True``; a later un-pinned sync fast-
    forwards the clone to the live view incrementally.
    """
    if src.rstrip("/") == dst.rstrip("/"):
        raise ValueError("src and dst are the same path")
    if (src_corpus is None) != (dst_corpus is None):
        raise ValueError("pass src_corpus and dst_corpus together")
    sfs, dfs = filesystem_for(spark, src), filesystem_for(spark, dst)
    if not sfs.exists(f"{src}/batches"):
        raise ValueError(f"no batch log at {src!r}: not a persisted "
                         f"index (or nothing committed yet)")
    if overwrite:
        dfs.rm_tree(dst)
        if dst_corpus is not None:
            # a rebuilt source reuses batch ids: stale corpus text left
            # under a reused id would read back as the NEW batch's text
            filesystem_for(spark, dst_corpus).rm_tree(dst_corpus)
    elif dfs.exists(f"{dst}/batches"):
        # the destination is already an index: refuse to interleave a
        # DIFFERENT one into it (kind or immutable config mismatch —
        # also catches most rebuilt-source cases, whose new build
        # usually changes the config row; identical-config rebuilds
        # remain the documented --overwrite case)
        from dsgrid_spark.pipeline.stream_index import index_kind

        skind, dkind = (index_kind(spark, src), index_kind(spark, dst))
        if skind != dkind:
            raise ValueError(
                f"destination holds a {dkind!r} index; source is "
                f"{skind!r} — pass overwrite=True to replace it")
        for sub in ("meta", "stats"):
            if sfs.exists(f"{src}/{sub}") and dfs.exists(f"{dst}/{sub}"):
                srow = sfs.read_rows(f"{src}/{sub}")[0]
                drow = dfs.read_rows(f"{dst}/{sub}")[0]
                # corpus-size fields drift with appends; only the
                # immutable CONFIG keys must agree
                informational = {"n_docs", "total_tokens"}
                s_cfg = {k: v for k, v in srow.items()
                         if k not in informational}
                d_cfg = {k: v for k, v in drow.items()
                         if k not in informational}
                if s_cfg != d_cfg:
                    raise ValueError(
                        f"destination's {sub}/ config {d_cfg} != "
                        f"source's {s_cfg}: a different index (or a "
                        f"rebuilt source) — pass overwrite=True")

    # source snapshot: visible batches in commit-time order (NULL
    # commit time = the unknown past = first), so every intermediate
    # destination state is a historical source view
    try:
        at = {r["batch"]: r.get("committed_at_ms")
              for r in sfs.read_rows(f"{src}/batches")}
    except Exception:
        at = {}
    visible = indexlog.resolve_batches(spark, src, as_of)
    if as_of is not None and not overwrite \
            and dfs.exists(f"{dst}/batches"):
        ahead = indexlog.committed_batches(spark, dst) - visible
        if ahead:
            raise ValueError(
                f"destination already holds batches outside the pin "
                f"({sorted(ahead)}): a pinned clone cannot rewind it "
                f"— use a fresh destination or overwrite=True")
    order = sorted(visible, key=lambda b: (
        0 if at.get(b) is None else 1,
        at.get(b) if at.get(b) is not None else 0, b))

    # static tables: meta/stats once; the legacy FLAT centroid /
    # codebook layouts (root-level files, shared by every batch) are
    # copied as whole files when the destination has no such table yet
    static_copied = []
    for sub in ("meta", "stats"):
        if sfs.exists(f"{src}/{sub}") and not dfs.exists(f"{dst}/{sub}"):
            _copy_tree(spark, f"{src}/{sub}", f"{dst}/{sub}")
            static_copied.append(sub)
    for sub in ("centroids", "codebooks"):
        flat = [st.name for st in sfs.glob(f"{src}/{sub}/*")
                if not st.name.startswith(("batch=", "_", "."))]
        if flat and not dfs.exists(f"{dst}/{sub}"):
            for name in flat:
                _copy_tree(spark, f"{src}/{sub}/{name}",
                           f"{dst}/{sub}/{name}")
            static_copied.append(f"{sub} (flat)")

    # ALL compaction rows mirror, not just visible batches': the
    # ``by=`` dirs of already-purged intermediates are the PERMANENT
    # replay/id-reuse guard (indexlog._retired resolves retirement
    # transitively through them) — without them, a destination
    # promoted to primary could re-ingest a batch whose rows live on
    # inside a compacted successor. Rows are inert until their ``by``
    # commits; ones whose ``by`` is already committed at dst activate
    # retirements the source has already made — both safe at every
    # intermediate state. The batch loop below re-copies its own.
    for st in sfs.glob(f"{src}/compactions/by=*"):
        name = st.name
        if not dfs.exists(f"{dst}/compactions/{name}"):
            # temp+rename: a ``by=`` dir whose batch is already
            # committed at dst is LIVE the moment it exists, and this
            # skip-if-exists pass would treat a crashed partial copy
            # as done forever — atomically landed, a re-run self-heals
            _copy_tree_atomic(spark, f"{src}/compactions/{name}",
                              f"{dst}/compactions/{name}")

    ingested_dst = indexlog.batch_sets(spark, dst)[1] \
        if dfs.exists(f"{dst}/batches") else set()
    todo = [b for b in order if b not in ingested_dst]
    skipped = len(order) - len(todo)

    # PHASE 1 — stage every missing batch's artifacts (payload dirs,
    # generation tables, its own compaction rows, corpus dirs): clean
    # previous crashed attempts (the batches are uncommitted at dst,
    # so nothing reads them), list the files, copy them all as ONE
    # parallel job. Nothing staged here is visible until phase 2.
    rels_of: dict[str, list[str]] = {}
    specs: list[tuple[str, str, int]] = []
    for b in todo:
        dfs.glob_delete(f"{dst}/*/*/batch={b}")
        for sub, col in _TWO_LEVEL:
            dfs.glob_delete(f"{dst}/{sub}/{col}={b}")
        rels = _batch_rels(spark, src, b)
        rels_of[b] = rels
        for rel in rels:
            files = _list_files(spark, f"{src}/{rel}")
            if not files:  # preserve empty dirs (FileUtil.copy did)
                dfs.mkdirs(f"{dst}/{rel}")
            specs.extend((f"{src}/{rel}/{f}", f"{dst}/{rel}/{f}", sz)
                         for f, sz in files)
        if src_corpus is not None and filesystem_for(
                spark, src_corpus).exists(f"{src_corpus}/batch={b}"):
            # corpus rows stage before the commit, like every artifact
            filesystem_for(spark, dst_corpus).rm_tree(
                f"{dst_corpus}/batch={b}")
            specs.extend(
                (f"{src_corpus}/batch={b}/{f}",
                 f"{dst_corpus}/batch={b}/{f}", sz)
                for f, sz in _list_files(spark, f"{src_corpus}/batch={b}"))
    _parallel_copy(spark, specs, copy_parallelism)

    # PHASE 2 — THE COMMITS: each batch's log row lands alone, from
    # the driver, in commit-time order; the batch (and any compaction
    # retirements / generation flips it carries) becomes visible here
    copied = []
    for b in todo:
        dfs.rm_tree(f"{dst}/batches/batch={b}")
        _copy_tree(spark, f"{src}/batches/batch={b}",
                   f"{dst}/batches/batch={b}")
        copied.append(b)
        # a batch carrying a generation marker makes any FLAT table the
        # destination still holds redundant — sweep it (the source did
        # the same at its migration), or root-level partition discovery
        # at dst would hit the mixed layout the source already escaped
        for sub in ("centroids", "codebooks"):
            if any(r.startswith(f"{sub}/") for r in rels_of[b]):
                for st in dfs.glob(f"{dst}/{sub}/*"):
                    if not st.name.startswith(("batch=", "_", ".")):
                        dfs.rm_tree(st.path)
    out = {"copied_batches": copied, "skipped_batches": skipped,
           "static_copied": static_copied,
           "copied_files": len(specs),
           "copied_bytes": sum(sz for _, _, sz in specs)}
    if verify:
        report = indexlog.fsck(spark, dst)
        out["fsck"] = report
        if not report.get("ok", False):
            raise IOError(
                f"post-sync fsck of {dst!r} found errors: "
                f"{report.get('errors')} — the mirror is not safe to "
                f"promote (re-run the sync; a clean re-run converges)")
    return out
