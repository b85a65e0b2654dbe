"""Centroid retrain + reassign for persisted vector indexes — the
maintenance pass for DRIFTING corpora.

``append_ivf_index`` / ``append_binary_index`` / ``append_pq_index``
assign every new batch against the index's BUILD-TIME centroids — the
correct steady-state choice (a drifted centroid list would desync
probes from partitions), but a corpus whose distribution moves piles
appends into a few clusters: hot partitions, skewed scan tasks, and
probe recall decaying toward the structureless regime (SCALE_R9 §3
measured 0.30 probe recall when cluster structure is absent).
:func:`rebalance_index` closes that lifecycle:

1. retrain centroids on the COMMITTED vectors (k-means, with k-means‖
   init by default — the init built for exactly this distributed
   regime);
2. reassign every committed row to the new centroids;
3. rewrite every payload subtree as ONE replacement batch under the
   compaction id namespace, recorded in the same ``compactions/`` log
   :func:`indexlog.compact` uses;
4. write the new centroid table under ``centroids/batch=<new id>`` —
   a new centroid GENERATION (see
   :func:`similarity.write_centroid_generation`);
5. commit the batch log row LAST — the atomic flip: at that instant
   every reader's committed view switches from {old batches, old
   generation} to {rebalance batch, new generation}; pinned (as_of)
   readers keep resolving the OLD generation from their pinned batch
   set, bit-reproducibly, until vacuum purges it.

Payload semantics per index kind:

- ``ivf``: vectors move to their new cluster directories (values
  unchanged).
- ``binary``: packed sign bits are CENTROID-INDEPENDENT — they are
  joined to the new assignment and moved, never recomputed, so bits
  stay bit-identical to the originals; the re-rank vector payload
  moves alongside (int8 tier preserved as stored).
- ``pq`` (plain): codes are centroid-independent too — moved, not
  re-encoded.
- ``pq`` (residual / IVFADC): codes encode (vector − coarse centroid),
  so they are RE-ENCODED against the new centroids with the index's
  EXISTING codebooks (coarse-only retrain; codebook retrain remains a
  full rebuild decision). Requires ``store_vectors=True``.

Reassignment reads the stored re-rank payload: for ``vectors_dtype=
"int8"`` indexes the dequantized vectors (the same values the exact
re-rank scores), so assignment is consistent with what searches see.
Bits-only / codes-only indexes (``store_vectors=False``) cannot be
rebalanced — there is nothing to re-cluster; rebuild instead.

CONCURRENCY: the run holds the single-compactor lock (shared with
:func:`indexlog.compact`, so a rebalance and a compaction also
serialize against each other). Appends are NOT blocked — but an
append that commits mid-rebalance would be assigned against the OLD
generation while surviving the flip, silently mis-pruning every later
search. The run therefore re-checks the visible set immediately
before its commit and ABORTS (crash-equivalent state: open ``cmp``
intent, invisible data, cleaned by the retry or vacuum) when any
batch committed since its snapshot. The residual check-to-commit
window is one log write; schedule rebalances when appends are
quiescent, and re-run on abort.

Scale shape: one k-means fit (bounded by ``fit_sample_cap``), one
assignment pass over the committed vectors, a (id → new cluster) map
localCheckpointed ONCE (the smallest corpus-scale frame: two columns),
then one id-join + one ``repartition(cluster)`` shuffle per payload
subtree — the same order of work as the original build minus encoding.
No driver-side collect grows with the corpus.

Reference parity: the reference engine has no vector-index surface;
this extends the beyond-reference similarity family (SURVEY.md
pipeline scope) the same way compaction extended indexlog in round 9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dsgrid_spark.filesystem import filesystem_for
from dsgrid_spark.pipeline import indexlog

__all__ = ["rebalance_index", "rebalance_if_skewed",
           "rebalance_if_drifted", "assignment_drift", "RebalanceAborted",
           "cluster_skew", "maintain_index",
           "calibrate_drift_baseline", "read_drift_baseline",
           "write_drift_baseline"]


class RebalanceAborted(RuntimeError):
    """A batch committed while the rebalance was running; the run
    aborted before its commit (nothing became visible). Quiesce
    appends and re-run — the retry adopts the crashed intent and
    cleans up the aborted attempt's directories."""


def _rerank_vectors(spark: SparkSession, path: str, kind: str,
                    visible: set[str]) -> tuple[DataFrame, str]:
    """(stored_vectors_df, vectors_dtype): the committed re-rank
    payload rows with their ORIGINAL stored columns, plus the dtype
    needed to derive float embeddings from them."""
    from dsgrid_spark.pipeline.pq import _read_meta

    dtype = "float64"
    if kind != "ivf":
        meta = _read_meta(spark, path)
        if not meta["store_vectors"]:
            raise ValueError(
                f"cannot rebalance a store_vectors=False {kind} index: "
                f"no vectors to re-cluster; rebuild it instead")
        dtype = meta.get("vectors_dtype") or "float64"
    stored = indexlog.read_committed(spark, path, "vectors", ids=visible)
    return stored, dtype


def rebalance_index(spark: SparkSession, path: str,
                    n_clusters: int | None = None,
                    iterations: int = 5, seed: int = 11,
                    init: str = "parallel",
                    fit_sample_cap: int | None = None,
                    assign_strategy: str = "auto",
                    lock_ttl_seconds: float = 86400.0,
                    block_appends: bool = False,
                    retrain_codebooks: bool = False,
                    calibrate_drift: bool = True,
                    drift_sample: int = 4096,
                    _pre_commit_hook=None) -> str:
    """Retrain this index's coarse centroids on its committed vectors
    and rewrite every payload subtree under the new assignment, as one
    atomic compaction-style replacement (module docstring). Returns
    the new batch id (``cmp`` namespace).

    ``n_clusters`` defaults to the current generation's cluster count;
    pass a different value to also re-size the index (a drifted corpus
    often wants more lists). ``init``/``iterations``/``seed``/
    ``fit_sample_cap``/``assign_strategy`` flow to
    :func:`similarity.kmeans_centroids` — ``init="parallel"``
    (k-means‖) by default: a rebalance exists because the corpus grew
    structure the old centroids miss, exactly the regime pool-based
    seeding cannot see. ``_pre_commit_hook`` is a test seam (called
    between the payload writes and the commit re-check).

    ``block_appends=True`` turns "schedule during quiescence" into an
    ENFORCED mode on a busy index (where every attempt would otherwise
    abort on the visible-set re-check): the run raises the well-known
    append-block marker for its duration, and every append to the
    index fails loudly with :class:`indexlog.AppendsBlockedError` —
    checked at the append's start AND immediately before its commit,
    one FS probe each — instead of racing the flip. The marker is
    removed on completion and expires under the lock ttl if the
    rebalancer crashes (vacuum also reaps it).

    ``retrain_codebooks=True`` (PQ indexes only) additionally retrains
    the PQ codebooks on the stored vectors (for residual indexes: on
    the residuals against the NEW coarse centroids) and re-encodes
    every code — the remedy for drift heavy enough that the frozen
    codebooks themselves are stale, without a full rebuild. Codebook
    identity then rides the generation (``codebooks/batch=
    <establisher>``, flipped atomically with the centroids at the one
    log commit); a legacy flat codebook table is migrated to the
    generation layout in the same pass, with the OLD generation
    keeping its own copy so pinned readers keep decoding with the
    codebooks their codes were encoded with.

    ``calibrate_drift`` (default True) measures
    :func:`assignment_drift` right after the commit and persists the
    new generation's healthy ratio (:func:`write_drift_baseline`) —
    what the ``"auto"`` drift gate compares against; the probe is
    ``drift_sample``-bounded and never fails a committed rebalance.

    Exactly-once: the run claims a ``cmp`` intent; a crashed or
    aborted attempt is retried under the same id (its directories —
    payloads, centroid generation, compaction rows — are deleted
    before the rewrite), or reclaimed by :func:`indexlog.vacuum` after
    the ttl. Equal to a fresh build over the committed corpus with the
    retrained centroids (tested, binary bits bit-identical).
    """
    from dsgrid_spark.pipeline.stream_index import index_kind

    kind = index_kind(spark, path)
    if kind not in ("ivf", "binary", "pq"):
        raise ValueError(
            f"rebalance applies to vector indexes (ivf/binary/pq); "
            f"{path!r} is a {kind!r} index")
    if retrain_codebooks and kind != "pq":
        raise ValueError(
            f"retrain_codebooks applies to pq indexes only; {path!r} "
            f"is a {kind!r} index")
    indexlog.acquire_compact_lock(spark, path,
                                  ttl_seconds=lock_ttl_seconds)
    try:
        if block_appends:
            indexlog.block_appends(spark, path)
        batch = _rebalance_locked(spark, path, kind, n_clusters,
                                  iterations, seed, init,
                                  fit_sample_cap, assign_strategy,
                                  retrain_codebooks, _pre_commit_hook)
        if calibrate_drift:
            # record the fresh generation's HEALTHY drift ratio so
            # the "auto" gate needs no hand-tuned absolute threshold.
            # The rebalance is COMMITTED at this point: a failed
            # post-commit probe must not report it failed — the auto
            # gate self-calibrates on its next tick instead.
            try:
                calibrate_drift_baseline(spark, path,
                                         sample=drift_sample,
                                         seed=seed)
            except Exception:
                pass
        return batch
    finally:
        if block_appends:
            indexlog.unblock_appends(spark, path)
        indexlog.release_compact_lock(spark, path)


def _flat_entries(spark, subdir_path: str):
    """Statuses of root-level entries under an index subtree that are
    NOT ``batch=`` partition dirs — the legacy flat layout's files
    (plus ``_SUCCESS`` markers)."""
    return [st for st in filesystem_for(spark, subdir_path).glob(
                f"{subdir_path}/*")
            if not st.name.startswith("batch=")]


def _sweep_flat_centroids(spark, path: str, visible: set[str]) -> None:
    """Remove leftover FLAT centroid files once a COMMITTED generation
    marker exists (a crashed migration's second half, or debris from a
    pre-fix rebalance that appended ``batch=`` dirs next to flat files
    — the mixed layout that breaks root-level partition discovery).
    Only a committed marker makes the flat files redundant; an
    UNCOMMITTED marker (a crashed pre-fix rebalance) means the flat
    table is still the live generation, so the sweep waits for vacuum
    to reap the orphan marker instead."""
    if not (indexlog.centroid_generations(spark, path) & visible):
        return
    fs = filesystem_for(spark, path)
    for st in _flat_entries(spark, f"{path}/centroids"):
        fs.rm_tree(st.path)


def _migrate_flat_centroids(spark, path: str, visible: set[str]) -> str:
    """One-time migration of a legacy flat ``centroids/`` table into
    the generation layout, so the rebalance's new ``centroids/batch=
    <cmp>`` dir never lands next to root-level parquet files (Spark's
    partition discovery rejects mixed layouts — every later root-level
    centroid read of the index would fail; the r10 advice hole).

    The flat rows are copied under ``centroids/batch=<carrier>`` —
    the OLDEST committed batch in the view (``base`` wherever it still
    exists), the id most likely present in every outstanding pin —
    and the flat files are removed only AFTER the copy lands; readers
    resolve the generation from the marker the moment it exists and
    read it through the gen-scoped path directly (pq._read_centroids),
    so a crash between copy and sweep leaves the index fully readable
    and the next rebalance finishes the sweep. Returns the carrier id
    (the migrated generation)."""
    from dsgrid_spark.pipeline.pq import _read_centroids

    flat = _read_centroids(spark, path, None)
    if indexlog.BASE_BATCH in visible:
        carrier = indexlog.BASE_BATCH
    else:
        try:
            at = {r["batch"]: r.get("committed_at_ms") for r in
                  filesystem_for(spark, path).read_rows(f"{path}/batches")}
        except Exception:
            at = {}
        # NULL commit time = the unknown past (resolve_timestamp's
        # convention); ties break by name for determinism
        carrier = min(visible, key=lambda b: (
            0 if at.get(b) is None else 1,
            at.get(b) if at.get(b) is not None else 0, b))
    # the carrier is a COMMITTED id, so its marker dir is live the
    # instant it exists: land it atomically (side dir + one rename)
    # so concurrent readers never see an empty/partial marker during
    # the one-time migration (a partitionBy append creates the dir at
    # job start, data files only at commit)
    _write_gen_table(
        spark, path, "centroids", carrier,
        [(i, [float(x) for x in c], carrier) for i, c in enumerate(flat)],
        "cluster int, centroid array<double>, gen_src string")
    _sweep_flat_centroids(spark, path, visible)
    return carrier


def _write_gen_table(spark, path: str, sub: str, bid: str, rows,
                     ddl: str) -> None:
    """Land a small generation-scoped table at ``<sub>/batch=<bid>``
    ATOMICALLY: rows go to a ``_``-prefixed side dir (invisible to
    partition discovery, generation globs, and flat-file detection)
    and are RENAMED into place in one FS op, so readers of a COMMITTED
    ``bid`` never observe an empty/partial table. The previous target
    — a crashed partial attempt — is deleted first, which is safe
    because every caller's authoritative copy still exists elsewhere
    (flat files, or the side dir being renamed). Idempotent."""
    fs = filesystem_for(spark, path)
    tmp, final = f"{path}/{sub}/_tmp_gen_{bid}", f"{path}/{sub}/batch={bid}"
    fs.rm_tree(tmp)
    fs.write_rows(tmp, rows, ddl)
    fs.rm_tree(final)
    if not fs.rename(tmp, final):
        raise IOError(f"rename failed: {tmp} -> {final}")


def _write_codebooks_gen(spark, path: str, books, bid: str) -> None:
    """One generation's codebook table under ``codebooks/batch=<bid>``
    (the retrain writes the live old generation's copy too), landed
    atomically by :func:`_write_gen_table`."""
    from dsgrid_spark.pipeline.pq import _codebooks_to_rows

    _write_gen_table(spark, path, "codebooks", bid,
                     _codebooks_to_rows(books),
                     "j int, i int, centroid array<double>")


def _rebalance_locked(spark, path, kind, n_clusters, iterations, seed,
                      init, fit_sample_cap, assign_strategy,
                      retrain_codebooks, _pre_commit_hook) -> str:
    from dsgrid_spark.pipeline.pq import (
        _read_centroids, _read_codebooks, _read_meta, _rerank_embedding,
        _subtract_coarse, pq_encode, pq_fit,
    )
    from dsgrid_spark.pipeline.similarity import (
        assign_nearest_centroid, kmeans_centroids,
        write_centroid_generation,
    )

    visible = indexlog.committed_batches(spark, path)
    if not visible:
        raise ValueError(f"no committed batches at {path!r}; nothing "
                         "to rebalance")
    gen = indexlog.resolve_generation(spark, path, visible)
    if gen is None:
        # legacy flat layout: migrate BEFORE writing the new
        # generation's marker dir (mixed layouts break partition
        # discovery for every subsequent reader)
        gen = _migrate_flat_centroids(spark, path, visible)
    else:
        _sweep_flat_centroids(spark, path, visible)
    old_centroids = _read_centroids(spark, path, gen)
    k = n_clusters if n_clusters is not None else len(old_centroids)
    if k < 1:
        raise ValueError(f"n_clusters must be positive, got {k}")
    dim = len(old_centroids[0])

    stored, dtype = _rerank_vectors(spark, path, kind, visible)
    emb = _rerank_embedding(stored, dtype)

    # 1. retrain on the committed corpus (k-means|| init by default)
    centroids = kmeans_centroids(emb, k, dim, "embedding",
                                 iterations=iterations, seed=seed,
                                 fit_sample_cap=fit_sample_cap,
                                 assign_strategy=assign_strategy,
                                 init=init)

    # 2-5 run inside indexlog.replace_batches, which claims the
    #    replacement id, cleans any previous attempt, writes the
    #    (replaced, by) rows and commits with the sources' summed metrics
    def rewrite_all(batch_id: str) -> None:
        # 2. one assignment pass; the (id, cluster) map is the ONLY
        #    corpus-scale state carried across the subtree writes
        newmap = (assign_nearest_centroid(emb, centroids, "embedding",
                                          strategy=assign_strategy)
                  .select("id", F.col("__cluster").alias("cluster"))
                  .localCheckpoint())

        def _rewrite(sub: str, df: DataFrame) -> None:
            (df.join(newmap, "id")
               .withColumn("batch", F.lit(batch_id))
               .repartition(F.col("cluster"))
               .write.mode("append").partitionBy("cluster", "batch")
               .parquet(f"{path}/{sub}"))

        # 3. rewrite payloads: stored values preserved; only residual
        #    PQ codes are value-dependent on the centroids and
        #    re-encode — unless retrain_codebooks, which re-encodes
        #    EVERYTHING against freshly trained codebooks (plain codes
        #    included: their values depend on the books)
        _rewrite("vectors", stored.drop("cluster", "batch"))
        new_books = None
        if kind == "binary":
            bits = indexlog.read_committed(spark, path, "bits", ids=visible)
            _rewrite("bits", bits.drop("cluster", "batch"))
        elif kind == "pq":
            meta = _read_meta(spark, path)
            residual = bool(meta.get("residual", False))
            if retrain_codebooks:
                assigned = emb.join(newmap, "id")
                if residual:
                    enc_in = (_subtract_coarse(assigned, centroids,
                                               "cluster", "embedding",
                                               "__r")
                              .select("id",
                                      F.col("__r").alias("embedding")))
                else:
                    enc_in = assigned.select("id", "embedding")
                new_books = pq_fit(enc_in, int(meta["dim"]),
                                   int(meta["m"]), int(meta["k"]),
                                   vector_column="embedding",
                                   iterations=iterations, seed=seed,
                                   fit_sample_cap=fit_sample_cap)
                codes = pq_encode(enc_in, new_books, id_column="id",
                                  vector_column="embedding")
                _rewrite("codes", codes)
            elif residual:
                codebooks = _read_codebooks(spark, path, gen)
                assigned = emb.join(newmap, "id")
                enc_in = (_subtract_coarse(assigned, centroids, "cluster",
                                           "embedding", "__r")
                          .select("id", F.col("__r").alias("embedding")))
                codes = pq_encode(enc_in, codebooks, id_column="id",
                                  vector_column="embedding")
                _rewrite("codes", codes)
            else:
                codes = indexlog.read_committed(spark, path, "codes",
                                                ids=visible)
                _rewrite("codes", codes.drop("cluster", "batch"))

        # 4. the new generation's centroid table; for PQ, the codebook
        #    table rides the SAME generation flip
        write_centroid_generation(spark, path, centroids, batch_id,
                                  mode="append")
        if kind == "pq":
            _land_codebooks(spark, path, meta, gen, batch_id, new_books)

        if _pre_commit_hook is not None:
            _pre_commit_hook()
        # 5. abort if any batch committed since the snapshot: it was
        #    assigned against the OLD generation and would survive the
        #    flip mis-clustered (module docstring, CONCURRENCY). Last
        #    statement before the commit: the log write follows it.
        now_visible = indexlog.batch_sets(spark, path)[0]
        if now_visible != visible:
            raise RebalanceAborted(
                f"batches committed during the rebalance "
                f"({sorted(now_visible ^ visible)}); nothing was made "
                f"visible — quiesce appends and re-run (the retry "
                f"reuses intent {batch_id!r} and cleans this attempt "
                f"up)")

    # 6. THE COMMIT: new batch + new generation become visible, the
    #    sources invisible, at one log write
    return indexlog.replace_batches(spark, path, visible, rewrite_all)


def _land_codebooks(spark, path: str, meta: dict, gen: str, batch_id: str,
                    new_books) -> None:
    """The new generation's codebook table: the retrained books
    (``new_books``, migrating a flat table to the generation layout on
    the way), or — for a gen-scoped layout without retrain — a copy of
    the live generation's books under ``batch_id``."""
    from dsgrid_spark.pipeline.pq import (
        _flat_codebook_files, _read_codebooks, codebook_generations,
    )

    marked = codebook_generations(spark, path)
    if new_books is not None:  # retrain_codebooks
        flat_data = _flat_codebook_files(spark, path)
        if flat_data:
            # first retrain of a flat-codebook index — or the RETRY of
            # one that crashed mid-migration: (re)write the OLD
            # generation's copy UNCONDITIONALLY from the still-present
            # flat files (_read_codebooks reads flat first;
            # _write_codebooks_gen is an idempotent side-dir+rename).
            # Directory EXISTENCE is not a completion marker: a crashed
            # partial batch=<gen> dir must never cause this copy to be
            # skipped and the flat files then deleted — that would lose
            # the books pinned readers decode with, permanently (gen is
            # committed, so vacuum never reclaims the mistake).
            _write_codebooks_gen(
                spark, path, _read_codebooks(spark, path, gen), gen)
        _write_codebooks_gen(spark, path, new_books, batch_id)
        if flat_data:
            # flat files go only after BOTH gen-scoped tables
            # verifiably hold the full m*k rows
            expect = int(meta["m"]) * int(meta["k"])
            for bid in (gen, batch_id):
                n = spark.read.parquet(
                    f"{path}/codebooks/batch={bid}").count()
                if n != expect:
                    raise IOError(
                        f"codebooks/batch={bid} holds {n} rows, "
                        f"expected m*k={expect}; keeping the flat "
                        f"codebook files (retry the rebalance)")
            fs = filesystem_for(spark, path)
            for st in _flat_entries(spark, f"{path}/codebooks"):
                fs.rm_tree(st.path)
    elif marked:
        # gen-scoped layout without retrain: the new generation reuses
        # the same books — copy them under its id so its readers
        # resolve them (tiny payload, m*k rows)
        _write_codebooks_gen(
            spark, path, _read_codebooks(spark, path, gen), batch_id)


#: payload subtree whose row counts define skew, per index kind (the
#: scan payload — what probe-pruned searches actually read)
_SKEW_SUBDIR = {"ivf": "vectors", "binary": "bits", "pq": "codes"}


def maintain_index(spark: SparkSession, path: str,
                   ttl_seconds: float = 86400.0,
                   max_batches: int = 32,
                   max_over_mean: float | None = None,
                   max_distortion_ratio=None,
                   drift_margin: float = 1.05,
                   drift_sample: int = 4096,
                   fsck: bool = False,
                   **rebalance_kwargs) -> dict:
    """ONE cron entry for an index's whole maintenance lifecycle, in
    the safe order: (1) :func:`indexlog.vacuum` reclaims crash debris
    and expired replaced batches under ``ttl_seconds``; (2)
    :func:`indexlog.compact_if_fragmented` merges small batch dirs
    only past ``max_batches`` visible; (3) for vector indexes, when
    ``max_over_mean`` is given, :func:`rebalance_if_skewed` retrains
    past the skew threshold, and when ``max_distortion_ratio`` is
    given, :func:`rebalance_if_drifted` retrains past the live/refit
    distortion ratio — the recall-proxy gate that fires on
    uniform-mass drift where skew stays flat (give both and either
    can trigger; at most one rebalance runs per tick).
    ``max_distortion_ratio="auto"`` needs no hand-tuned number: it
    fires on the ratio rising past this index's RECORDED healthy
    baseline × ``drift_margin`` (see :func:`rebalance_if_drifted`;
    the first tick calibrates instead of firing). The skew gate
    costs one count-only scan when healthy; the drift gate one
    ``drift_sample``-bounded probe. ``fsck=True`` finishes the tick
    with :func:`indexlog.fsck` and RAISES on any error finding, so a
    cron'd index can never silently serve a corrupted tree. Returns
    what happened:
    ``{"vacuum": {...}, "compacted_batch": ..., "rebalanced_batch":
    ..., "drift": {...} | None[, "fsck": {...}]}``."""
    from dsgrid_spark.pipeline.stream_index import index_kind

    kind = index_kind(spark, path)  # refuse non-index dirs up front
    out: dict = {"kind": kind}
    out["vacuum"] = indexlog.vacuum(spark, path,
                                    ttl_seconds=ttl_seconds)
    out["compacted_batch"] = indexlog.compact_if_fragmented(
        spark, path, max_batches=max_batches)
    out["rebalanced_batch"] = None
    out["drift"] = None
    if kind in _SKEW_SUBDIR:
        if max_over_mean is not None:
            out["rebalanced_batch"] = rebalance_if_skewed(
                spark, path, max_over_mean=max_over_mean,
                **rebalance_kwargs)
        if (max_distortion_ratio is not None
                and out["rebalanced_batch"] is None):
            out["rebalanced_batch"], out["drift"] = _drift_gate(
                spark, path, max_distortion_ratio, drift_margin,
                drift_sample, 3, 11, rebalance_kwargs)
    if fsck:
        report = indexlog.fsck(spark, path,
                               lock_ttl_seconds=ttl_seconds)
        out["fsck"] = report
        if not report.get("ok", False):
            raise IOError(
                f"post-maintenance fsck of {path!r} found errors: "
                f"{report.get('errors')}")
    return out


def _mean_cosine_distortion(sample_df: DataFrame,
                            centroids: list[list[float]],
                            assign_strategy: str = "auto"
                            ) -> tuple[float, int]:
    """(mean 1−cosine(v, nearest centroid), n) over a sample frame —
    the k-means objective under the cosine metric every assignment in
    this package uses. One assignment pass + one broadcast join + one
    scalar aggregate, all bounded by the sample size."""
    from dsgrid_spark.pipeline.similarity import (
        assign_nearest_centroid, cosine,
    )
    from dsgrid_spark.session import one_slice_df

    spark = sample_df.sparkSession
    cent = F.broadcast(one_slice_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "__cluster int, __cent array<double>"))
    assigned = assign_nearest_centroid(sample_df, centroids, "embedding",
                                       strategy=assign_strategy)
    row = (assigned.join(cent, "__cluster")
           .agg(F.avg(F.lit(1.0)
                      - cosine(F.col("embedding"), F.col("__cent")))
                .alias("d"),
                F.count(F.lit(1)).alias("n")).collect()[0])
    return float(row["d"] if row["d"] is not None else 0.0), int(row["n"])


def assignment_drift(spark: SparkSession, path: str,
                     sample: int = 4096, iterations: int = 3,
                     seed: int = 11,
                     assign_strategy: str = "auto") -> dict:
    """The RECALL-PROXY drift signal :func:`rebalance_if_skewed`'s
    row-count skew cannot see (SCALE_R10 §4: planted drift moved skew
    1.74 → 1.76 while r@10 fell 0.525 → 0.375 — on uniform-mass
    corpora the skew gate stays silent exactly when rebalance
    matters). The probe measures the thing that actually degrades:
    how well the LIVE centroids still model the committed
    distribution.

    On a bounded deterministic sample (content-hash filter, the
    ``fit_sample_cap`` convention): ``distortion_live`` = mean
    (1 − cosine) of each sampled vector to its nearest LIVE centroid;
    ``distortion_refit`` = the same under a fresh same-k k-means fit
    OF THE SAMPLE (a mini-rebalance the probe throws away); ``ratio``
    = live / refit. A well-fitted index sits near 1.0 (the live
    centroids are already a k-means solution of this data); drift
    pushes the live distortion up while the refit captures the new
    structure, so the ratio rises — structure moving INTO the corpus
    that probes can no longer exploit. Cost: one sample
    materialization + ``iterations`` sample-bounded k-means passes +
    two distortion aggregates — bounded by ``sample``, never the
    corpus. Returns ``{n_sample, n_clusters, distortion_live,
    distortion_refit, ratio}``.
    """
    import math

    from dsgrid_spark.pipeline.pq import (_read_centroids,
                                          _rerank_embedding)
    from dsgrid_spark.pipeline.similarity import kmeans_centroids
    from dsgrid_spark.pipeline.stream_index import index_kind

    kind = index_kind(spark, path)
    if kind not in _SKEW_SUBDIR:
        raise ValueError(
            f"assignment_drift applies to vector indexes "
            f"(ivf/binary/pq); {path!r} is a {kind!r} index")
    if sample < 2:
        raise ValueError(f"sample must be >= 2, got {sample}")
    visible = indexlog.committed_batches(spark, path)
    if not visible:
        raise ValueError(f"no committed batches at {path!r}")
    gen = indexlog.resolve_generation(spark, path, visible)
    centroids = _read_centroids(spark, path, gen)
    stored, dtype = _rerank_vectors(spark, path, kind, visible)
    emb = _rerank_embedding(stored, dtype).select("id", "embedding")
    total = emb.count()
    s = emb
    if total > sample:
        denom = math.ceil(total / sample)
        s = emb.filter(
            F.pmod(F.xxhash64(F.col("embedding")), F.lit(denom)) == 0)
    s = s.localCheckpoint()
    live, n = _mean_cosine_distortion(s, centroids, assign_strategy)
    k = len(centroids)
    dim = len(centroids[0])
    refit = kmeans_centroids(s, k, dim, "embedding",
                             iterations=iterations, seed=seed,
                             assign_strategy=assign_strategy)
    fresh, _ = _mean_cosine_distortion(s, refit, assign_strategy)
    if fresh > 0.0:
        ratio = live / fresh
    else:
        ratio = 1.0 if live <= 0.0 else float("inf")
    return {"n_sample": n, "n_clusters": k, "dim": dim,
            "distortion_live": live, "distortion_refit": fresh,
            "ratio": ratio}


def write_drift_baseline(spark: SparkSession, path: str, gen: str,
                         drift: dict) -> None:
    """Persist a generation's HEALTHY drift ratio (measured right
    after the build/rebalance that established it) under
    ``drift_baseline/batch=<gen>`` — the self-calibration record the
    ``"auto"`` drift gate compares against, so ``maintain_index``
    needs no hand-tuned absolute threshold (the probe's magnitude is
    regime-dependent: 1.002 healthy on the sf10 rehearsal, >1.3
    planted drift on low-dim fixtures). Landed atomically
    (:func:`_write_gen_table`): ``gen`` is committed and live when this
    runs."""
    _write_gen_table(
        spark, path, "drift_baseline", gen,
        [(float(drift["ratio"]), int(drift["n_sample"]),
          int(drift["n_clusters"]), int(drift["dim"]))],
        "ratio double, n_sample int, n_clusters int, dim int")


def read_drift_baseline(spark: SparkSession, path: str,
                        gen: str) -> dict | None:
    """The persisted healthy-ratio record for one generation, or None
    when this generation was never calibrated (pre-feature index, or
    a build that skipped it)."""
    try:
        rows = filesystem_for(spark, path).read_rows(
            f"{path}/drift_baseline/batch={gen}")
    except FileNotFoundError:
        return None
    return rows[0] if rows else None


def calibrate_drift_baseline(spark: SparkSession, path: str,
                             sample: int = 4096, iterations: int = 3,
                             seed: int = 11) -> dict:
    """Measure :func:`assignment_drift` NOW and persist it as the
    live generation's healthy baseline. Call right after a build (the
    rebalance does it itself); the ``"auto"`` gate also self-invokes
    this on its first tick over an uncalibrated generation."""
    drift = assignment_drift(spark, path, sample=sample,
                             iterations=iterations, seed=seed)
    gen = indexlog.resolve_generation(
        spark, path, indexlog.committed_batches(spark, path))
    write_drift_baseline(spark, path, gen or indexlog.BASE_BATCH, drift)
    return drift


def _drift_gate(spark: SparkSession, path: str,
                max_distortion_ratio, margin: float,
                sample: int, probe_iterations: int, probe_seed: int,
                rebalance_kwargs: dict) -> tuple[str | None, dict]:
    """Shared core of :func:`rebalance_if_drifted` and
    :func:`maintain_index`'s drift arm: (new batch id | None, the
    drift probe's record — with ``threshold`` and, in auto mode,
    ``baseline``/``calibrated`` keys added so callers can see WHY the
    gate did or didn't fire)."""
    drift = assignment_drift(spark, path, sample=sample,
                             iterations=probe_iterations,
                             seed=probe_seed)
    if max_distortion_ratio == "auto":
        gen = indexlog.resolve_generation(
            spark, path, indexlog.committed_batches(spark, path))
        key = gen or indexlog.BASE_BATCH
        base = read_drift_baseline(spark, path, key)
        if (base is None
                or int(base["n_clusters"]) != int(drift["n_clusters"])
                or int(base["dim"]) != int(drift["dim"])):
            # uncalibrated generation — or a REBUILD changed the
            # regime (different k/dim) under a stale baseline row:
            # this tick establishes the baseline instead of firing
            write_drift_baseline(spark, path, key, drift)
            drift["baseline"] = drift["ratio"]
            drift["calibrated"] = True
            drift["threshold"] = None
            return None, drift
        threshold = max(float(base["ratio"]), 1.0) * margin
        drift["baseline"] = float(base["ratio"])
        drift["calibrated"] = False
    else:
        threshold = float(max_distortion_ratio)
    drift["threshold"] = threshold
    if drift["ratio"] <= threshold:
        return None, drift
    return rebalance_index(spark, path, **rebalance_kwargs), drift


def rebalance_if_drifted(spark: SparkSession, path: str,
                         max_distortion_ratio="auto",
                         margin: float = 1.05,
                         sample: int = 4096,
                         probe_iterations: int = 3,
                         probe_seed: int = 11,
                         **rebalance_kwargs) -> str | None:
    """The drift-gated maintenance entry: run :func:`assignment_drift`
    and retrain (:func:`rebalance_index`) only when the live/refit
    distortion ratio exceeds the threshold — the gate that fires on
    uniform-mass drift where :func:`rebalance_if_skewed` stays silent.
    Returns the new batch id, or None when the live centroids still
    fit. ``rebalance_kwargs`` forward to :func:`rebalance_index`.

    ``max_distortion_ratio="auto"`` (the default) SELF-CALIBRATES:
    the probe's magnitude is regime-dependent (healthy ratio 1.002 on
    the sf10-class rehearsal, planted drift >1.3 on the low-dim unit
    fixture — an order of magnitude apart, so no absolute number fits
    both), so the gate instead compares against THIS index's recorded
    healthy ratio: the rebalance persists the post-retrain ratio under
    ``drift_baseline/batch=<gen>`` (:func:`write_drift_baseline`),
    and the gate fires on ``ratio > max(baseline, 1.0) * margin`` —
    a RELATIVE rise. The first tick over an uncalibrated generation
    (or after a REBUILD that changed k/dim under a stale baseline
    row) measures and records the baseline instead of firing. Pass a
    number to pin an absolute threshold (must exceed 1.0; a freshly
    fitted index sits at ~1.0). A false fire costs one rebalance and
    lands the ratio back at ~1.0 — wasteful, never harmful."""
    if max_distortion_ratio != "auto" and max_distortion_ratio <= 1.0:
        raise ValueError(
            f"max_distortion_ratio must exceed 1.0 (a freshly fitted "
            f"index sits at ~1.0) or be 'auto', got "
            f"{max_distortion_ratio}")
    if margin <= 1.0:
        raise ValueError(f"margin must exceed 1.0, got {margin}")
    batch, _ = _drift_gate(spark, path, max_distortion_ratio, margin,
                           sample, probe_iterations, probe_seed,
                           rebalance_kwargs)
    return batch


def rebalance_if_skewed(spark: SparkSession, path: str,
                        max_over_mean: float = 3.0,
                        **rebalance_kwargs) -> str | None:
    """The cron-shaped maintenance entry: measure the scan payload's
    per-cluster skew and run :func:`rebalance_index` only when the
    heaviest cluster exceeds ``max_over_mean`` times the mean — one
    count-only aggregate when healthy, the full retrain only when the
    drift signal says so. Returns the new batch id, or None when no
    rebalance was needed. ``rebalance_kwargs`` forward to
    :func:`rebalance_index` (``n_clusters``, ``init``,
    ``fit_sample_cap``...)."""
    from dsgrid_spark.pipeline.stream_index import index_kind

    kind = index_kind(spark, path)
    sub = _SKEW_SUBDIR.get(kind)
    if sub is None:
        raise ValueError(
            f"rebalance applies to vector indexes (ivf/binary/pq); "
            f"{path!r} is a {kind!r} index")
    if max_over_mean <= 1.0:
        raise ValueError(
            f"max_over_mean must exceed 1.0 (a perfectly balanced "
            f"index sits at 1.0), got {max_over_mean}")
    skew = cluster_skew(spark, path, sub)
    if skew["max_over_mean"] < max_over_mean:
        return None
    return rebalance_index(spark, path, **rebalance_kwargs)


def cluster_skew(spark: SparkSession, path: str, subdir: str,
                 ids: set[str] | None = None,
                 top: int = 5, column: str = "cluster") -> dict:
    """Per-partition-key row-count skew for one payload subtree — the
    number that says WHEN to rebalance (``column="cluster"``) or how
    hot the term/shard hashing runs (``"bucket"``/``"shard"``). One
    count-only aggregate over the committed rows (column-pruned to the
    partition columns). Returns n_clusters (distinct keys), row
    totals, max/mean ratio, and the ``top`` heaviest keys."""
    rows = (indexlog.read_committed(spark, path, subdir, ids=ids)
            .groupBy(column).count().collect())
    counts = sorted(((int(r[column]), int(r["count"]))
                     for r in rows), key=lambda t: (-t[1], t[0]))
    total = sum(c for _, c in counts)
    n = len(counts)
    mean = (total / n) if n else 0.0
    return {
        "n_clusters": n,
        "rows": total,
        "max_rows": counts[0][1] if counts else 0,
        "mean_rows": mean,
        "max_over_mean": (counts[0][1] / mean) if mean else 0.0,
        "top": [{"cluster": c, "rows": r} for c, r in counts[:top]],
    }
