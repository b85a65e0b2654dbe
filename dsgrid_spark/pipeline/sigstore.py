"""Persisted MinHash signature store for cross-run incremental dedup.

``incremental_dedup`` (pipeline/dedup.py) dedups a new batch against an
accumulated corpus using the corpus' signatures — but it takes
``reference_sigs`` as a DataFrame the CALLER must manage. A daily
100 TB ingest wants that table to be a first-class store with the same
guarantees the term/IVF/PQ/binary indexes already have: exactly-once
append of each accepted batch's signatures, committed-batch reads
(a crashed append's rows are invisible), and vacuum. This module
supplies exactly that, on the shared ``pipeline/indexlog.py``
machinery. Layout at ``<path>``:

    meta/    one row: (num_hashes, shingle_k, seed, n_shards)
    sigs/shard=K/batch=B/   (id, minhash array<long>)
    batches/ + intents/     indexlog exactly-once machinery

The signature params ride the META row and every append re-signs its
batch with the STORE'S OWN params — a caller-supplied num_hashes that
drifted from the stored signatures would silently mis-band every
future bucket join (the same failure class as probing an IVF index
with foreign centroids). ``shard = pmod(xxhash64(id), n_shards)`` is a
content-derived intermediate partition level: it bounds per-directory
file counts at corpus scale, parallelizes writes, and keeps the data
dirs on the ``<subtree>/<col>=K/batch=B`` two-level layout that
``indexlog.vacuum`` manages. Reads never prune on it (every dedup run
needs all shards); banding happens at read time from the raw
signatures, so ``num_bands`` stays a per-run knob while the store
stays banding-agnostic.

``ingest_dedup_batch`` is the turnkey continuous-ingest step: dedup
the incoming batch against the committed store (within-batch + versus
corpus), then register the SURVIVORS' signatures exactly-once under
the batch id. Replaying a committed batch recomputes nothing and
changes nothing: the survivor set is recovered from the store itself
(the appended ids ARE the survivors), so a crashed orchestrator can
re-run the step idempotently — the crash/replay contract the
round-9 spec asks for.

Reference parity: the reference engine has no dedup surface; this
extends the dedup family (SURVEY.md "beyond the reference" pipeline
scope) the same way the persisted term/IVF/PQ indexes extend
retrieval/similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dsgrid_spark.filesystem import filesystem_for
from dsgrid_spark.pipeline import indexlog
from dsgrid_spark.pipeline.dedup import (exact_dedup, incremental_dedup,
                                         minhash_signatures)

__all__ = [
    "write_sig_store",
    "append_sig_store",
    "read_sig_store",
    "sig_store_params",
    "ingest_dedup_batch",
    "read_corpus",
    "ConcurrentBatchError",
]


class ConcurrentBatchError(RuntimeError):
    """Another writer committed this batch id mid-ingest (the batch was
    unregistered when the run started, registered by someone else by
    the time it tried to append). The colliding writers were ingesting
    DIFFERENT content under one id — replaying the same content would
    have no-opped at the top — so the caller must not treat its own
    survivors as registered; re-run under a fresh batch id."""


def _read_params(spark: SparkSession, path: str) -> dict:
    return filesystem_for(spark, path).read_rows(f"{path}/meta")[0]


def sig_store_params(spark: SparkSession, path: str) -> dict:
    """The store's signature parameters (num_hashes, shingle_k, seed,
    n_shards) — the values every reader and appender must use."""
    return _read_params(spark, path)


def _sig_rows(df: DataFrame, text_column: str, id_column: str,
              params: dict, batch_id: str,
              signatures: DataFrame | None) -> DataFrame:
    """(id, minhash, shard, batch) rows for one batch, signed with the
    store's params unless the caller passes a precomputed ``signatures``
    table (which MUST come from minhash_signatures with those params —
    the usual reuse contract, same as minhash_dedup(signatures=...))."""
    if signatures is None:
        signatures = minhash_signatures(
            df, text_column, num_hashes=int(params["num_hashes"]),
            shingle_k=int(params["shingle_k"]), seed=int(params["seed"]))
    return (signatures.select(F.col(id_column).alias("id"), "minhash")
            .withColumn("shard", F.pmod(F.xxhash64(F.col("id")),
                                        F.lit(int(params["n_shards"])))
                        .cast("int"))
            .withColumn("batch", F.lit(batch_id)))


def _write_corpus_batch(df: DataFrame, corpus_path: str,
                        batch_id: str, mode: str = "append") -> None:
    """One batch's surviving rows (ALL their columns) under
    ``<corpus_path>/batch=<id>`` — the accumulated-corpus side table a
    continuous-ingest loop needs for verification text. Written BEFORE
    the signature-store commit and read filtered to the store's
    committed batches, it inherits the store's atomicity: a batch's
    corpus rows become visible exactly when its signatures do, and a
    crashed attempt's rows are invisible and rewritten by the retry."""
    (df.withColumn("batch", F.lit(batch_id))
       .write.mode(mode).partitionBy("batch").parquet(corpus_path))


def _swap_corpus_batch(spark: SparkSession, path: str, corpus_path: str,
                       survivors: DataFrame, batch_id: str) -> None:
    """Land one batch's corpus rows at ``<corpus_path>/batch=<id>``
    without ever deleting a RACING WRITER'S committed text (see the
    call site in :func:`ingest_dedup_batch`): write to a side dir,
    re-check the committed set, rename in (one FS op), re-check again.
    Raises :class:`ConcurrentBatchError` — with only OUR artifacts
    removed — when the id committed under another writer at any
    check."""
    fs = filesystem_for(spark, corpus_path)
    tmp = f"{corpus_path}/_tmp.{batch_id}"
    dst = f"{corpus_path}/batch={batch_id}"
    fs.rm_tree(tmp)
    # the files carry no batch column: the partition value comes from
    # the directory name after the rename, exactly as partitionBy
    # writes it
    survivors.drop("batch").write.mode("overwrite").parquet(tmp)

    def _committed_elsewhere() -> bool:
        return batch_id in indexlog.batch_sets(spark, path)[1]

    if _committed_elsewhere():
        fs.rm_tree(tmp)
        raise ConcurrentBatchError(
            f"batch {batch_id!r} was committed by another writer "
            f"mid-ingest; these survivors were NOT registered — "
            f"re-run under a fresh batch id")
    # only a CRASHED PRIOR ATTEMPT's orphan can exist here (the id is
    # uncommitted); a live racer's dir appearing after this delete
    # makes the rename nest (Hadoop) or fail (local), which the
    # post-swap check unwinds
    fs.rm_tree(dst)
    try:
        renamed = fs.rename(tmp, dst)
    except OSError:  # local rename onto a racer's non-empty dir
        renamed = False
    if _committed_elsewhere() or not renamed:
        # unwind OUR artifacts only: the clean-rename dir is wholly
        # ours; a nested rename (dst existed) left ours inside it
        nested = f"{dst}/_tmp.{batch_id}"
        if fs.exists(nested):
            fs.rm_tree(nested)
        elif renamed:
            fs.rm_tree(dst)
        fs.rm_tree(tmp)
        raise ConcurrentBatchError(
            f"batch {batch_id!r} was committed by another writer "
            f"mid-ingest (detected at the corpus swap); these "
            f"survivors were NOT registered — re-run under a fresh "
            f"batch id")


def read_corpus(spark: SparkSession, path: str, corpus_path: str,
                as_of=None) -> DataFrame:
    """The accumulated corpus rows of COMMITTED batches — the
    ``reference_df`` a store-managed ingest loop uses (``path`` is the
    signature store whose log governs visibility; ``as_of`` pins as in
    :func:`read_sig_store`). A compaction moves batches' signatures
    into its compacted batch but leaves their corpus rows where they
    landed, so the read also takes every batch retired, transitively,
    into a visible one."""
    ids = indexlog.resolve_batches(spark, path, as_of)
    ids |= indexlog._retired(ids, indexlog._replacements(spark, path))
    return (spark.read.parquet(corpus_path)
            .filter(F.col("batch").isin(sorted(ids))).drop("batch"))


def write_sig_store(df: DataFrame, path: str, text_column: str = "text",
                    id_column: str = "doc_id", num_hashes: int = 32,
                    shingle_k: int = 5, seed: int = 42,
                    n_shards: int = 16,
                    signatures: DataFrame | None = None,
                    corpus_path: str | None = None) -> None:
    """Build the store from an initial corpus: sign every row ONCE and
    persist (id, minhash) sharded by content hash, committed as the
    ``base`` batch (:func:`indexlog.build_index`). ``corpus_path``
    additionally seeds the accumulated-corpus table (the seed rows
    under ``batch=base``) so later :func:`ingest_dedup_batch` calls can
    manage reference text automatically (see its ``corpus_path``)."""
    if num_hashes <= 0 or shingle_k <= 0 or n_shards <= 0:
        raise ValueError("num_hashes, shingle_k, and n_shards must be "
                         "positive")
    spark = df.sparkSession
    params = {"num_hashes": num_hashes, "shingle_k": shingle_k,
              "seed": seed, "n_shards": n_shards}

    def write(batch_id: str) -> None:
        rows = _sig_rows(df, text_column, id_column, params, batch_id,
                         signatures)
        (rows.repartition("shard")
           .write.mode("overwrite").partitionBy("shard", "batch")
           .parquet(f"{path}/sigs"))
        if corpus_path is not None:
            _write_corpus_batch(df, corpus_path, batch_id, mode="overwrite")
        filesystem_for(spark, path).write_rows(
            f"{path}/meta", [(num_hashes, shingle_k, seed, n_shards)],
            "num_hashes int, shingle_k int, seed int, n_shards int")

    indexlog.build_index(spark, path, write)


def append_sig_store(df: DataFrame, path: str,
                     text_column: str = "text",
                     id_column: str = "doc_id",
                     batch_id: str | None = None,
                     signatures: DataFrame | None = None) -> bool:
    """Register one batch's signatures, exactly-once per ``batch_id``
    (:func:`indexlog.append_batch`). Signing uses the STORE'S OWN
    params. Returns True when ingested, False for a replayed id."""
    spark = df.sparkSession

    def write(batch_id: str, gen: str | None) -> None:
        rows = _sig_rows(df, text_column, id_column,
                         _read_params(spark, path), batch_id, signatures)
        (rows.repartition("shard")
           .write.mode("append").partitionBy("shard", "batch")
           .parquet(f"{path}/sigs"))

    return indexlog.append_batch(spark, path, batch_id, write)


def read_sig_store(spark: SparkSession, path: str,
                   id_column: str = "doc_id",
                   as_of=None) -> DataFrame:
    """(id_column, minhash) over COMMITTED batches only — the
    ``reference_sigs`` input incremental_dedup expects. The ``batch``
    partition filter prunes crashed-append orphans at planning time
    (indexlog.read_committed), so a racing reader never sees half a
    batch. ``as_of`` pins the read to a captured batch set
    (indexlog.resolve_as_of — the same reproducibility contract the
    searches carry)."""
    ids = indexlog.resolve_batches(spark, path, as_of)
    return (indexlog.read_committed(spark, path, "sigs", ids=ids)
            .select(F.col("id").alias(id_column), "minhash"))


def ingest_dedup_batch(new_df: DataFrame, path: str,
                       reference_df: DataFrame | None = None,
                       text_column: str = "text",
                       id_column: str = "doc_id",
                       batch_id: str | None = None,
                       num_bands: int = 4, threshold: float = 0.8,
                       within_batch: bool = True,
                       max_bucket_size: int | None = None,
                       require_reference_coverage: bool = True,
                       corpus_path: str | None = None) -> DataFrame:
    """Dedup one incoming batch against the persisted store and
    register the survivors' signatures — the crash-safe continuous-
    ingest step: :func:`incremental_dedup` with the store's committed
    signatures as the reference side (``reference_df`` supplies corpus
    TEXT for candidate verification only), then an exactly-once append
    of the SURVIVORS' signatures under ``batch_id``. Returns the
    surviving rows of ``new_df``.

    One signing pass: the exact-deduped batch is signed once with the
    store's params and cached with its ``minhash`` column; banding, the
    verify join, the corpus swap and the signature append all read
    that one table. The dedup is one fused plan (one candidate table,
    one verify join, one ``localCheckpoint`` of the survivors), and
    that checkpoint is all the call leaves cached.

    ``reference_df`` MUST cover the text of EVERY committed id in the
    store, not just the seed corpus: a candidate whose reference text
    is absent cannot be verified, so its near-duplicate would be KEPT.
    By default (``require_reference_coverage=True``) such a candidate
    raises instead; the check is counted while the survivors
    materialize (no extra corpus scan) and raises before the corpus
    swap or the signature append writes anything. In a
    continuous-ingest loop pass the accumulated corpus (or any superset
    table keyed by id).

    ``corpus_path`` makes the loop TURNKEY: each batch's surviving rows
    (all columns) land under ``<corpus_path>/batch=<id>`` BEFORE the
    signature commit — visible exactly when its signatures are,
    rewritten by crashed-attempt retries — and with ``reference_df``
    omitted the reference is the committed corpus read
    (:func:`read_corpus`), which covers every committed id, compacted
    batches included. Seed it with ``write_sig_store(...,
    corpus_path=...)``.

    Crash/replay contract: a ``batch_id`` already committed recomputes
    and registers nothing — the survivors are recovered from the store
    (the batch's registered ids ARE the survivors) by one batch-pruned
    id scan. A retry after a crash mid-append recomputes against the
    UNCHANGED committed state (the crashed batch was never visible),
    deletes its orphan directories and lands the same survivors.
    Signature params come from the store's meta; ``num_bands`` and
    ``threshold`` stay per-run knobs (banding happens at read time).
    """
    spark = new_df.sparkSession
    if reference_df is None and corpus_path is None:
        raise ValueError("pass reference_df (caller-managed corpus "
                         "text) or corpus_path (store-managed)")
    committed, ingested = indexlog.batch_sets(spark, path)
    if batch_id is None:
        batch_id = indexlog.claim_auto_batch_id(spark, path, ingested)
    indexlog.check_batch_id(batch_id)
    if batch_id in committed:
        # replay: recover the survivor ids from the store (batch
        # pruning makes this a scan of just this batch's directories)
        kept = (spark.read.parquet(f"{path}/sigs")
                .filter(F.col("batch") == batch_id)
                .select(F.col("id").alias(id_column)).distinct())
        return new_df.join(kept, id_column, "left_semi")
    if batch_id in ingested:
        # replay of a batch a compaction absorbed: its directories are
        # gone and its rows ride the compacted batch, so batch pruning
        # can't find them — recover by id against the visible store
        # (id is the store's global key: a row is present iff it
        # survived). Full-store id scan, but only on this rare path.
        kept = (read_sig_store(spark, path, id_column)
                .select(id_column).distinct())
        return new_df.join(kept, id_column, "left_semi")
    params = _read_params(spark, path)
    if reference_df is None:
        reference_df = read_corpus(spark, path, corpus_path)
    ref_sigs = read_sig_store(spark, path, id_column)
    cols = new_df.columns
    signed = minhash_signatures(
        exact_dedup(new_df, text_column, id_column) if within_batch
        else new_df, text_column, num_hashes=int(params["num_hashes"]),
        shingle_k=int(params["shingle_k"]),
        seed=int(params["seed"])).persist()
    try:
        survivors = incremental_dedup(
            new_df, ref_sigs, reference_df, text_column, id_column,
            num_hashes=int(params["num_hashes"]), num_bands=num_bands,
            shingle_k=int(params["shingle_k"]), threshold=threshold,
            within_batch=within_batch, new_sigs=signed, new_uniq=signed,
            max_bucket_size=max_bucket_size,
            require_reference_coverage=require_reference_coverage)
    finally:
        signed.unpersist()
    if corpus_path is not None:
        # corpus rows land BEFORE the commit (retry deletes+rewrites);
        # readers filter to committed batches, so they flip atomically
        # with the signatures at the log write below. The swap (temp
        # write, re-check, rename, re-check) keeps the text of a racing
        # writer that committed this id during our dedup; the rule is
        # still one writer per batch id (stream ids give that).
        _swap_corpus_batch(spark, path, corpus_path,
                           survivors.select(*cols), batch_id)
    # the survivors carry their signatures: registration re-signs nothing
    ok = append_sig_store(survivors, path, text_column, id_column,
                          batch_id=batch_id, signatures=survivors)
    if not ok:
        # another writer committed this id between our batch_sets
        # snapshot and the append — a REAL exception, not an assert
        # (python -O would otherwise let the caller silently treat its
        # unregistered survivors as registered)
        raise ConcurrentBatchError(
            f"batch {batch_id!r} was committed by another writer "
            f"mid-ingest; these survivors were NOT registered — "
            f"re-run under a fresh batch id")
    return survivors.select(*cols)
