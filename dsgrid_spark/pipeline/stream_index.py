"""Streaming index maintenance: a Structured Streaming sink that keeps
any persisted index or store current, exactly-once.

``foreachBatch`` is AT-LEAST-ONCE: after a crash the restarted query
re-delivers the last unacknowledged micro-batch, so idempotence must
live in the SINK — and the indexlog appenders already provide exactly
that (one append per batch id, ever). This sink closes the loop by
deriving a DETERMINISTIC batch id from (stream lineage, micro-batch
id), where lineage = a hash of the checkpoint path — the same scoping
``pipeline/ingest.py``'s registry sink uses, because micro-batch ids
are only monotonic within one checkpoint. A replayed micro-batch
re-derives the same id, hits the appender's ingested-set check, and
no-ops; no side table, no sink-specific transaction log. The
accumulated per-micro-batch directories are ordinary indexlog batches:
``indexlog.compact`` merges them and ``indexlog.vacuum`` reclaims
crash debris, so a long-running stream never drowns the index in
small files.

Contract notes:

- The index must already exist (``write_term_index`` /
  ``write_ivf_index`` / ``write_pq_index`` / ``write_binary_index`` /
  ``write_sig_store``); the sink only appends. The kind is detected
  from the layout (:func:`index_kind`).
- A FRESH checkpoint over already-delivered data is a NEW lineage,
  not a replay: its micro-batch ids derive new batch ids and the rows
  append AGAIN. That is the correct reading of Spark's contract (the
  checkpoint IS the delivery state); feeding the same source to a new
  checkpoint means "ingest all of it again". The registry-backed
  :func:`dsgrid_spark.pipeline.ingest.streaming_ingest` fails loudly
  on such double-submission via its id-clash check; raw index appends
  have no per-document identity, so this sink documents the hazard
  instead — keep one checkpoint per (source, index) pair.
- For the signature store the sink uses :func:`sigstore.append_sig_store`
  (register incoming signatures verbatim). For the most common
  production loop — dedup each micro-batch against the corpus,
  register the survivors, and index them, all under ONE derived batch
  id — use :func:`streaming_dedup_index` (below); the id derivation
  (:func:`stream_batch_id`) stays public for bespoke sinks.

Reference parity: the reference engine has no streaming or index
surface; this composes the package's beyond-reference streaming and
retrieval families (SURVEY.md pipeline scope).
"""

from __future__ import annotations

import importlib
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from dsgrid_spark.filesystem import filesystem_for
from dsgrid_spark.pipeline.ingest import _stream_id

__all__ = ["index_kind", "stream_batch_id", "streaming_index_append",
           "streaming_dedup_index"]

#: index kind -> (module, exactly-once appender), resolved lazily to
#: keep module import light; every appender shares the
#: (df, path, id_column=..., batch_id=...) shape plus ``text_column``
#: (term, sigs) or ``vector_column`` (ivf, pq, binary)
_APPENDERS = {"term": ("retrieval", "append_term_index"),
              "ivf": ("similarity", "append_ivf_index"),
              "pq": ("pq", "append_pq_index"),
              "binary": ("similarity", "append_binary_index"),
              "sigs": ("sigstore", "append_sig_store")}
_KINDS = tuple(_APPENDERS)


def index_kind(spark: SparkSession, path: str) -> str:
    """term | ivf | pq | binary | sigs, detected from the index layout
    (through :func:`filesystem_for`, so any Spark-supported
    filesystem). Raises ValueError for half-built trees instead of
    guessing: appending raw vectors into a crashed PQ build would
    corrupt it silently."""
    fs = filesystem_for(spark, path)

    def exists(sub: str) -> bool:
        return fs.exists(f"{path}/{sub}")

    if exists("meta") and exists("codes"):
        return "pq"
    if exists("meta") and exists("bits"):
        return "binary"
    if exists("meta") and exists("sigs"):
        return "sigs"
    # the remnant guard must run BEFORE the term/ivf fallthroughs: a
    # pq/binary build that crashed before its meta write still has
    # codes/bits + vectors + centroids on disk, and falling through to
    # "ivf" would append raw vectors into the crashed tree
    if any(exists(s) for s in ("codes", "codebooks", "bits", "sigs",
                               "meta")):
        raise ValueError(f"incomplete index tree at {path!r}: rebuild "
                         "it before appending or searching")
    if exists("postings"):
        return "term"
    if exists("vectors") and exists("centroids"):
        return "ivf"
    raise ValueError(f"no term/ivf/pq/binary/sigs index at {path!r}; "
                     "build one first (the sink only appends)")


def _appender(kind: str) -> Callable[..., bool]:
    module, name = _APPENDERS[kind]
    return getattr(importlib.import_module(
        f"dsgrid_spark.pipeline.{module}"), name)


def stream_batch_id(checkpoint_dir: str, batch_id: int) -> str:
    """The indexlog batch id for one micro-batch of one stream lineage:
    ``s<lineage12>-<batch:06d>``. Deterministic, so an at-least-once
    redelivery re-derives the SAME id and the appender no-ops; distinct
    per checkpoint, so two streams feeding one index can never collide
    (and neither can a stream and the ``auto%06d`` ids manual appends
    claim)."""
    return f"s{_stream_id(checkpoint_dir)}-{int(batch_id):06d}"


def streaming_index_append(stream_df: DataFrame, path: str,
                           checkpoint_dir: str, kind: str | None = None,
                           available_now: bool = True,
                           **append_kwargs):
    """Start a streaming query that appends every micro-batch to the
    persisted index at ``path``, exactly-once per micro-batch.

    ``append_kwargs`` forward to the kind's appender (``id_column``,
    ``text_column`` / ``vector_column`` — the appenders' own defaults
    apply otherwise). ``available_now=True`` drains the source and
    stops (the cron-shaped ingest); ``False`` runs continuously.
    Returns the started ``StreamingQuery``; the caller awaits it.

    Searches against the index remain consistent throughout: readers
    filter to committed batches, so a micro-batch becomes visible
    atomically at its log commit and a crashed one is invisible until
    its redelivery commits it.
    """
    spark = stream_df.sparkSession
    kind = kind or index_kind(spark, path)
    if kind not in _KINDS:
        raise ValueError(f"kind must be one of {_KINDS}, got {kind!r}")
    append = _appender(kind)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append(batch_df, path,
               batch_id=stream_batch_id(checkpoint_dir, batch_id),
               **append_kwargs)

    # append mode: only FINALIZED rows reach the sink (for stateful
    # queries, at watermark close). Update mode would re-deliver every
    # still-changing aggregate row each trigger under a FRESH batch id
    # — the exactly-once guard covers redelivery of the same
    # micro-batch, not re-emission across micro-batches — and an
    # append-only index would accumulate duplicates.
    writer = (stream_df.writeStream.foreachBatch(_sink)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedup_index(stream_df: DataFrame, sig_path: str,
                          checkpoint_dir: str,
                          index_path: str | None = None,
                          corpus_path: str | None = None,
                          reference_df=None,
                          text_column: str = "text",
                          id_column: str = "doc_id",
                          num_bands: int = 4, threshold: float = 0.8,
                          available_now: bool = True,
                          index_kwargs: dict | None = None):
    """The turnkey continuous-ingest stream: every micro-batch is
    DEDUPED against the committed signature store
    (:func:`sigstore.ingest_dedup_batch`), its SURVIVORS registered,
    and (optionally) appended to a persisted index — all under ONE
    checkpoint-lineage-derived batch id, exactly-once END TO END.

    The shared id is what makes the multi-sink step crash-safe: a
    redelivered micro-batch re-derives it, the dedup step recovers the
    survivor set from the store without recomputing, and the index
    appender no-ops if its half already committed — so a crash BETWEEN
    the signature commit and the index append resumes precisely at the
    index append, with identical survivors.

    Reference text: pass ``corpus_path`` (recommended — the store
    manages the accumulated corpus itself and the reference ALWAYS
    covers every committed id, see ``ingest_dedup_batch``; seed it via
    ``write_sig_store(..., corpus_path=...)``) or ``reference_df`` (a
    DataFrame, or a zero-arg callable re-evaluated per micro-batch for
    sources whose file listing is frozen at DataFrame creation).
    ``index_kwargs`` forward to the index kind's appender
    (``id_column``/``text_column``/``vector_column``...). Returns the
    started ``StreamingQuery``.
    """
    from dsgrid_spark.pipeline.sigstore import ingest_dedup_batch

    spark = stream_df.sparkSession
    if index_path is not None:
        kind = index_kind(spark, index_path)
        append = _appender(kind)
    kwargs = dict(index_kwargs or {})

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bid = stream_batch_id(checkpoint_dir, batch_id)
        ref = reference_df() if callable(reference_df) else reference_df
        survivors = ingest_dedup_batch(
            batch_df, sig_path, ref, text_column=text_column,
            id_column=id_column, batch_id=bid, num_bands=num_bands,
            threshold=threshold, corpus_path=corpus_path)
        if index_path is not None:
            append(survivors, index_path, batch_id=bid, **kwargs)

    writer = (stream_df.writeStream.foreachBatch(_sink)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
