"""Signature store (pipeline/sigstore.py): the corpus swap, the
store-managed corpus across compaction, and the cost shape of one
``ingest_dedup_batch`` call (Spark jobs, persisted RDDs)."""

from __future__ import annotations

import os

import pytest


def test_sigstore_corpus_swap_preserves_committed_texts(spark, tmp_path):
    """The corpus write never clobbers a RACING WRITER'S committed
    reference text: once the batch id is committed elsewhere, the swap
    raises ConcurrentBatchError and the committed corpus rows are
    byte-identical afterwards (r10 ADVICE: the delete+rewrite window)."""
    from dsgrid_spark.pipeline.sigstore import (ConcurrentBatchError,
                                                _swap_corpus_batch,
                                                ingest_dedup_batch,
                                                read_corpus,
                                                write_sig_store)

    store = str(tmp_path / "sigs")
    corpus = str(tmp_path / "corpus")
    seed = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    write_sig_store(seed, store, num_hashes=8, shingle_k=2, n_shards=2,
                    corpus_path=corpus)
    winner = spark.createDataFrame(
        [(1, "a completely different committed document text")],
        "doc_id long, text string")
    ingest_dedup_batch(winner, store, batch_id="b1", corpus_path=corpus)
    committed_rows = sorted(map(tuple, read_corpus(
        spark, store, corpus).collect()))

    loser = spark.createDataFrame(
        [(2, "the loser's text that must never replace the winner's")],
        "doc_id long, text string")
    with pytest.raises(ConcurrentBatchError, match="committed"):
        _swap_corpus_batch(spark, store, corpus, loser, "b1")
    assert sorted(map(tuple, read_corpus(
        spark, store, corpus).collect())) == committed_rows
    # no temp debris left behind
    assert [e for e in os.listdir(corpus) if e.startswith("_tmp.")] == []


def test_ingest_dedup_batch_still_roundtrips_with_swap(spark, tmp_path):
    """The rename-based corpus swap preserves the turnkey loop's
    semantics: survivors land, replay recovers them, corpus text reads
    back committed-filtered."""
    from dsgrid_spark.pipeline.sigstore import (ingest_dedup_batch,
                                                read_corpus,
                                                write_sig_store)

    store = str(tmp_path / "sigs2")
    corpus = str(tmp_path / "corpus2")
    seed = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string")
    write_sig_store(seed, store, num_hashes=8, shingle_k=2, n_shards=2,
                    corpus_path=corpus)
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),  # dup
         (2, "iota kappa lambda mu nu xi omicron pi rho")],
        "doc_id long, text string")
    survivors = ingest_dedup_batch(batch, store, batch_id="d1",
                                   corpus_path=corpus, threshold=0.5)
    ids = {r["doc_id"] for r in survivors.collect()}
    assert ids == {2}
    replay = ingest_dedup_batch(batch, store, batch_id="d1",
                                corpus_path=corpus, threshold=0.5)
    assert {r["doc_id"] for r in replay.collect()} == ids
    texts = {r["doc_id"]: r["text"]
             for r in read_corpus(spark, store, corpus).collect()}
    assert set(texts) == {0, 2}


def _store_with_corpus(spark, tmp_path):
    from dsgrid_spark.pipeline.sigstore import write_sig_store

    store, corpus = str(tmp_path / "sigs"), str(tmp_path / "corpus")
    seed = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string")
    write_sig_store(seed, store, num_hashes=64, shingle_k=3, n_shards=2,
                    corpus_path=corpus)
    return store, corpus


def _fresh_batch(spark, first_id, n=3):
    return spark.createDataFrame(
        [(first_id + i, f"doc{first_id + i} words unique to {first_id + i} "
          f"lorem ipsum dolor {first_id + i} sit amet")
         for i in range(n)], "doc_id long, text string")


def test_read_corpus_sees_compacted_batches(spark, tmp_path):
    """Compacting the store (even with purge) moves signatures into the
    compacted batch but leaves the corpus rows in their batch dirs: the
    store-managed reference must still cover them, so the next ingest
    of a near-duplicate of a compacted doc is DROPPED, not refused for
    a coverage gap."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.sigstore import ingest_dedup_batch, read_corpus

    store, corpus = _store_with_corpus(spark, tmp_path)
    first = spark.createDataFrame(
        [(10, "spark catalyst tungsten shuffle broadcast partition codegen "
              "adaptive skew salt")], "doc_id long, text string")
    ingest_dedup_batch(first, store, batch_id="b1", corpus_path=corpus,
                       num_bands=32, threshold=0.5)
    assert indexlog.compact(spark, store, purge=True) is not None
    pinned = indexlog.committed_batches(spark, store)
    assert sorted(r["doc_id"] for r in
                  read_corpus(spark, store, corpus).collect()) == [0, 1, 10]
    near = spark.createDataFrame(
        [(20, "spark catalyst tungsten shuffle broadcast partition codegen "
              "adaptive skew SALTY"),
         (21, "completely different fresh vocabulary zebra quantum")],
        "doc_id long, text string")
    kept = ingest_dedup_batch(near, store, batch_id="b2",
                              corpus_path=corpus, num_bands=32,
                              threshold=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [21]
    # a pin of the compacted view reads the batches it absorbed
    assert sorted(r["doc_id"] for r in read_corpus(
        spark, store, corpus, as_of=pinned).collect()) == [0, 1, 10]


def test_ingest_dedup_batch_releases_intermediates(spark, tmp_path):
    """A continuous-ingest loop must not grow storage without bound:
    each call leaves at most ONE persisted RDD behind (the returned
    survivors' checkpoint)."""
    from dsgrid_spark.pipeline.sigstore import ingest_dedup_batch

    store, corpus = _store_with_corpus(spark, tmp_path)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for b in range(3):
        kept = ingest_dedup_batch(_fresh_batch(spark, 100 + 10 * b), store,
                                  batch_id=f"b{b}", corpus_path=corpus,
                                  num_bands=32, threshold=0.5)
        assert kept.count() == 3
        assert jsc.getPersistentRDDs().size() - before <= b + 1


def test_ingest_dedup_batch_job_count(spark, tmp_path):
    """One warm ingest of a small batch runs at most 22 Spark jobs: the
    batch is signed once and the dedup is one fused plan with a single
    candidate materialization."""
    from dsgrid_spark.pipeline.sigstore import ingest_dedup_batch

    store, corpus = _store_with_corpus(spark, tmp_path)
    ingest_dedup_batch(_fresh_batch(spark, 100), store, batch_id="warm",
                       corpus_path=corpus, num_bands=32, threshold=0.5)
    batch = spark.createDataFrame(
        [(200, "alpha beta gamma delta epsilon zeta eta theta iota NOPE"),
         (201, "doc201 words unique to 201 lorem ipsum dolor 201 sit amet"),
         (202, "doc201 words unique to 201 lorem ipsum dolor 201 sit amet")],
        "doc_id long, text string")
    sc = spark.sparkContext
    sc.setJobGroup("sigstore-ingest-jobs", "one warm ingest")
    try:
        kept = ingest_dedup_batch(batch, store, batch_id="counted",
                                  corpus_path=corpus, num_bands=32,
                                  threshold=0.5)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("sigstore-ingest-jobs")
    assert sorted(r["doc_id"] for r in kept.collect()) == [201]
    assert len(jobs) <= 22, len(jobs)
