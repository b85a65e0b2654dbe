"""Round-11 additions: DataFrame-query BM25/hybrid with one-job batch
analysis, the append-vs-rebalance generation guard, enforced
append-blocking rebalances, legacy flat-centroid migration, the
codebook-retrain tier and the recall-proxy drift gate (r10 VERDICT
next-round items 1-6 + ADVICE). The sigstore corpus-swap tests live in
test_sigstore.py."""

from __future__ import annotations

import math
import os
import random

import pytest
from pyspark.sql import functions as F

from dsgrid_spark.filesystem import LocalFilesystem


# ---------------------------------------------------------------------------
# DataFrame-query BM25 + hybrid (VERDICT item 1)
# ---------------------------------------------------------------------------

DOCS = [
    (0, "spark shuffle exchange partitions"),
    (1, "spark broadcast join small dimension"),
    (2, "catalyst optimizer prunes columns"),
    (3, "spark catalyst codegen stages"),
    (4, "parquet row groups and predicate pushdown"),
    (5, "broadcast variables ship once per executor"),
    (6, "shuffle partitions sized for memory"),
    (7, "adaptive query execution replans joins"),
]


def _term_index(spark, tmp_path, **kw):
    from dsgrid_spark.pipeline.retrieval import write_term_index

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "terms")
    write_term_index(df, path, n_buckets=4, **kw)
    return path


QUERIES = [
    (0, ["spark", "shuffle"]),
    (1, ["broadcast", "join"]),
    (2, ["catalyst", "codegen", "spark"]),
    (3, ["parquet", "pushdown"]),
]


def test_bm25_search_df_form_equals_list_form(spark, tmp_path):
    """The DataFrame-query form (terms array AND raw-text variants)
    returns the list form's rows bit-for-bit — the ANN-trio parity
    pattern applied to lexical retrieval (r10 VERDICT item 1)."""
    from dsgrid_spark.pipeline.retrieval import bm25_search

    path = _term_index(spark, tmp_path)
    want = sorted(map(tuple,
                      bm25_search(spark, path, QUERIES, k=3).collect()))

    qdf_terms = spark.createDataFrame(
        QUERIES, "query_id long, terms array<string>")
    got_terms = sorted(map(tuple,
                           bm25_search(spark, path, qdf_terms,
                                       k=3).collect()))
    assert got_terms == want

    qdf_text = spark.createDataFrame(
        [(qid, " ".join(ts)) for qid, ts in QUERIES],
        "query_id long, q string")
    got_text = sorted(map(tuple,
                          bm25_search(spark, path, qdf_text, k=3,
                                      query_column="q").collect()))
    assert got_text == want

    # as_of pins compose with the DF form: pinned results reproduce
    # through an append (the list-form pin contract, same code path)
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.retrieval import append_term_index

    pin = indexlog.committed_batches(spark, path)
    append_term_index(
        spark.createDataFrame([(99, "spark spark spark shuffle")],
                              "doc_id long, text string"),
        path, batch_id="later")
    pinned = sorted(map(tuple,
                        bm25_search(spark, path, qdf_terms, k=3,
                                    as_of=pin).collect()))
    assert pinned == want
    live = sorted(map(tuple,
                      bm25_search(spark, path, qdf_terms, k=3).collect()))
    assert live != want  # the append is visible unpinned


def test_bm25_search_df_form_analyzer_and_errors(spark, tmp_path):
    """DF-form queries go through the INDEX's analyzer (stopwords
    elided like the list form); zero-surviving-term queries and empty
    frames fail loudly; a missing query column names itself."""
    from dsgrid_spark.pipeline.retrieval import bm25_search

    path = _term_index(spark, tmp_path, analyzer="english")
    # "the" is stopped by the english analyzer on BOTH forms
    want = sorted(map(tuple, bm25_search(
        spark, path, [(7, ["the", "spark", "shuffle"])], k=3).collect()))
    qdf = spark.createDataFrame([(7, "the spark shuffle")],
                                "query_id long, terms string")
    got = sorted(map(tuple, bm25_search(spark, path, qdf, k=3).collect()))
    assert got == want

    all_stopped = spark.createDataFrame([(0, "the of and")],
                                        "query_id long, terms string")
    with pytest.raises(ValueError, match="no term surviving"):
        bm25_search(spark, path, all_stopped, k=3).collect()
    empty = spark.createDataFrame([], "query_id long, terms string")
    with pytest.raises(ValueError, match="empty"):
        bm25_search(spark, path, empty, k=3)
    with pytest.raises(ValueError, match="nope"):
        bm25_search(spark, path, qdf, k=3, query_column="nope")


def test_batch_analyzer_is_one_job(spark):
    """_analyze_queries runs ONE Spark job for the whole batch (the
    r10 board paid one 1-row job PER query — minutes of launch tax on
    a 10k-query sweep)."""
    from dsgrid_spark.pipeline.retrieval import _analyze_queries

    sc = spark.sparkContext
    queries = [(i, [f"term{i}", "shared", f"word{i % 7}"])
               for i in range(50)]
    sc.setJobGroup("analyze-batch-r11", "one-job batch analysis")
    try:
        out = _analyze_queries(spark, "simple", queries)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("analyze-batch-r11")
    assert len(jobs) == 1
    assert len(out) == 50
    assert out[3][1] == sorted({"term3", "shared", "word3"})
    with pytest.raises(ValueError, match="no query term survives"):
        _analyze_queries(spark, "english", [(0, ["the", "of"])])


def test_hybrid_search_batch_df_form_equals_list_form(spark, tmp_path):
    """hybrid_search_batch accepts a (query_id, terms, vector)
    DataFrame and returns the list form's rows bit-for-bit — the
    fully distributed offline-eval sweep path (VERDICT item 1)."""
    from dsgrid_spark.pipeline.retrieval import hybrid_search_batch
    from dsgrid_spark.pipeline.similarity import write_ivf_index

    term_path = _term_index(spark, tmp_path)
    rnd = random.Random(7)
    vecs = [(i, [rnd.uniform(-1, 1) for _ in range(8)])
            for i in range(8)]
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    vpath = str(tmp_path / "ivf")
    centroids = [vecs[0][1], vecs[5][1]]
    write_ivf_index(vdf, vpath, centroids)

    hq = [(qid, ts, vecs[qid][1]) for qid, ts in QUERIES]
    want = sorted(map(tuple, hybrid_search_batch(
        spark, term_path, vpath, hq, k=4, k_each=6,
        n_probe=2).collect()))
    qdf = spark.createDataFrame(
        hq, "query_id long, terms array<string>, embedding array<double>")
    got = sorted(map(tuple, hybrid_search_batch(
        spark, term_path, vpath, qdf, k=4, k_each=6,
        n_probe=2).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# Append-vs-rebalance generation guard (ADVICE item 2)
# ---------------------------------------------------------------------------

def _clustered_vectors(n, seed=3, dim=6, centers=((3.0, 4.0), (4.0, -3.0))):
    """Deterministic 2-cluster corpus: cluster c lives on axis pair
    (2c, 2c+1) with small noise on its own axes only."""
    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        c = i % len(centers)
        v = [0.0] * dim
        v[2 * c] = centers[c][0] + rnd.uniform(-0.2, 0.2)
        v[2 * c + 1] = centers[c][1] + rnd.uniform(-0.2, 0.2)
        rows.append((i, v))
    return rows


def _ivf_fixture(spark, tmp_path, n=30):
    from dsgrid_spark.pipeline.similarity import write_ivf_index

    rows = _clustered_vectors(n)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "vidx")
    centroids = [rows[0][1], rows[1][1]]
    write_ivf_index(df, path, centroids)
    return path, rows


def test_append_aborts_on_generation_flip(spark, tmp_path, monkeypatch):
    """An append racing a rebalance loses LOUDLY: the pre-commit
    generation re-check aborts it (crash-equivalent), nothing becomes
    visible, and the retry re-assigns against the live generation
    (r10 ADVICE: the in-flight-append window)."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.rebalance import rebalance_index
    from dsgrid_spark.pipeline.similarity import append_ivf_index, ivf_search

    path, rows = _ivf_fixture(spark, tmp_path)
    extra = spark.createDataFrame(
        _clustered_vectors(6, seed=9)[:6], "vec_id long, embedding array<double>"
    ).withColumn("vec_id", F.col("vec_id") + 1000)

    orig = indexlog.check_generation_unchanged
    state = {"fired": False}

    def hook(sp, p, gen):
        if not state["fired"]:
            state["fired"] = True
            rebalance_index(sp, p)  # commits mid-append, flips the gen
        return orig(sp, p, gen)

    monkeypatch.setattr(indexlog, "check_generation_unchanged", hook)
    with pytest.raises(indexlog.StaleGenerationError, match="flipped"):
        append_ivf_index(extra, path, batch_id="race1")
    monkeypatch.setattr(indexlog, "check_generation_unchanged", orig)

    # nothing of the aborted append is visible
    assert "race1" not in indexlog.committed_batches(spark, path)
    got = ivf_search(spark, path, [(0, rows[0][1])], k=3,
                     n_probe=2).collect()
    assert all(r["id"] < 1000 for r in got)

    # the retry (same id) assigns against the LIVE generation and lands
    assert append_ivf_index(extra, path, batch_id="race1") is True
    committed = indexlog.committed_batches(spark, path)
    assert "race1" in committed
    # generation resolves cleanly for the post-retry view
    assert indexlog.resolve_generation(spark, path, committed) is not None


def test_blocking_rebalance_rejects_appends(spark, tmp_path):
    """rebalance_index(block_appends=True): appends during the run fail
    with AppendsBlockedError (checked at start AND pre-commit), the
    rebalance completes, the marker is removed, and appends resume.
    A crashed blocker's stale marker expires under its ttl and is
    vacuum-reaped (VERDICT item 6)."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.rebalance import rebalance_index
    from dsgrid_spark.pipeline.similarity import append_ivf_index

    path, rows = _ivf_fixture(spark, tmp_path)
    extra = spark.createDataFrame(
        [(2000, rows[0][1])], "vec_id long, embedding array<double>")

    seen = {}

    def hook():
        with pytest.raises(indexlog.AppendsBlockedError, match="blocked"):
            append_ivf_index(extra, path, batch_id="mid")
        seen["raised"] = True

    new_id = rebalance_index(spark, path, block_appends=True,
                             _pre_commit_hook=hook)
    assert seen.get("raised") and new_id
    assert "mid" not in indexlog.batch_sets(spark, path)[1]
    # marker removed on completion: appends resume
    assert append_ivf_index(extra, path, batch_id="after") is True

    # crashed blocker: stale marker expires under the ttl; vacuum reaps
    indexlog.block_appends(spark, path)
    with pytest.raises(indexlog.AppendsBlockedError):
        indexlog.check_appends_allowed(spark, path)
    marker = f"{path}/locks/append-block.lock"
    old = __import__("time").time() - 7200
    os.utime(marker, (old, old))
    indexlog.check_appends_allowed(spark, path, ttl_seconds=3600)  # ok
    out = indexlog.vacuum(spark, path, lock_ttl_seconds=3600)
    assert out["stale_locks_removed"] >= 1
    assert not os.path.exists(marker)


def test_stale_lock_break_leaves_no_tombstone(spark, tmp_path):
    """The rename-based stale-lock break (r10 ADVICE: check-then-delete
    let two breakers both proceed) wins atomically and cleans its
    tombstone; a crashed breaker's leftover tombstone is vacuum-reaped."""
    import time

    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.retrieval import write_term_index

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    path = str(tmp_path / "tidx")
    write_term_index(docs, path, n_buckets=1)

    indexlog.acquire_compact_lock(spark, path)
    lock = f"{path}/locks/compact.lock"
    old = time.time() - 7200
    os.utime(lock, (old, old))
    indexlog.acquire_compact_lock(spark, path, ttl_seconds=3600)
    assert os.path.exists(lock)
    stray = [n for n in os.listdir(f"{path}/locks") if ".broken-" in n]
    assert stray == []
    indexlog.release_compact_lock(spark, path)

    # crashed breaker simulation: a leftover tombstone blocks nothing
    # and vacuum reaps it under the lock ttl
    tomb = f"{path}/locks/compact.lock.broken-999-1"
    open(tomb, "w").close()
    os.utime(tomb, (old, old))
    indexlog.acquire_compact_lock(spark, path)  # unaffected
    indexlog.release_compact_lock(spark, path)
    out = indexlog.vacuum(spark, path, lock_ttl_seconds=3600)
    assert out["stale_locks_removed"] >= 1
    assert not os.path.exists(tomb)


# ---------------------------------------------------------------------------
# Legacy flat-centroid migration (ADVICE item 1)
# ---------------------------------------------------------------------------

def _flatten_centroids(spark, path):
    """Rewrite a generation-layout centroid table as the LEGACY flat
    layout (root-level parquet, no batch/gen_src columns) — the
    pre-r10 on-disk shape the migration must handle."""
    import shutil

    rows = (spark.read.parquet(f"{path}/centroids/batch=base")
            .select("cluster", "centroid"))
    tmp = f"{path}/_flat_centroids"
    rows.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(f"{path}/centroids")
    os.rename(tmp, f"{path}/centroids")


def test_rebalance_migrates_legacy_flat_centroids(spark, tmp_path):
    """Rebalancing a legacy flat-layout index migrates the flat table
    into the generation layout instead of writing a conflicting mixed
    layout that breaks every subsequent centroid read (r10 ADVICE
    item 1: reachable from a maintain_index cron tick)."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.rebalance import rebalance_index
    from dsgrid_spark.pipeline.similarity import ivf_search

    path, rows = _ivf_fixture(spark, tmp_path)
    _flatten_centroids(spark, path)
    committed = indexlog.committed_batches(spark, path)
    assert indexlog.resolve_generation(spark, path, committed) is None
    before = sorted(map(tuple, ivf_search(
        spark, path, [(0, rows[0][1])], k=5, n_probe=2).collect()))

    new_id = rebalance_index(spark, path)
    assert new_id

    # post-migration: no VISIBLE flat files next to the batch dirs
    # (Spark ignores _/.-prefixed markers), root-level partition
    # discovery works again, and the generation resolves to the
    # rebalance batch
    entries = os.listdir(f"{path}/centroids")
    assert all(e.startswith(("batch=", "_", ".")) for e in entries)
    assert spark.read.parquet(f"{path}/centroids").count() > 0
    committed = indexlog.committed_batches(spark, path)
    assert indexlog.resolve_generation(spark, path, committed) == new_id
    after = sorted(map(tuple, ivf_search(
        spark, path, [(0, rows[0][1])], k=5, n_probe=2).collect()))
    assert after == before  # full-probe-equivalent tiny fixture


def test_maintain_index_on_legacy_flat_layout(spark, tmp_path):
    """The cron entry itself survives a legacy index: a skew-triggered
    rebalance migrates and completes (the exact ADVICE repro path)."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.rebalance import maintain_index
    from dsgrid_spark.pipeline.similarity import ivf_search

    # n=31 leaves the clusters 16/15 so the skew gate actually fires
    path, rows = _ivf_fixture(spark, tmp_path, n=31)
    _flatten_centroids(spark, path)
    out = maintain_index(spark, path, max_over_mean=1.01)
    assert out["rebalanced_batch"]
    got = ivf_search(spark, path, [(0, rows[0][1])], k=3,
                     n_probe=2).collect()
    assert len(got) == 3
    committed = indexlog.committed_batches(spark, path)
    assert indexlog.resolve_generation(
        spark, path, committed) == out["rebalanced_batch"]


# ---------------------------------------------------------------------------
# Codebook retrain tier (VERDICT item 5)
# ---------------------------------------------------------------------------

def _pq_fixture(spark, tmp_path, residual, n=48, dim=8):
    from dsgrid_spark.pipeline.pq import (coarse_residuals, pq_fit,
                                          write_pq_index)
    from dsgrid_spark.pipeline.similarity import kmeans_centroids

    rows = _clustered_vectors(n, seed=5, dim=dim)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    coarse = kmeans_centroids(df, 2, dim, iterations=3, seed=1)
    if residual:
        fit_in = coarse_residuals(df, coarse)
        books = pq_fit(fit_in, dim, 2, 4, vector_column="residual",
                       iterations=3, seed=1)
    else:
        books = pq_fit(df, dim, 2, 4, iterations=3, seed=1)
    path = str(tmp_path / f"pq_{'res' if residual else 'plain'}")
    write_pq_index(df, path, coarse, books, residual=residual)
    return path, rows, df


@pytest.mark.parametrize("residual", [False, True])
def test_rebalance_retrain_codebooks_equals_fresh_build(
        spark, tmp_path, residual):
    """rebalance_index(retrain_codebooks=True) == a FRESH
    write_pq_index over the same corpus with the retrained centroids
    and codebooks: identical search results, including ADC-only scores
    (the codes themselves are equivalent). Pinned pre-retrain readers
    keep the OLD codebooks (generation-scoped table); appends after
    the retrain encode with the NEW ones."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.pq import (_read_centroids, _read_codebooks,
                                          append_pq_index, pq_search,
                                          write_pq_index)
    from dsgrid_spark.pipeline.rebalance import rebalance_index

    path, rows, df = _pq_fixture(spark, tmp_path, residual)
    queries = [(0, rows[0][1]), (1, rows[1][1])]
    pin = indexlog.committed_batches(spark, path)
    pre = sorted(map(tuple, pq_search(
        spark, path, queries, k=4, n_probe=2, rerank=False).collect()))

    new_id = rebalance_index(spark, path, iterations=3, seed=1,
                             retrain_codebooks=True)
    committed = indexlog.committed_batches(spark, path)
    gen = indexlog.resolve_generation(spark, path, committed)
    assert gen == new_id

    got = sorted(map(tuple, pq_search(
        spark, path, queries, k=4, n_probe=2, rerank=False).collect()))
    # fresh build with the SAME retrained centroids + codebooks
    fresh = str(tmp_path / "fresh")
    write_pq_index(df, fresh, _read_centroids(spark, path, gen),
                   _read_codebooks(spark, path, gen), residual=residual)
    want = sorted(map(tuple, pq_search(
        spark, fresh, queries, k=4, n_probe=2, rerank=False).collect()))
    assert got == want

    # pinned pre-retrain reader reproduces its original results through
    # the retrain (old generation + old codebooks still on disk)
    pinned = sorted(map(tuple, pq_search(
        spark, path, queries, k=4, n_probe=2, rerank=False,
        as_of=pin).collect()))
    assert pinned == pre

    # append after retrain encodes with the NEW codebooks and searches
    extra = spark.createDataFrame(
        [(5000, rows[0][1])], "vec_id long, embedding array<double>")
    assert append_pq_index(extra, path, batch_id="post") is True
    got2 = pq_search(spark, path, [(0, rows[0][1])], k=2, n_probe=2,
                     rerank=False).collect()
    assert {r["id"] for r in got2} & {0, 5000}

    # purge retires the old generation's codebooks with its centroids;
    # the stale pin then fails loudly, never silently partial
    indexlog.purge_replaced(spark, path)
    assert not os.path.exists(f"{path}/codebooks/batch=base")
    with pytest.raises(ValueError):
        pq_search(spark, path, queries, k=4, n_probe=2, rerank=False,
                  as_of=pin).collect()


def test_retrain_codebooks_refused_for_non_pq(spark, tmp_path):
    from dsgrid_spark.pipeline.rebalance import rebalance_index

    path, _ = _ivf_fixture(spark, tmp_path)
    with pytest.raises(ValueError, match="pq indexes only"):
        rebalance_index(spark, path, retrain_codebooks=True)


def test_coarse_only_rebalance_after_retrain_carries_codebooks(
        spark, tmp_path):
    """Once codebooks are generation-scoped, a later COARSE-ONLY
    rebalance copies them under its new generation so searches keep
    resolving (the marker-transfer invariant)."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.pq import _read_codebooks, pq_search
    from dsgrid_spark.pipeline.rebalance import rebalance_index

    path, rows, _ = _pq_fixture(spark, tmp_path, residual=True)
    first = rebalance_index(spark, path, iterations=3, seed=1,
                            retrain_codebooks=True)
    books = _read_codebooks(spark, path, first)
    second = rebalance_index(spark, path, iterations=3, seed=2)
    assert second != first
    committed = indexlog.committed_batches(spark, path)
    gen = indexlog.resolve_generation(spark, path, committed)
    assert gen == second
    assert _read_codebooks(spark, path, second) == books
    got = pq_search(spark, path, [(0, rows[0][1])], k=3,
                    n_probe=2).collect()
    assert len(got) == 3


# ---------------------------------------------------------------------------
# Recall-proxy drift gate (VERDICT item 2)
# ---------------------------------------------------------------------------

def test_assignment_drift_fires_where_skew_stays_silent(spark, tmp_path):
    """The planted-drift shape from SCALE_R10 §4: appends from NEW
    modes land near-evenly across the old clusters (skew flat) while
    the live centroids stop modeling the corpus (recall decays). The
    distortion-ratio probe fires; the row-count skew gate does not;
    after the drift-gated rebalance the ratio returns to ~1."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.rebalance import (assignment_drift,
                                                 cluster_skew,
                                                 maintain_index)
    from dsgrid_spark.pipeline.similarity import append_ivf_index

    dim = 8
    from dsgrid_spark.pipeline.similarity import (kmeans_centroids,
                                                  write_ivf_index)

    base = _clustered_vectors(40, seed=3, dim=dim)
    df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    path = str(tmp_path / "drift")
    # a PROPERLY FITTED index (the healthy baseline the ratio is
    # relative to — build centroids that are a k-means solution, as
    # every real build's are)
    write_ivf_index(df, path, kmeans_centroids(df, 2, dim,
                                               iterations=3, seed=1))

    healthy = assignment_drift(spark, path, sample=64, iterations=3,
                               seed=1)
    assert healthy["ratio"] < 1.2

    # drifted appends: two NEW modes on axes (4,5) and (6,7), equal
    # mass; a tiny trace on each mode's "home" old axis steers mode c
    # to old cluster c, so per-cluster COUNTS stay exactly balanced
    # (the uniform-mass drift shape where the skew gate is blind)
    rnd = random.Random(11)
    drifted = []
    for i in range(40):
        c = i % 2
        v = [0.0] * dim
        v[4 + 2 * c] = 5.0 + rnd.uniform(-0.2, 0.2)
        v[5 + 2 * c] = 1.0 + rnd.uniform(-0.2, 0.2)
        v[2 * c] = 0.05
        drifted.append((10_000 + i, v))
    append_ivf_index(
        spark.createDataFrame(drifted,
                              "vec_id long, embedding array<double>"),
        path, batch_id="drift")

    skew = cluster_skew(spark, path, "vectors")
    drift = assignment_drift(spark, path, sample=128, iterations=3,
                             seed=1)
    assert skew["max_over_mean"] < 1.1  # the skew gate stays silent
    assert drift["ratio"] > 1.3  # the probe sees what skew cannot

    out = maintain_index(spark, path, max_distortion_ratio=1.3,
                         drift_sample=128, iterations=3, seed=1)
    assert out["rebalanced_batch"]
    assert out["drift"]["ratio"] > 1.3
    after = assignment_drift(spark, path, sample=128, iterations=3,
                             seed=1)
    assert after["ratio"] < drift["ratio"]
    assert after["ratio"] < 1.3
    committed = indexlog.committed_batches(spark, path)
    assert indexlog.resolve_generation(
        spark, path, committed) == out["rebalanced_batch"]


def test_assignment_drift_validation(spark, tmp_path):
    from dsgrid_spark.pipeline.rebalance import (assignment_drift,
                                                 rebalance_if_drifted)
    from dsgrid_spark.pipeline.retrieval import write_term_index

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    tpath = str(tmp_path / "t")
    write_term_index(docs, tpath, n_buckets=1)
    with pytest.raises(ValueError, match="vector indexes"):
        assignment_drift(spark, tpath)
    path, _ = _ivf_fixture(spark, tmp_path)
    with pytest.raises(ValueError, match="exceed 1.0"):
        rebalance_if_drifted(spark, path, max_distortion_ratio=1.0)
    # healthy index: the gate declines to rebalance
    assert rebalance_if_drifted(spark, path, max_distortion_ratio=5.0,
                                sample=64) is None


def test_cli_describe_drift_and_rebalance_flags(spark, tmp_path, capsys):
    """`index describe --drift` reports the recall-proxy probe;
    `index rebalance --if-drifted` gates on it (healthy index: no
    rebalance; absurdly tight threshold: rebalances)."""
    import json as _json

    from dsgrid_spark.cli import main as cli_main
    from dsgrid_spark.pipeline.similarity import (kmeans_centroids,
                                                  write_ivf_index)

    rows = _clustered_vectors(30, seed=3, dim=6)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "cliidx")
    write_ivf_index(df, path, kmeans_centroids(df, 2, 6, iterations=3,
                                               seed=1))

    assert cli_main(["index", "describe", path, "--drift",
                     "--drift-sample", "64"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["drift"]["n_clusters"] == 2
    assert out["drift"]["ratio"] < 1.5

    assert cli_main(["index", "rebalance", path, "--if-drifted", "4.0",
                     "--drift-sample", "64", "--iterations", "3"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rebalanced_batch"] is None  # healthy: gate declines

    # a healthy index's ratio sits at ~1.0 (can even dip below: the
    # full-corpus fit beats the sample refit), so exercise the
    # unconditional path with --block-appends through the CLI instead
    assert cli_main(["index", "rebalance", path, "--iterations", "3",
                     "--block-appends"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rebalanced_batch"]
    assert not os.path.exists(f"{path}/locks/append-block.lock")


def test_bm25_search_micro_equals_scan_and_df_form(spark, tmp_path):
    """Persisted bm25_search(micro=True) == text.bm25_scores(micro=True)
    integer-for-integer (the cross-engine-exact mode q32 'bdf' puts
    under the driver oracle), in all three query forms."""
    from dsgrid_spark.pipeline.retrieval import bm25_search
    from dsgrid_spark.pipeline.text import bm25_scores

    path = _term_index(spark, tmp_path)
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    q = ["spark", "shuffle"]
    got = {r["id"]: r["bm25_micro"] for r in
           bm25_search(spark, path, q, k=10, micro=True).collect()}
    exp = {r["doc_id"]: r["bm25_micro"] for r in
           bm25_scores(df, q, micro=True).collect()}
    assert got == exp

    want = sorted(map(tuple, bm25_search(spark, path, QUERIES, k=3,
                                         micro=True).collect()))
    qdf = spark.createDataFrame(QUERIES,
                                "query_id long, terms array<string>")
    gotdf = sorted(map(tuple, bm25_search(spark, path, qdf, k=3,
                                          micro=True).collect()))
    assert gotdf == want
    with pytest.raises(ValueError, match="micro"):
        bm25_search(spark, path, q, k1=2.0, micro=True)


def test_phrase_search_batch_equals_single(spark, tmp_path):
    """phrase_search_batch (list AND DataFrame forms) == the per-phrase
    phrase_search loop; analyzer elision carries over; empties loud;
    as_of pins reproduce through an append."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.retrieval import (append_term_index,
                                                 phrase_search,
                                                 phrase_search_batch,
                                                 write_term_index)

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "a quick brown dog and a quick brown fox"),
         (2, "brown fox quick brown fox"),
         (3, "nothing relevant here at all"),
         (4, "quick stop then quick brown fox again")],
        "doc_id long, text string")
    path = str(tmp_path / "pterms")
    write_term_index(docs, path, n_buckets=4, positions=True,
                     analyzer="english")

    phrases = [(0, "quick brown fox"), (1, "brown fox"),
               (2, "the lazy dog"), (3, "quick")]
    want = sorted(
        (qid, r["id"], r["n_matches"])
        for qid, p in phrases
        for r in phrase_search(spark, path, p).collect())

    got = sorted(map(tuple, phrase_search_batch(
        spark, path, phrases).collect()))
    assert got == want
    qdf = spark.createDataFrame(phrases, "query_id long, phrase string")
    gotdf = sorted(map(tuple, phrase_search_batch(
        spark, path, qdf).collect()))
    assert gotdf == want

    with pytest.raises(ValueError, match="survives"):
        phrase_search_batch(spark, path, [(0, "the of and")])
    bad = spark.createDataFrame([(0, "the of and")],
                                "query_id long, phrase string")
    with pytest.raises(ValueError, match="no term surviving"):
        phrase_search_batch(spark, path, bad).collect()

    # as_of pins: results reproduce through an append on BOTH forms
    pin = indexlog.committed_batches(spark, path)
    append_term_index(
        spark.createDataFrame([(9, "quick brown fox quick brown fox")],
                              "doc_id long, text string"),
        path, batch_id="later")
    assert sorted(map(tuple, phrase_search_batch(
        spark, path, phrases, as_of=pin).collect())) == want
    live = sorted(map(tuple, phrase_search_batch(
        spark, path, phrases).collect()))
    assert live != want
    single_pinned = sorted(
        map(tuple, phrase_search(spark, path, "quick brown fox",
                                 as_of=pin).collect()))
    assert single_pinned == sorted(
        (r["id"], r["n_matches"]) for qid, p in phrases[:1]
        for r in phrase_search(spark, path, p, as_of=pin).collect())


def test_hybrid_search_as_of_pins_both_sides(spark, tmp_path):
    """hybrid_search / hybrid_search_batch pin EACH index's read
    independently (term_as_of / vector_as_of): fused results reproduce
    through appends on both sides."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.retrieval import (append_term_index,
                                                 hybrid_search,
                                                 hybrid_search_batch)
    from dsgrid_spark.pipeline.similarity import (append_ivf_index,
                                                  write_ivf_index)

    term_path = _term_index(spark, tmp_path)
    rnd = random.Random(7)
    vecs = [(i, [rnd.uniform(-1, 1) for _ in range(8)])
            for i in range(8)]
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    vpath = str(tmp_path / "ivf")
    write_ivf_index(vdf, vpath, [vecs[0][1], vecs[5][1]])

    tpin = indexlog.committed_batches(spark, term_path)
    vpin = indexlog.committed_batches(spark, vpath)
    hq = [(qid, ts, vecs[qid][1]) for qid, ts in QUERIES]
    want_b = sorted(map(tuple, hybrid_search_batch(
        spark, term_path, vpath, hq, k=4, k_each=6,
        n_probe=2).collect()))
    want_s = sorted(map(tuple, hybrid_search(
        spark, term_path, vpath, QUERIES[0][1], vecs[0][1], k=4,
        k_each=6, n_probe=2).collect()))

    append_term_index(
        spark.createDataFrame([(99, "spark spark shuffle broadcast")],
                              "doc_id long, text string"),
        term_path, batch_id="t2")
    append_ivf_index(
        spark.createDataFrame([(99, vecs[0][1])],
                              "vec_id long, embedding array<double>"),
        vpath, batch_id="v2")

    got_b = sorted(map(tuple, hybrid_search_batch(
        spark, term_path, vpath, hq, k=4, k_each=6, n_probe=2,
        term_as_of=tpin, vector_as_of=vpin).collect()))
    assert got_b == want_b
    got_s = sorted(map(tuple, hybrid_search(
        spark, term_path, vpath, QUERIES[0][1], vecs[0][1], k=4,
        k_each=6, n_probe=2, term_as_of=tpin,
        vector_as_of=vpin).collect()))
    assert got_s == want_s
    live = sorted(map(tuple, hybrid_search_batch(
        spark, term_path, vpath, hq, k=4, k_each=6,
        n_probe=2).collect()))
    assert live != want_b  # unpinned sees both appends


def test_index_fsck_classifies_states(spark, tmp_path, capsys):
    """indexlog.fsck: healthy trees pass; each corruption / lifecycle
    state is classified at the right severity; the CLI exits 1 on
    errors only. Read-only: a follow-up fsck sees identical state."""
    import json as _json
    import shutil
    import time

    from dsgrid_spark.cli import main as cli_main
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.similarity import append_ivf_index

    path, rows = _ivf_fixture(spark, tmp_path)

    out = indexlog.fsck(spark, path)
    assert out["ok"] and out["errors"] == [] and out["warnings"] == []
    assert out["kind"] == "ivf"
    assert out["info"]["visible_batches"] == 1
    assert out["info"]["n_clusters"] == 2

    # INFO states: an orphan (crashed append) and a retired-unpurged
    # batch (post-rebalance reader grace)
    extra = spark.createDataFrame([(900, rows[0][1])],
                                  "vec_id long, embedding array<double>")
    append_ivf_index(extra, path, batch_id="b2")
    from dsgrid_spark.pipeline.rebalance import rebalance_index
    rebalance_index(spark, path, iterations=2, seed=1)
    os.makedirs(f"{path}/vectors/cluster=0/batch=ghost", exist_ok=True)
    open(f"{path}/vectors/cluster=0/batch=ghost/part-0.parquet",
         "w").close()
    out = indexlog.fsck(spark, path)
    assert out["ok"]
    assert out["info"]["orphan_batches"] == ["ghost"]
    assert set(out["info"]["retired_unpurged_batches"]) >= {"b2", "base"}

    # WARNING: stale lock + tombstone
    indexlog.acquire_compact_lock(spark, path)
    old = time.time() - 7200
    os.utime(f"{path}/locks/compact.lock", (old, old))
    open(f"{path}/locks/compact.lock.broken-1-2", "w").close()
    out = indexlog.fsck(spark, path, lock_ttl_seconds=3600)
    assert out["ok"] and len(out["warnings"]) == 2
    indexlog.release_compact_lock(spark, path)
    LocalFilesystem().glob_delete(f"{path}/locks/*.lock.broken-*")

    # WARNING: a visible batch whose data dirs vanished (crashed purge)
    gone = LocalFilesystem().glob_delete(f"{path}/vectors/*/batch=b2")
    assert gone > 0
    # b2 was retired by the rebalance; fake the crashed-purge state on
    # the LIVE batch instead: remove the rebalance batch's dirs
    live = next(iter(indexlog.committed_batches(spark, path)))
    LocalFilesystem().glob_delete(f"{path}/vectors/*/batch={live}")
    out = indexlog.fsck(spark, path)
    assert any("no data directories" in w for w in out["warnings"])

    # ERROR: mixed flat+generation centroid layout (the pre-fix
    # rebalance debris the migration sweeps)
    path2, _ = _ivf_fixture(spark, tmp_path.joinpath("two"))
    rows2 = (spark.read.parquet(f"{path2}/centroids/batch=base")
             .select("cluster", "centroid"))
    rows2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "fc"))
    for name in os.listdir(str(tmp_path / "fc")):
        if name.endswith(".parquet"):
            shutil.copy(str(tmp_path / "fc" / name),
                        f"{path2}/centroids/{name}")
    out = indexlog.fsck(spark, path2)
    assert not out["ok"]
    assert any("MIXED centroid layout" in e for e in out["errors"])
    assert cli_main(["index", "fsck", path2]) == 1
    _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # ERROR: missing stats row on a term index
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    from dsgrid_spark.pipeline.retrieval import write_term_index
    tpath = str(tmp_path / "t")
    write_term_index(docs, tpath, n_buckets=1)
    assert indexlog.fsck(spark, tpath)["ok"]
    shutil.rmtree(f"{tpath}/stats")
    out = indexlog.fsck(spark, tpath)
    assert not out["ok"] and any("stats" in e for e in out["errors"])


def test_sync_index_mirrors_term_index(spark, tmp_path):
    """sync_index on a term index: fresh mirror searches identically,
    incremental sync copies only the new batch, re-sync is a no-op,
    and a compaction at the source retires the destination's old
    batches atomically at the replacing batch's arrival."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.indexsync import sync_index
    from dsgrid_spark.pipeline.retrieval import (append_term_index,
                                                 bm25_search,
                                                 write_term_index)

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    write_term_index(docs, src, n_buckets=4)

    out = sync_index(spark, src, dst)
    assert out["copied_batches"] == ["base"]
    assert "stats" in out["static_copied"]
    q = ["spark", "shuffle"]
    want = sorted(map(tuple, bm25_search(spark, src, q, k=5).collect()))
    assert sorted(map(tuple,
                      bm25_search(spark, dst, q, k=5).collect())) == want
    assert indexlog.fsck(spark, dst)["ok"]

    # incremental: one new batch, only it copies; results track
    append_term_index(
        spark.createDataFrame([(50, "spark shuffle spark")],
                              "doc_id long, text string"),
        src, batch_id="b2")
    out = sync_index(spark, src, dst)
    assert out["copied_batches"] == ["b2"]
    assert out["skipped_batches"] == 1
    want = sorted(map(tuple, bm25_search(spark, src, q, k=5).collect()))
    assert sorted(map(tuple,
                      bm25_search(spark, dst, q, k=5).collect())) == want
    # idempotent
    out = sync_index(spark, src, dst)
    assert out["copied_batches"] == [] and out["skipped_batches"] == 2

    # source compacts (and purges immediately): the replacing batch
    # lands at dst, the old batches retire there, dst's own vacuum
    # reclaims them
    cmp_id = indexlog.compact(spark, src, purge=True)
    out = sync_index(spark, src, dst)
    assert out["copied_batches"] == [cmp_id]
    assert indexlog.committed_batches(spark, dst) == {cmp_id}
    assert sorted(map(tuple,
                      bm25_search(spark, dst, q, k=5).collect())) == want
    purged = indexlog.purge_replaced(spark, dst)
    assert purged["data_dirs_removed"] > 0
    assert sorted(map(tuple,
                      bm25_search(spark, dst, q, k=5).collect())) == want
    assert indexlog.fsck(spark, dst)["ok"]


def test_sync_index_through_rebalance_and_crash(spark, tmp_path):
    """sync_index on a vector index through a generation flip; a crash
    mid-batch (partial artifacts, no log row) converges on re-run;
    same-path and non-index inputs refused; overwrite resets."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.indexsync import sync_index
    from dsgrid_spark.pipeline.rebalance import rebalance_index
    from dsgrid_spark.pipeline.similarity import append_ivf_index, ivf_search

    src, rows = _ivf_fixture(spark, tmp_path)
    dst = str(tmp_path / "vdst")
    sync_index(spark, src, dst)
    q = [(0, rows[0][1])]
    want = sorted(map(tuple, ivf_search(spark, src, q, k=3,
                                        n_probe=2).collect()))
    assert sorted(map(tuple, ivf_search(spark, dst, q, k=3,
                                        n_probe=2).collect())) == want

    # source appends + rebalances (generation flip)
    append_ivf_index(
        spark.createDataFrame([(700, rows[1][1])],
                              "vec_id long, embedding array<double>"),
        src, batch_id="b2")
    new_gen = rebalance_index(spark, src, iterations=2, seed=1)
    out = sync_index(spark, src, dst)
    assert out["copied_batches"] == [new_gen]
    committed = indexlog.committed_batches(spark, dst)
    assert indexlog.resolve_generation(spark, dst, committed) == new_gen
    want = sorted(map(tuple, ivf_search(spark, src, q, k=3,
                                        n_probe=2).collect()))
    assert sorted(map(tuple, ivf_search(spark, dst, q, k=3,
                                        n_probe=2).collect())) == want
    assert indexlog.fsck(spark, dst)["ok"]

    # crash simulation: partial payload dir at dst without a log row —
    # invisible, and the re-run converges to the same end state
    append_ivf_index(
        spark.createDataFrame([(701, rows[0][1])],
                              "vec_id long, embedding array<double>"),
        src, batch_id="b3")
    os.makedirs(f"{dst}/vectors/cluster=0/batch=b3", exist_ok=True)
    open(f"{dst}/vectors/cluster=0/batch=b3/garbage.parquet",
         "w").close()
    assert "b3" not in indexlog.committed_batches(spark, dst)
    out = sync_index(spark, src, dst)
    assert out["copied_batches"] == ["b3"]
    want = sorted(map(tuple, ivf_search(spark, src, q, k=3,
                                        n_probe=2).collect()))
    assert sorted(map(tuple, ivf_search(spark, dst, q, k=3,
                                        n_probe=2).collect())) == want
    assert indexlog.fsck(spark, dst)["ok"]

    with pytest.raises(ValueError, match="same path"):
        sync_index(spark, src, src)
    with pytest.raises(ValueError, match="batch log"):
        sync_index(spark, str(tmp_path / "nowhere"), dst)

    # overwrite: a rebuilt source mirrors cleanly onto a reset dst
    out = sync_index(spark, src, dst, overwrite=True)
    assert out["copied_batches"]
    assert indexlog.fsck(spark, dst)["ok"]


def test_sync_index_refuses_mismatched_destination(spark, tmp_path):
    """sync_index refuses to interleave a different index into an
    existing destination (kind or config mismatch) without
    overwrite=True."""
    from dsgrid_spark.pipeline.indexsync import sync_index
    from dsgrid_spark.pipeline.retrieval import write_term_index

    src, _ = _ivf_fixture(spark, tmp_path)
    tpath = str(tmp_path / "term")
    write_term_index(
        spark.createDataFrame(DOCS, "doc_id long, text string"),
        tpath, n_buckets=4)
    with pytest.raises(ValueError, match="pass overwrite=True"):
        sync_index(spark, src, tpath)
    other = str(tmp_path / "term8")
    write_term_index(
        spark.createDataFrame(DOCS, "doc_id long, text string"),
        other, n_buckets=8)  # different immutable config
    with pytest.raises(ValueError, match="config"):
        sync_index(spark, other, tpath)
    out = sync_index(spark, src, tpath, overwrite=True)
    assert out["copied_batches"] == ["base"]


def test_sync_index_preserves_replay_guard_through_purged_history(
        spark, tmp_path):
    """The mirror carries the PERMANENT replay/id-reuse guard: after
    the source compacts twice and purges, a fresh destination still
    refuses to re-ingest a batch id whose rows live inside the
    compacted successor (the transitive-retirement pairs ride along
    even when their intermediate's log row is gone)."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.indexsync import sync_index
    from dsgrid_spark.pipeline.retrieval import (append_term_index,
                                                 bm25_search,
                                                 write_term_index)

    src = str(tmp_path / "src")
    docs = spark.createDataFrame(DOCS[:4], "doc_id long, text string")
    write_term_index(docs, src, n_buckets=2)
    b2 = spark.createDataFrame([(50, "spark shuffle again")],
                               "doc_id long, text string")
    append_term_index(b2, src, batch_id="b2")
    cmp1 = indexlog.compact(spark, src, purge=True)
    append_term_index(
        spark.createDataFrame([(60, "broadcast join again")],
                              "doc_id long, text string"),
        src, batch_id="b4")
    cmp2 = indexlog.compact(spark, src, purge=True)
    assert indexlog.committed_batches(spark, src) == {cmp2}

    dst = str(tmp_path / "dst")
    out = sync_index(spark, src, dst)
    assert out["copied_batches"] == [cmp2]
    # the purged intermediates stay permanently ingested at dst
    assert {"base", "b2", "b4", cmp1} <= indexlog.batch_sets(
        spark, dst)[1]
    # a replay of b2 at the (promoted) destination no-ops
    assert append_term_index(b2, dst, batch_id="b2") is False
    want = sorted(map(tuple, bm25_search(spark, src, ["spark"],
                                         k=10).collect()))
    assert sorted(map(tuple, bm25_search(spark, dst, ["spark"],
                                         k=10).collect())) == want


def test_cli_hybrid_and_phrase_as_of(spark, tmp_path, capsys):
    """CLI: `index hybrid --term-as-of/--vector-as-of` and
    `index search --phrase --as-of` honor pins."""
    import json as _json

    from dsgrid_spark.cli import main as cli_main
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.pipeline.retrieval import (append_term_index,
                                                 write_term_index)
    from dsgrid_spark.pipeline.similarity import write_ivf_index

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    tpath = str(tmp_path / "t")
    write_term_index(docs, tpath, n_buckets=2, positions=True)
    rnd = random.Random(7)
    vecs = [(i, [rnd.uniform(-1, 1) for _ in range(4)]) for i in range(8)]
    vpath = str(tmp_path / "v")
    write_ivf_index(
        spark.createDataFrame(vecs, "vec_id long, embedding array<double>"),
        vpath, [vecs[0][1], vecs[4][1]])

    tpin = ",".join(sorted(indexlog.committed_batches(spark, tpath)))
    vpin = ",".join(sorted(indexlog.committed_batches(spark, vpath)))

    assert cli_main(["index", "hybrid", tpath, vpath, "spark", "shuffle",
                     "--vector", _json.dumps(vecs[0][1]), "-k", "3",
                     "--k-each", "5", "--n-probe", "2"]) == 0
    want = capsys.readouterr().out
    append_term_index(
        spark.createDataFrame([(99, "spark shuffle spark shuffle")],
                              "doc_id long, text string"),
        tpath, batch_id="later")
    assert cli_main(["index", "hybrid", tpath, vpath, "spark", "shuffle",
                     "--vector", _json.dumps(vecs[0][1]), "-k", "3",
                     "--k-each", "5", "--n-probe", "2",
                     "--term-as-of", tpin, "--vector-as-of", vpin]) == 0
    assert capsys.readouterr().out == want

    assert cli_main(["index", "search", tpath, "spark", "shuffle",
                     "--phrase", "--as-of", tpin]) == 0
    phrased = capsys.readouterr().out
    assert "99" not in phrased  # the pinned read excludes the append


def test_sync_index_mirrors_sigstore_with_corpus(spark, tmp_path):
    """A sigstore + its store-managed corpus mirror together: the
    destination's turnkey ingest loop works immediately (read_corpus
    covers every committed id), and dedup decisions at the destination
    equal the source's."""
    from dsgrid_spark.pipeline.indexsync import sync_index
    from dsgrid_spark.pipeline.sigstore import (ingest_dedup_batch,
                                                read_corpus,
                                                write_sig_store)

    src = str(tmp_path / "sigs")
    src_c = str(tmp_path / "corpus")
    seed = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    write_sig_store(seed, src, num_hashes=8, shingle_k=2, n_shards=2,
                    corpus_path=src_c)
    ingest_dedup_batch(
        spark.createDataFrame([(1, "eta theta iota kappa lambda mu")],
                              "doc_id long, text string"),
        src, batch_id="b1", corpus_path=src_c, threshold=0.5)

    dst = str(tmp_path / "sigs2")
    dst_c = str(tmp_path / "corpus2")
    out = sync_index(spark, src, dst, src_corpus=src_c,
                     dst_corpus=dst_c)
    assert out["copied_batches"] == ["base", "b1"]
    assert sorted(map(tuple, read_corpus(spark, dst, dst_c).collect())) \
        == sorted(map(tuple, read_corpus(spark, src, src_c).collect()))

    # the mirrored store runs the turnkey loop: a near-dup of a
    # mirrored survivor is caught, a novel doc survives
    batch = spark.createDataFrame(
        [(2, "eta theta iota kappa lambda mu"),       # dup of b1's doc
         (3, "nu xi omicron pi rho sigma tau")],      # novel
        "doc_id long, text string")
    kept = ingest_dedup_batch(batch, dst, batch_id="b2",
                              corpus_path=dst_c, threshold=0.5)
    assert {r["doc_id"] for r in kept.collect()} == {3}
    with pytest.raises(ValueError, match="together"):
        sync_index(spark, src, dst, src_corpus=src_c)
