"""Index-append rehearsal under concurrent readers (VERDICT r6 item 9).

sf10 corpus (500k docs): build a BM25 term index over the first 60%,
then append four 10% batches — including one simulated crash + retry —
while FOUR reader threads hammer ``bm25_search`` in a loop on the same
SparkSession. Every observed result must equal one of the five LEGAL
index states (base, base+1, ..., base+4), each precomputed as a fresh
one-shot build over the cumulative corpus, and the states a reader
observes must be monotone in time (committed sets only grow).

That proves the round-7 reader-isolation design end-to-end at scale:
searches filter postings to log-committed batches from ONE log
snapshot, so a reader racing an append sees exactly the pre-commit or
the post-commit index — never a half-written one, never a crashed
attempt's orphans, never mixed totals.

Usage: PYTHONPATH=/root/repo python tools/rehearsal_index_appends_readers.py
Prints one JSON line for SCALE_R7.md.
"""
from __future__ import annotations

import json
import threading
import time

from pyspark.sql import SparkSession, functions as F

from dsgrid_spark.filesystem import LocalFilesystem
from dsgrid_spark.pipeline import indexlog
from dsgrid_spark.pipeline.retrieval import (append_term_index, bm25_search,
                                             write_term_index)

SF_DIR = "/root/repo/.scale/sf10"
QUERY = ["model", "spark", "window", "data"]
N_READERS = 4
K = 20


def snap_of(spark, path):
    rows = bm25_search(spark, path, QUERY, k=K).collect()
    return tuple((int(r["id"]), round(float(r["bm25"]), 9)) for r in rows)


def main() -> None:
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.scheduler.mode", "FAIR")
        .appName("rehearsal-index-readers")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))
    n = docs.count()
    cut = lambda lo, hi: docs.filter(
        (F.col("doc_id") % 10 >= lo) & (F.col("doc_id") % 10 < hi))
    base = cut(0, 6)
    batches = [cut(6 + i, 7 + i) for i in range(4)]

    live = "/tmp/rehearsal_idx/live"
    LocalFilesystem().glob_delete("/tmp/rehearsal_idx")
    t0 = time.time()
    write_term_index(base, live, n_buckets=64)
    t_build = time.time() - t0

    # legal states: fresh builds over each cumulative corpus
    legal = []
    cum = base
    legal_states = {}
    for i in range(5):
        p = f"/tmp/rehearsal_idx/state{i}"
        write_term_index(cum, p, n_buckets=64)
        legal_states[i] = snap_of(spark, p)
        if i < 4:
            cum = cum.unionByName(batches[i])
    legal = {v: i for i, v in legal_states.items()}
    assert len(legal) == 5, "query must distinguish every state"

    observations: list[list[tuple[float, tuple]]] = [[] for _ in range(N_READERS)]
    stop = threading.Event()
    errors: list[str] = []

    def reader(slot: int) -> None:
        try:
            while not stop.is_set():
                observations[slot].append((time.time(), snap_of(spark, live)))
        except Exception as exc:  # surfaced in the final report
            errors.append(f"reader{slot}: {exc!r}")

    threads = [threading.Thread(target=reader, args=(i,), daemon=True)
               for i in range(N_READERS)]
    t0 = time.time()
    for t in threads:
        t.start()
    commit_times = []
    for i, b in enumerate(batches):
        bid = f"ingest{i}"
        if i == 1:
            # crash simulation: full append, then remove the commit
            # record — readers must keep seeing the previous state —
            # then retry (cleans + rewrites the orphans, commits)
            assert append_term_index(b, live, batch_id=bid) is True
            LocalFilesystem().glob_delete(f"{live}/batches/batch={bid}")
            time.sleep(3)  # let readers observe the orphaned window
            assert append_term_index(b, live, batch_id=bid) is True
        else:
            assert append_term_index(b, live, batch_id=bid) is True
        commit_times.append(time.time())
        time.sleep(2)  # let readers observe each committed state
    time.sleep(2)
    stop.set()
    for t in threads:
        t.join(timeout=120)
    t_total = time.time() - t0

    n_obs, illegal, regressions = 0, 0, 0
    seen_states = set()
    for obs in observations:
        prev = -1
        for _, v in obs:
            n_obs += 1
            if v not in legal:
                illegal += 1
                continue
            s = legal[v]
            seen_states.add(s)
            if s < prev:
                regressions += 1
            prev = max(prev, s)

    # final index must equal the full fresh build exactly
    final_ok = snap_of(spark, live) == legal_states[4]

    print(json.dumps({
        "docs": n,
        "readers": N_READERS,
        "base_build_sec": round(t_build, 1),
        "append_phase_sec": round(t_total, 1),
        "observations": n_obs,
        "illegal_observations": illegal,
        "monotonicity_violations": regressions,
        "distinct_states_observed": sorted(seen_states),
        "final_equals_fresh_build": final_ok,
        "reader_errors": errors,
    }))
    assert illegal == 0 and regressions == 0 and final_ok and not errors
    LocalFilesystem().glob_delete("/tmp/rehearsal_idx")
    spark.stop()


if __name__ == "__main__":
    main()
