"""``dedup_ingest``: continuous near-duplicate ingest into a signature store.

``write_sig_store(corpus_path=...)`` builds the store, then batches go
through ``ingest_dedup_batch(corpus_path=...)``. Each batch mixes fresh
documents with planted one-token edits of stored ones. The survivors
are forced with a ``noop`` write whose ``Observation`` collects their
ids. After the timed region every dropped document must have a stored
(or earlier same-batch) document at exact word-5-gram Jaccard >= the
threshold, computed here in Python, outside the engine.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import Observation, functions as F

from perfbench import inputs

THRESHOLD = 0.8
SHINGLE_K = 5
#: 8 bands of 4 of the store's 32 hashes: a one-token edit of an 80-word
#: document (Jaccard ~0.87) becomes a candidate with probability ~0.999
NUM_BANDS = 8
#: timed seconds of the store build and of one batch on a 4-core host
NOMINAL_BUILD_S = 4.5
NOMINAL_BATCH_S = 6.0


def shingles(text: str, k: int = SHINGLE_K) -> frozenset[str]:
    """Word k-gram set, as the engine builds it for lowercase
    single-spaced text."""
    words = text.split(" ")
    if len(words) < k:
        return frozenset([" ".join(words)])
    return frozenset(" ".join(words[i:i + k]) for i in range(len(words) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


class DedupIngest:
    name = "dedup_ingest"

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 n_store: int = 200, batch_size: int = 100):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_batches = max(2, int(round((seconds - NOMINAL_BUILD_S) / NOMINAL_BATCH_S)))
        self.n_store, self.batch_size = n_store, batch_size
        self.store_path = f"{work}/sigstore"
        self.corpus_path = f"{work}/corpus"
        self.times: dict[str, list[float]] = {}
        self.survivors: list[list[int]] = []
        self.failures: list[str] = []

    def setup(self) -> None:
        self.inputs = inputs.documents(f"{self.work}/docs", self.seed,
                                       n_store=self.n_store, batches=self.n_batches,
                                       batch_size=self.batch_size)
        read = self.spark.read.parquet
        self.store_df = read(self.inputs.store_path)
        self.batch_dfs = [read(p) for p in self.inputs.batch_paths]

    def _timed(self, tracer, name: str, fn):
        t0 = time.perf_counter()
        with tracer.span(name):
            out = fn()
        self.times.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def run(self, tracer) -> None:
        from dsgrid_spark.pipeline.sigstore import ingest_dedup_batch, write_sig_store

        self._timed(tracer, "dedup.build", lambda: write_sig_store(
            self.store_df, self.store_path, corpus_path=self.corpus_path))
        for b, batch in enumerate(self.batch_dfs):
            obs = Observation(f"ingest{b}")

            def ingest():
                kept = ingest_dedup_batch(batch, self.store_path,
                                          corpus_path=self.corpus_path,
                                          batch_id=f"b{b:03d}", num_bands=NUM_BANDS,
                                          threshold=THRESHOLD)
                (kept.observe(obs, F.collect_list("doc_id").alias("ids"))
                     .write.format("noop").mode("overwrite").save())

            self._timed(tracer, "dedup.ingest", ingest)
            self.survivors.append(list(obs.get["ids"]))

    def verify(self) -> list[str]:
        """No false drops: each dropped doc has an exact Jaccard >= the
        threshold to a doc stored before its batch, or to a smaller-id doc
        of its own batch."""
        failures = []
        stored = {i: shingles(t) for i, t in self.inputs.store.items()}
        index: dict[str, set[int]] = {}
        for i, sh in stored.items():
            for g in sh:
                index.setdefault(g, set()).add(i)
        planted = dropped_planted = 0
        for b, (docs, dups, kept) in enumerate(zip(
                self.inputs.batches, self.inputs.planted, self.survivors)):
            kept_set = set(kept)
            batch_sh = {i: shingles(t) for i, t in docs.items()}
            false_drops = []
            for i in sorted(set(docs) - kept_set):
                cands = set().union(*(index.get(g, ()) for g in batch_sh[i]))
                cands |= {j for j in batch_sh if j < i}
                if not any(jaccard(batch_sh[i], stored.get(j) or batch_sh[j]) >= THRESHOLD
                           for j in cands):
                    false_drops.append(i)
            if false_drops or not kept_set <= set(docs):
                failures.append(f"batch {b}: dropped without a near-duplicate "
                                f"{false_drops[:5]}, survivors outside the batch "
                                f"{sorted(kept_set - set(docs))[:5]}")
            planted += len(dups)
            dropped_planted += sum(1 for i in dups if i not in kept_set)
            for i in kept_set & set(docs):
                stored[i] = batch_sh[i]
                for g in batch_sh[i]:
                    index.setdefault(g, set()).add(i)
        self.dup_recall = dropped_planted / planted if planted else 0.0
        self.attempted = 1 + len(self.survivors)
        self.failures = failures
        return failures

    def metrics(self) -> dict:
        ingest = self.times["dedup.ingest"]
        docs = self.batch_size * len(self.batch_dfs)
        wall_ingest = sum(ingest)
        return {
            "op_p50_s": statistics.median(ingest),
            "op_samples": len(ingest),
            "items": docs,
            "quality": self.dup_recall,
            "detail": {
                "build_s": self.times["dedup.build"][0],
                "ingest_p50_s": statistics.median(ingest),
                "ingest_samples": len(ingest),
                "docs_per_s": docs / wall_ingest,
                "dup_recall": self.dup_recall,
                "store_docs": self.n_store,
                "docs_ingested": docs,
            },
        }
