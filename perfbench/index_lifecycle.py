"""``index_lifecycle``: a persisted IVF index with searches beside appends.

k-means and the initial build, then rounds of one ``append_ivf_index``
followed by ``ivf_search`` calls at fixed ``k`` and ``n_probe``, then one
``indexlog.compact`` and one ``indexlog.fsck``. Search results are
forced with a ``noop`` write whose ``Observation`` collects the
(query, id) pairs; they are checked against the committed ids and
scored against an exact numpy top-k after the timed region.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
from pyspark.sql import Observation, functions as F

from perfbench import inputs
from perfbench.harness import du

K = 10
N_PROBE = 2
N_CLUSTERS = 16
#: timed seconds of the fixed part (k-means, build, compact, fsck) and
#: of one append round on a 4-core host
NOMINAL_FIXED_S = 10.0
NOMINAL_ROUND_S = 6.5
SEARCHES_PER_ROUND = 4


class IndexLifecycle:
    name = "index_lifecycle"

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 n_base: int = 2000, batch_size: int = 500):
        self.spark, self.work, self.seed = spark, work, seed
        self.rounds = max(1, int(round((seconds - NOMINAL_FIXED_S) / NOMINAL_ROUND_S)))
        self.n_base, self.batch_size = n_base, batch_size
        self.path = f"{work}/ivf"
        self.times: dict[str, list[float]] = {}
        self.searches: list[tuple[list[int], list[np.ndarray], int, list]] = []
        self.failures: list[str] = []

    def setup(self) -> None:
        self.inputs = inputs.vectors(
            f"{self.work}/vectors", self.seed, n_base=self.n_base,
            n_clusters=N_CLUSTERS, rounds=self.rounds, batch_size=self.batch_size,
            queries_per_round=SEARCHES_PER_ROUND * 8)
        read = self.spark.read.parquet
        self.base_df = read(self.inputs.base_path)
        self.batch_dfs = [read(p) for p in self.inputs.batch_paths]

    def _timed(self, tracer, name: str, fn):
        t0 = time.perf_counter()
        with tracer.span(name) as span:
            out = fn()
        self.times.setdefault(name, []).append(time.perf_counter() - t0)
        return out, span

    def run(self, tracer) -> None:
        from dsgrid_spark.pipeline import indexlog
        from dsgrid_spark.pipeline.similarity import (
            append_ivf_index, ivf_search, kmeans_centroids, write_ivf_index)

        cents, _ = self._timed(tracer, "index.kmeans", lambda: kmeans_centroids(
            self.base_df, N_CLUSTERS, self.inputs.dim, vector_column="embedding",
            iterations=2, seed=self.seed, assign_strategy="arrow"))
        self._timed(tracer, "index.build",
                    lambda: write_ivf_index(self.base_df, self.path, cents))
        self.appended: list[bool] = []
        live = self.n_base
        qid = 0
        for r, batch in enumerate(self.batch_dfs):
            ok, _ = self._timed(tracer, "index.append", lambda: append_ivf_index(
                batch, self.path, batch_id=f"b{r:03d}"))
            self.appended.append(ok)
            live += self.batch_size
            qvecs = self.inputs.queries[r]
            for s in range(SEARCHES_PER_ROUND):
                chunk = qvecs[s * 8:(s + 1) * 8]
                ids = list(range(qid, qid + len(chunk)))
                qid += len(chunk)
                obs = Observation(f"search{qid}")

                def search():
                    res = ivf_search(self.spark, self.path,
                                     [(i, v.tolist()) for i, v in zip(ids, chunk)],
                                     k=K, n_probe=N_PROBE)
                    (res.observe(obs, F.collect_list(F.struct("query_id", "id"))
                                 .alias("hits"))
                        .write.format("noop").mode("overwrite").save())

                _, span = self._timed(tracer, "index.search", search)
                hits = obs.get["hits"]
                if span is not None:
                    span.counters["results"] = len(hits)
                self.searches.append((ids, chunk, live, hits))
        vectors_dir = f"{self.path}/vectors"
        self.compacted, span = self._timed(
            tracer, "index.compact",
            lambda: indexlog.compact(self.spark, self.path, purge=True))
        if span is not None:
            span.counters["live_bytes"] = du(vectors_dir)
        self.fsck, _ = self._timed(tracer, "index.fsck",
                                   lambda: indexlog.fsck(self.spark, self.path))

    def verify(self) -> list[str]:
        failures = []
        if not all(self.appended):
            failures.append(f"append returned {self.appended}")
        if not self.compacted:
            failures.append("compact merged nothing")
        if not self.fsck.get("ok"):
            failures.append(f"fsck errors: {self.fsck.get('errors')}")
        corpus = np.vstack([self.inputs.base] + self.inputs.batches)
        recalls = []
        for ids, chunk, live, hits in self.searches:
            got: dict[int, list[int]] = {i: [] for i in ids}
            for h in hits:
                got.setdefault(h["query_id"], []).append(h["id"])
            exact = np.argsort(-(np.asarray(chunk) @ corpus[:live].T), axis=1)[:, :K]
            bad = [q for q in ids
                   if len(got[q]) != K or len(set(got[q])) != K
                   or not all(0 <= v < live for v in got[q])]
            if bad or set(got) != set(ids):
                failures.append(f"search for queries {ids}: wrong ids for {bad}")
            recalls += [len(set(got[q]) & set(e.tolist())) / K
                        for q, e in zip(ids, exact)]
        self.recall = float(np.mean(recalls)) if recalls else 0.0
        self.attempted = (2 + len(self.appended) + len(self.searches) + 2)
        self.failures = failures
        return failures

    def metrics(self) -> dict:
        search = self.times["index.search"]
        written = self.n_base + self.batch_size * len(self.batch_dfs)
        return {
            "op_p50_s": statistics.median(search),
            "op_samples": len(search),
            "items": written,
            "quality": self.recall,
            "detail": {
                "build_s": sum(self.times["index.kmeans"] + self.times["index.build"]),
                "search_p50_s": statistics.median(search),
                "search_samples": len(search),
                "append_p50_s": statistics.median(self.times["index.append"]),
                "append_samples": len(self.times["index.append"]),
                "compact_s": self.times["index.compact"][0],
                "fsck_s": self.times["index.fsck"][0],
                "recall_at_10": self.recall,
                "index_bytes_per_input_byte": du(self.path) / self.inputs.input_bytes,
                "vectors_indexed": written,
            },
        }
