"""Seeded input generators for the three workloads.

Every input the engine receives is made here from ``--seed`` and written
under the run's work directory during set-up, so one seed always gives
the same inputs. Sizes are arguments so the smoke tests can run a tiny
copy of each workload.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- dimensional_query: FIXTURES.md §3 one-table stacked datasets -----

COUNTIES = [f"g{i:02d}" for i in range(16)]
# one hot state holding most counties, so the county->state map and the
# state->county disaggregation both carry a hot key
STATE_OF = {c: ("s0" if i < 10 else f"s{1 + (i - 10) // 2}")
            for i, c in enumerate(COUNTIES)}
STATES = ["s0", "s1", "s2", "s3"]
ZONES = {"s0": "America/New_York", "s1": "America/Chicago",
         "s2": "America/Denver", "s3": "America/Los_Angeles"}
METRICS = ["electricity_cooling", "electricity_heating",
           "natural_gas_heating"]
SECTOR_OF = {"com_office": "com", "com_retail": "com",
             "res_sf": "res", "res_mf": "res"}
SUBSECTORS = list(SECTOR_OF)
MODEL_YEARS = ["2018", "2040"]
TRIVIAL = {"weather_year": "2012", "scenario": "reference"}
# the hot state fans out to 12 of the 16 counties; every fraction is
# dyadic, so products and sums of the integer-valued loads are exact in
# IEEE doubles and any summation order gives the same bits
STATE_TO_COUNTY = (
    [("s0", c, 1 / 16) for c in COUNTIES[:8]]
    + [("s0", c, 1 / 8) for c in COUNTIES[8:12]]
    + [("s1", "g10", 0.5), ("s1", "g11", 0.5),
       ("s2", "g12", 0.5), ("s2", "g13", 0.5),
       ("s3", "g14", 0.5), ("s3", "g15", 0.5)]
)
HOUR_US = 3_600_000_000
YEAR_START_US = 1_514_764_800_000_000  # 2018-01-01T00:00:00Z
FILES_PER_DATASET = 8


@dataclass
class DimensionalInputs:
    rows_per_dataset: int
    datasets: dict[str, str]          # dataset id -> parquet directory
    mappings: dict[str, str]          # mapping name -> parquet file
    geography: str                    # dimension records with time_zone
    #: per dimension column, record id -> checksum weight
    weights: dict[str, dict[str, int]] = field(default_factory=dict)


def _dict_column(index: np.ndarray, values: list[str]) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(index, pa.int32()), pa.array(values, pa.string()))


def _write_records(path: str, columns: dict[str, list]) -> str:
    pq.write_table(pa.table(columns), path)
    return path


def dimensional(root: str, seed: int, hours: int) -> DimensionalInputs:
    """Two stacked datasets ``a`` and ``b`` (county x metric x subsector
    x model year x hourly time, integer-valued loads), the county<->state
    mapping tables and the geography records carrying ``time_zone``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root, exist_ok=True)
    geo, met, sub, my = np.meshgrid(
        np.arange(len(COUNTIES)), np.arange(len(METRICS)),
        np.arange(len(SUBSECTORS)), np.arange(len(MODEL_YEARS)),
        indexing="ij")
    combos = [a.ravel().astype(np.int32) for a in (geo, met, sub, my)]
    n_combo = combos[0].size
    sectors = sorted(set(SECTOR_OF.values()))
    sector_idx = np.array([sectors.index(SECTOR_OF[s]) for s in SUBSECTORS],
                          dtype=np.int32)
    datasets = {}
    bounds = np.linspace(0, hours, FILES_PER_DATASET + 1).astype(int)
    for name in ("a", "b"):
        out = os.path.join(root, name)
        os.makedirs(out, exist_ok=True)
        values = rng.integers(0, 1024, hours * n_combo).astype(np.float64)
        for part, (h0, h1) in enumerate(zip(bounds[:-1], bounds[1:])):
            if h1 <= h0:
                continue
            n_h = h1 - h0
            ts = np.repeat(YEAR_START_US + np.arange(h0, h1) * HOUR_US, n_combo)
            g, m, s, y = (np.tile(c, n_h) for c in combos)
            table = pa.table({
                "timestamp": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "geography": _dict_column(g, COUNTIES),
                "metric": _dict_column(m, METRICS),
                "sector": _dict_column(sector_idx[s], sectors),
                "subsector": _dict_column(s, SUBSECTORS),
                "model_year": _dict_column(y, MODEL_YEARS),
                "value": values[h0 * n_combo:h1 * n_combo],
            })
            pq.write_table(table, os.path.join(out, f"part-{part:02d}.parquet"))
        datasets[name] = out
    mappings = {
        "county_to_state": _write_records(
            os.path.join(root, "county_to_state.parquet"),
            {"from_id": COUNTIES, "to_id": [STATE_OF[c] for c in COUNTIES],
             "from_fraction": [1.0] * len(COUNTIES)}),
        "state_to_county": _write_records(
            os.path.join(root, "state_to_county.parquet"),
            {"from_id": [r[0] for r in STATE_TO_COUNTY],
             "to_id": [r[1] for r in STATE_TO_COUNTY],
             "from_fraction": [r[2] for r in STATE_TO_COUNTY]}),
    }
    geography = _write_records(
        os.path.join(root, "geography.parquet"),
        {"id": COUNTIES, "name": [f"county {c}" for c in COUNTIES],
         "time_zone": [ZONES[STATE_OF[c]] for c in COUNTIES]})
    weights = {
        col: {rid: int(w) for rid, w in
              zip(ids, rng.integers(1, 1000, len(ids)))}
        for col, ids in (("geography", COUNTIES + STATES),
                         ("metric", METRICS), ("sector", sectors),
                         ("subsector", SUBSECTORS),
                         ("model_year", MODEL_YEARS))
    }
    return DimensionalInputs(hours * n_combo, datasets, mappings, geography,
                             weights)


# ---- index_lifecycle: clustered unit vectors ---------------------------

@dataclass
class VectorInputs:
    dim: int
    base_path: str
    base: np.ndarray                  # (n_base, dim)
    batch_paths: list[str]
    batches: list[np.ndarray]         # ids continue after the base's
    queries: list[list[np.ndarray]]   # per round, the query vectors

    @property
    def input_bytes(self) -> int:
        return 8 * self.dim * (len(self.base) + sum(len(b) for b in self.batches))


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray,
                   files: int = 4) -> str:
    """(vec_id, embedding) as ``files`` parquet parts, so a scan has one
    split per worker thread."""
    os.makedirs(path, exist_ok=True)
    for part, rows in enumerate(np.array_split(np.arange(len(ids)), files)):
        n, dim = len(rows), vecs.shape[1]
        offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
        emb = pa.ListArray.from_arrays(offsets, pa.array(vecs[rows].ravel()))
        pq.write_table(pa.table({"vec_id": pa.array(ids[rows], pa.int64()),
                                 "embedding": emb}),
                       os.path.join(path, f"part-{part:02d}.parquet"))
    return path


def vectors(root: str, seed: int, n_base: int, n_clusters: int, rounds: int,
            batch_size: int, queries_per_round: int, dim: int = 64,
            center_cos: float = 0.75) -> VectorInputs:
    """Mixture of Gaussians on the unit sphere, in the style of
    ``tools/make_planted_fixture.py``: ``normalize(center + sigma * z)``
    with sigma set for a mean cosine of ``center_cos`` to the center."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(root, exist_ok=True)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    sigma = ((1.0 / center_cos ** 2 - 1.0) / dim) ** 0.5

    def draw(n: int) -> np.ndarray:
        v = centers[rng.integers(0, n_clusters, n)] + sigma * rng.standard_normal((n, dim))
        return v / np.linalg.norm(v, axis=1, keepdims=True)

    base = draw(n_base)
    base_path = _write_vectors(os.path.join(root, "base"),
                               np.arange(n_base), base)
    batches, batch_paths, queries = [], [], []
    next_id = n_base
    for r in range(rounds):
        b = draw(batch_size)
        ids = np.arange(next_id, next_id + batch_size)
        next_id += batch_size
        batches.append(b)
        batch_paths.append(_write_vectors(
            os.path.join(root, f"batch-{r:02d}"), ids, b))
        queries.append(list(draw(queries_per_round)))
    return VectorInputs(dim, base_path, base, batch_paths, batches, queries)


# ---- dedup_ingest: word documents with planted near-duplicates ---------

@dataclass
class DocInputs:
    store_path: str
    store: dict[int, str]
    batch_paths: list[str]
    batches: list[dict[int, str]]
    #: per batch, planted near-duplicate id -> id of the stored doc it edits
    planted: list[dict[int, int]]


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase words of 3 to 8 letters."""
    words: set[str] = set()
    while len(words) < n:
        codes = rng.integers(97, 123, (n, 8), dtype=np.uint8)
        lengths = rng.integers(3, 9, n)
        words.update(row[:k].tobytes().decode() for row, k in zip(codes, lengths))
    return sorted(words)[:n]


def _write_docs(path: str, docs: dict[int, str], files: int = 4) -> str:
    os.makedirs(path, exist_ok=True)
    ids = np.array(list(docs), dtype=np.int64)
    for part, chunk in enumerate(np.array_split(ids, files)):
        pq.write_table(pa.table({"doc_id": pa.array(chunk, pa.int64()),
                                 "text": pa.array([docs[i] for i in chunk.tolist()])}),
                       os.path.join(path, f"part-{part:02d}.parquet"))
    return path


def documents(root: str, seed: int, n_store: int, batches: int,
              batch_size: int, dup_share: float = 0.25,
              words: tuple[int, int] = (60, 100)) -> DocInputs:
    """Fresh documents are random draws from a 20k-word vocabulary, so no
    two of them share 5-word shingles; each batch also holds
    ``dup_share`` planted near-duplicates, each a one-token substitution
    of a document already in the store."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(root, exist_ok=True)
    vocab = _vocabulary(rng, 20000)

    def fresh() -> list[str]:
        return [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(*words)))]

    store = {i: " ".join(fresh()) for i in range(n_store)}
    stored_ids = list(store)
    next_id = n_store
    batch_docs, planted, paths = [], [], []
    for b in range(batches):
        n_dup = int(round(batch_size * dup_share))
        docs: dict[int, str] = {}
        dups: dict[int, int] = {}
        is_dup = np.zeros(batch_size, bool)
        is_dup[rng.choice(batch_size, n_dup, replace=False)] = True
        for flag in is_dup:
            doc_id = next_id
            next_id += 1
            if flag:
                src = stored_ids[int(rng.integers(0, len(stored_ids)))]
                toks = (store.get(src) or _find(batch_docs, src)).split(" ")
                pos = int(rng.integers(0, len(toks)))
                old = toks[pos]
                while toks[pos] == old:
                    toks[pos] = vocab[int(rng.integers(0, len(vocab)))]
                docs[doc_id] = " ".join(toks)
                dups[doc_id] = src
            else:
                docs[doc_id] = " ".join(fresh())
        batch_docs.append(docs)
        planted.append(dups)
        paths.append(_write_docs(os.path.join(root, f"batch-{b:02d}"), docs))
        # the fresh docs of this batch are stored once it is ingested, so
        # later batches may plant near-duplicates of them too
        stored_ids.extend(i for i in docs if i not in dups)
    store_path = _write_docs(os.path.join(root, "store"), store)
    return DocInputs(store_path, store, paths, batch_docs, planted)


def _find(batches: list[dict[int, str]], doc_id: int) -> str:
    for docs in batches:
        if doc_id in docs:
            return docs[doc_id]
    raise KeyError(doc_id)
