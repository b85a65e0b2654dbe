"""Registry-lite: in-memory catalog of datasets, dimensions, and mappings.

The reference keeps a versioned registry over SQLAlchemy + a data store
(dsgrid/registry/*); queries only need the lookup surface: dataset_id →
(DataFrame, config), dimension name → records DF, mapping name → records
DF. Nothing is read at registration, so a catalog can describe 100 TB
without touching it. A path source is read once, at its first use, and
the DataFrame is kept on its registration entry: every later query
reuses that relation instead of re-listing the files and re-inferring
the schema, which in Spark is a job per read. A registered path is
therefore immutable for that registration. To rewrite it in place,
register it again afterwards (which drops the kept DataFrame), as Spark
needs ``REFRESH TABLE`` after rewriting a table's files. ``DataFrame``
sources are used as given and callable sources are called on every use.

Every entry carries a version (reference registry_database.py:431
get_latest_version): result-cache keys hash ALL versions, so a
re-registered mapping or dimension can never serve a stale cached result.
Persistence lives in :mod:`dsgrid_spark.registry.store`; a Catalog is the
in-session view of one registry state.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, Optional, Union

import networkx as nx
from pyspark.sql import DataFrame, SparkSession

from dsgrid_spark.datasets.handlers import DatasetConfig

Source = Union[DataFrame, str, Path, Callable[[SparkSession], DataFrame]]


@dataclass
class _Entry:
    #: DataFrames read from this entry's path sources, by field name
    read: dict[str, DataFrame] = field(default_factory=dict, init=False,
                                       repr=False, compare=False)


@dataclass
class _DatasetEntry(_Entry):
    source: Source
    config: DatasetConfig
    lookup_source: Optional[Source] = None  # two-table datasets
    version: str = "1.0.0"


@dataclass
class _DimensionEntry(_Entry):
    source: Source
    version: str = "1.0.0"


@dataclass
class _MappingEntry(_Entry):
    source: Source
    from_dimension: Optional[str] = None
    to_dimension: Optional[str] = None
    mapping_type: Optional[str] = None
    version: str = "1.0.0"


@dataclass
class Catalog:
    spark: SparkSession
    datasets: dict[str, _DatasetEntry] = field(default_factory=dict)
    dimensions: dict[str, _DimensionEntry] = field(default_factory=dict)
    mappings: dict[str, _MappingEntry] = field(default_factory=dict)
    #: (from_dimension, to_dimension) -> mapping name, for pathfinding
    mapping_edges: dict[tuple[str, str], str] = field(default_factory=dict)

    def _load(self, entry: _Entry, attr: str = "source") -> DataFrame:
        src = getattr(entry, attr)
        if isinstance(src, DataFrame):
            return src
        if callable(src):
            return src(self.spark)
        if attr not in entry.read:
            entry.read[attr] = self.spark.read.parquet(str(src))
        return entry.read[attr]

    def register_dataset(self, dataset_id: str, source: Source,
                         config: DatasetConfig | None = None,
                         lookup_source: Source | None = None,
                         version: str = "1.0.0") -> None:
        self.datasets[dataset_id] = _DatasetEntry(
            source, config or DatasetConfig(dataset_id=dataset_id),
            lookup_source, version,
        )

    def register_dimension(self, name: str, source: Source,
                           version: str = "1.0.0") -> None:
        self.dimensions[name] = _DimensionEntry(source, version)

    def register_mapping(self, name: str, source: Source,
                         from_dimension: str | None = None,
                         to_dimension: str | None = None,
                         mapping_type: str | None = None,
                         version: str = "1.0.0") -> None:
        self.mappings[name] = _MappingEntry(
            source, from_dimension, to_dimension, mapping_type, version
        )
        if from_dimension and to_dimension:
            self.mapping_edges[(from_dimension, to_dimension)] = name

    def dataset(self, dataset_id: str) -> tuple[DataFrame, DatasetConfig]:
        e = self.datasets[dataset_id]
        return self._load(e), e.config

    def dataset_lookup(self, dataset_id: str) -> DataFrame | None:
        e = self.datasets[dataset_id]
        return self._load(e, "lookup_source") if e.lookup_source is not None else None

    def dimension(self, name: str) -> DataFrame:
        return self._load(self.dimensions[name])

    def mapping(self, name: str) -> DataFrame:
        return self._load(self.mappings[name])

    def versions(self) -> dict[str, str]:
        """Every registered entity's version, keyed ``kind/id`` — the
        full cache-key input (reference query_submitter.py:133-171 hashes
        project version + dataset configs; a changed mapping MUST
        invalidate cached results)."""
        out = {f"dataset/{k}": e.version for k, e in self.datasets.items()}
        out.update({f"dimension/{k}": e.version
                    for k, e in self.dimensions.items()})
        out.update({f"mapping/{k}": e.version for k, e in self.mappings.items()})
        return out

    def mapping_version(self, name: str) -> str:
        return self.mappings[name].version

    def mapping_path(self, from_dimension: str, to_dimension: str) -> list[str]:
        """Shortest mapping chain through the registry mapping graph.

        Reference query_submitter.py:885-922 (networkx shortest-hop).
        """
        g = nx.DiGraph()
        for (a, b) in self.mapping_edges:
            g.add_edge(a, b)
        path = nx.shortest_path(g, from_dimension, to_dimension)
        return [
            self.mapping_edges[(a, b)] for a, b in zip(path, path[1:])
        ]

    def create_views(self) -> None:
        """Register every catalog entry as a temp view so users can
        ``spark.sql`` over the project directly (a free SQL front door
        the reference lacks — it has no SQL frontend at all).

        Views: datasets by id, dimensions as ``dim_<name>``, mappings as
        ``mapping_<name>``.
        """
        for ds_id in self.datasets:
            self.dataset(ds_id)[0].createOrReplaceTempView(ds_id)
        for name in self.dimensions:
            self.dimension(name).createOrReplaceTempView(f"dim_{name}")
        for name in self.mappings:
            self.mapping(name).createOrReplaceTempView(f"mapping_{name}")
