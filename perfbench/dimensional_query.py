"""``dimensional_query``: nine cold project queries of six kinds, seeded inputs.

Each query goes through ``QuerySubmitter.submit`` (no ``output_dir``, so
no result cache) and its result is forced with a full-column ``noop``
write. An ``Observation`` on that same write returns an exact checksum
of the result (row count, and per value column the sum of
``floor(v*64+0.5)`` and a key-weighted sum of it); DuckDB computes the
same checksum over the generated parquet after the timed region. All
loads are integers and all mapping fractions dyadic, so every sum is
exact in either engine and the checksums must match bit for bit.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Observation, functions as F

from perfbench import inputs

KINDS = ("map_agg", "disagg", "tz_geo", "combine", "pivot_peak", "downsample")
#: one round, in a fixed order so that the JVM's warm-up over the first
#: queries lands on the same queries in every run; the seed picks each
#: query's dataset and subsector subset. The cheap everyday kinds run in
#: variants (an extra group-by column, so no two plans share generated
#: code), which puts the median of the nine latencies inside that cluster.
ROUND = (("disagg", None), ("map_agg", "metric"), ("map_agg", "subsector"),
         ("map_agg", "model_year"), ("tz_geo", None), ("tz_geo", "metric"),
         ("combine", None), ("pivot_peak", None), ("downsample", None))
#: timed seconds one round takes on a 4-core host
NOMINAL_ROUND_S = 15.0
SCALE = 64
TIME_COLUMN = "timestamp"


@dataclass
class QuerySpec:
    kind: str
    name: str
    dataset: str
    subsectors: list[str]
    by: str | None = None   # extra group-by column of map_agg and tz_geo


def checksum_exprs(columns: list[str], value_columns: list[str],
                   weights: dict[str, dict[str, int]], dialect: str
                   ) -> list[tuple[str, str]]:
    """(alias, SQL aggregate) pairs of the result checksum, written for
    ``dialect`` "spark" or "duckdb"."""
    def q(c):
        return f"`{c}`" if dialect == "spark" else f'"{c}"'

    parts = []
    for col, w in weights.items():
        if col in columns:
            cases = " ".join(f"WHEN '{k}' THEN {v}" for k, v in w.items())
            parts.append(f"(CASE {q(col)} {cases} ELSE 0 END)")
    if TIME_COLUMN in columns:
        epoch = (f"unix_timestamp({q(TIME_COLUMN)})" if dialect == "spark"
                 else f"epoch({q(TIME_COLUMN)})")
        parts.append(f"(CAST(floor({epoch} / 3600) AS BIGINT) % 8761)")
    key_weight = " + ".join(parts) or "0"
    out = [("n", "count(1)")]
    for v in value_columns:
        qv = f"CAST(floor({q(v)} * {SCALE} + 0.5) AS BIGINT)"
        extra = weights["metric"].get(v, 0)
        out.append((f"s_{v}", f"CAST(sum({qv}) AS BIGINT)"))
        out.append((f"w_{v}",
                    f"CAST(sum({qv} * ({key_weight} + {extra + 1})) AS BIGINT)"))
    return out


class DimensionalQuery:
    name = "dimensional_query"

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 hours: int = 548):
        self.spark, self.work, self.seed, self.hours = spark, work, seed, hours
        rounds = max(1, int(round(seconds / NOMINAL_ROUND_S)))
        rng = np.random.default_rng([seed, 10])
        self.specs = []
        for r in range(rounds):
            for i, (kind, by) in enumerate(ROUND):
                keep = sorted(rng.choice(inputs.SUBSECTORS, 3, replace=False))
                self.specs.append(QuerySpec(
                    kind, f"{kind}_{r}_{i}", "ab"[int(rng.integers(0, 2))],
                    [str(s) for s in keep], by))
        self.latencies: list[float] = []
        self.observed: list[dict] = []
        self.failures: list[str] = []

    # ---- set-up: inputs and registration --------------------------------
    def setup(self) -> None:
        from dsgrid_spark.datasets.handlers import DatasetConfig
        from dsgrid_spark.query.submitter import QuerySubmitter
        from dsgrid_spark.sources.catalog import Catalog

        self.inputs = inputs.dimensional(f"{self.work}/dimensional", self.seed,
                                         self.hours)
        catalog = Catalog(self.spark)
        for ds_id, path in self.inputs.datasets.items():
            catalog.register_dataset(ds_id, path, DatasetConfig(
                dataset_id=ds_id, trivial_dimensions=dict(inputs.TRIVIAL)))
        catalog.register_mapping("county_to_state",
                                 self.inputs.mappings["county_to_state"],
                                 "county", "state", "many_to_one_aggregation")
        catalog.register_mapping("state_to_county",
                                 self.inputs.mappings["state_to_county"],
                                 "state", "county", "one_to_many_disaggregation")
        catalog.register_dimension("geography", self.inputs.geography)
        self.submitter = QuerySubmitter(catalog)

    # ---- timed region ---------------------------------------------------
    def run(self, tracer) -> None:
        for i, spec in enumerate(self.specs):
            obs = Observation(f"q{i}")
            t0 = time.perf_counter()
            with tracer.span(f"query.{spec.kind}"):
                with tracer.span("query.plan"):
                    df, value_cols = self._build(spec)
                if tracer.enabled:
                    with tracer.span("query.optimize"):
                        df._jdf.queryExecution().executedPlan()
                exprs = checksum_exprs(df.columns, value_cols,
                                       self.inputs.weights, "spark")
                (df.observe(obs, *[F.expr(e).alias(a) for a, e in exprs])
                   .write.format("noop").mode("overwrite").save())
            self.latencies.append(time.perf_counter() - t0)
            self.observed.append(obs.get)

    def _build(self, spec: QuerySpec):
        from dsgrid_spark.operators.aggregation import AggregationModel, ColumnModel
        from dsgrid_spark.operators.filters import SubsetFilter
        from dsgrid_spark.query.models import (
            DatasetModel, MappingSpec, PeakLoadReportModel,
            PivotedResultFormat, ProjectQueryModel, ResultModel)
        from dsgrid_spark.timedim.conversion import downsample

        flt = [SubsetFilter(column="subsector", record_ids=spec.subsectors)]

        def agg(*cols):
            return [AggregationModel(
                group_by_columns=[ColumnModel(dimension_name=c) for c in cols],
                aggregation_function="sum")]

        def ds(ds_id, *maps):
            return DatasetModel(dataset_id=ds_id, filters=flt, mappings=[
                MappingSpec(dimension="geography", mapping=m) for m in maps])

        sources = [ds(spec.dataset)]
        result = ResultModel(aggregations=agg("geography", "metric", TIME_COLUMN))
        expression, each = None, False
        if spec.kind == "map_agg":
            sources = [ds(spec.dataset, "county_to_state")]
            result = ResultModel(aggregations=agg("geography", spec.by, TIME_COLUMN))
        elif spec.kind == "disagg":
            sources = [ds(spec.dataset, "county_to_state", "state_to_county")]
        elif spec.kind == "tz_geo":
            cols = ["geography"] + ([spec.by] if spec.by else []) + [TIME_COLUMN]
            result = ResultModel(aggregations=agg(*cols), time_zone="geography")
        elif spec.kind == "combine":
            sources, expression, each = [ds("a"), ds("b")], "a - b", True
        elif spec.kind == "pivot_peak":
            result = ResultModel(
                aggregations=agg("geography", "metric", TIME_COLUMN),
                reports=[PeakLoadReportModel(
                    group_by_columns=["geography", "metric"],
                    tie_breakers=[TIME_COLUMN])],
                output_format="pivoted",
                pivoted=PivotedResultFormat(pivoted_dimension="metric",
                                            pivot_values=inputs.METRICS))
        elif spec.kind == "downsample":
            result = ResultModel()
        query = ProjectQueryModel(name=spec.name, source_datasets=sources,
                                  expression=expression,
                                  aggregate_each_dataset=each, result=result)
        df = self.submitter.submit(query)
        if spec.kind == "downsample":
            df = downsample(df, TIME_COLUMN, 86400)
        value_cols = (inputs.METRICS if spec.kind == "pivot_peak" else ["value"])
        return df, value_cols

    # ---- checks and metrics ----------------------------------------------
    def oracle_sql(self, spec: QuerySpec) -> str:
        keep = ", ".join(f"'{s}'" for s in spec.subsectors)
        where = f"WHERE d.subsector IN ({keep})"
        ts = '"timestamp"'
        d = spec.dataset
        if spec.kind == "map_agg":
            return (f"SELECT m.to_id AS geography, d.{spec.by}, d.{ts}, "
                    f"sum(d.value * m.from_fraction) AS value FROM {d} d "
                    f"JOIN county_to_state m ON d.geography = m.from_id {where} "
                    "GROUP BY 1, 2, 3")
        if spec.kind == "disagg":
            return (f"SELECT s.to_id AS geography, d.metric, d.{ts}, "
                    "sum(d.value * m.from_fraction * s.from_fraction) AS value "
                    f"FROM {d} d JOIN county_to_state m ON d.geography = m.from_id "
                    f"JOIN state_to_county s ON m.to_id = s.from_id {where} "
                    "GROUP BY 1, 2, 3")
        if spec.kind == "tz_geo":
            by = f"d.{spec.by}, " if spec.by else ""
            return (f"SELECT d.geography, {by}timezone(g.time_zone, d.{ts}) AS {ts}, "
                    f"sum(d.value) AS value FROM {d} d JOIN geography g "
                    f"ON d.geography = g.id {where} "
                    f"GROUP BY d.geography, {by}g.time_zone, d.{ts}")
        if spec.kind == "combine":
            per = ("SELECT geography, metric, {ts}, sum(value) AS v FROM {x} d "
                   "{where} GROUP BY 1, 2, 3")
            return (f"SELECT x.geography, x.metric, x.{ts}, x.v - y.v AS value "
                    f"FROM ({per.format(ts=ts, x='a', where=where)}) x "
                    f"JOIN ({per.format(ts=ts, x='b', where=where)}) y "
                    f"USING (geography, metric, {ts})")
        if spec.kind == "pivot_peak":
            cols = ", ".join(f"sum(CASE WHEN metric = '{m}' THEN value END) AS {m}"
                             for m in inputs.METRICS)
            return (f"SELECT geography, {ts}, {cols} FROM ("
                    f"SELECT *, row_number() OVER (PARTITION BY geography, metric "
                    f"ORDER BY value DESC, {ts}) AS rn FROM ("
                    f"SELECT geography, metric, {ts}, sum(value) AS value "
                    f"FROM {d} d {where} GROUP BY 1, 2, 3)) WHERE rn = 1 "
                    f"GROUP BY geography, {ts}")
        if spec.kind == "downsample":
            return (f"SELECT to_timestamp(floor(epoch(d.{ts}) / 86400) * 86400) "
                    f"AS {ts}, geography, metric, sector, subsector, model_year, "
                    f"sum(value) AS value FROM {d} d {where} GROUP BY ALL")
        raise ValueError(spec.kind)

    def verify(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            con.execute("SET threads = 4")
            for ds_id, path in self.inputs.datasets.items():
                con.execute(f"CREATE VIEW {ds_id} AS "
                            f"SELECT * FROM read_parquet('{path}/*.parquet')")
            for name, path in self.inputs.mappings.items():
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
            con.execute(f"CREATE VIEW geography AS SELECT * FROM "
                        f"'{self.inputs.geography}'")
            failures = []
            for spec, got in zip(self.specs, self.observed):
                sql = self.oracle_sql(spec)
                value_cols = (inputs.METRICS if spec.kind == "pivot_peak"
                              else ["value"])
                exprs = checksum_exprs(con.sql(sql).columns, value_cols,
                                       self.inputs.weights, "duckdb")
                row = con.sql(f"SELECT {', '.join(f'{e} AS {a}' for a, e in exprs)} "
                              f"FROM ({sql})").fetchone()
                want = dict(zip([a for a, _ in exprs], row))
                if {k: got[k] for k in want} != want:
                    failures.append(f"{spec.name}: engine {dict(got)} != "
                                    f"duckdb {want}")
            self.failures = failures
            return failures
        finally:
            con.close()

    @property
    def attempted(self) -> int:
        return len(self.specs)

    def metrics(self) -> dict:
        rows = sum(self.inputs.rows_per_dataset * (2 if s.kind == "combine" else 1)
                   for s in self.specs)
        by_kind = {k: [t for s, t in zip(self.specs, self.latencies) if s.kind == k]
                   for k in KINDS}
        return {
            "op_p50_s": statistics.median(self.latencies),
            "op_samples": len(self.latencies),
            "items": rows,
            "quality": 1.0 - len(self.failures) / len(self.specs),
            "detail": {
                "query_p50_s": statistics.median(self.latencies),
                "query_samples": len(self.latencies),
                "fact_rows_read": rows,
                "rows_per_dataset": self.inputs.rows_per_dataset,
                "query_s_by_kind": {k: v for k, v in by_kind.items() if v},
            },
        }
