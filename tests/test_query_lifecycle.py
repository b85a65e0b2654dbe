"""End-to-end query lifecycle: handlers, catalog, submitter, caching.

Mirrors the reference's pattern of running each query cold and from cache
and requiring identical results (tests/test_queries.py:663-670).
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from dsgrid_spark.datasets.handlers import DatasetConfig, OneTableHandler, TwoTableHandler
from dsgrid_spark.operators.aggregation import AggregationModel, ColumnModel
from dsgrid_spark.operators.filters import ExpressionFilter
from dsgrid_spark.query.models import (
    DatasetModel,
    MappingSpec,
    PivotedResultFormat,
    ProjectQueryModel,
    ProjectionDatasetModel,
    ResultModel,
)
from dsgrid_spark.query.submitter import QuerySubmitter
from dsgrid_spark.sources.catalog import Catalog

from .conftest import plan_jobs


@pytest.fixture()
def catalog(spark, load_onetable, county_to_state, geography_records, metric_records):
    cat = Catalog(spark)
    cat.register_dataset("load", load_onetable)
    cat.register_mapping("county_to_state", county_to_state,
                         from_dimension="county", to_dimension="state")
    cat.register_dimension("geography", geography_records)
    cat.register_dimension("metric", metric_records)
    return cat


def _query(**result_kwargs):
    return ProjectQueryModel(
        name="q",
        source_datasets=[DatasetModel(
            dataset_id="load",
            mappings=[MappingSpec(dimension="geography", mapping="county_to_state")],
            filters=[ExpressionFilter(column="scenario", operator="==",
                                      value="reference")],
        )],
        result=ResultModel(
            aggregations=[AggregationModel(
                group_by_columns=[ColumnModel(dimension_name="geography"),
                                  ColumnModel(dimension_name="metric")],
                aggregation_function="sum")],
            **result_kwargs,
        ),
    )


def test_submit_against_python_golden(catalog, expected_rows):
    from collections import defaultdict

    from .conftest import COUNTIES

    res = QuerySubmitter(catalog).submit(_query())
    got = {(r["geography"], r["metric"]): r["value"] for r in res.collect()}
    state_of = {c[0]: c[2] for c in COUNTIES}
    exp = defaultdict(float)
    for row in expected_rows:
        if row[7] == "reference":
            exp[(state_of[row[1]], row[2])] += row[8]
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], rel=1e-9)


def test_submit_pivoted_result(catalog):
    q = _query(output_format="pivoted",
               pivoted=PivotedResultFormat(
                   pivoted_dimension="metric",
                   pivot_values=["electricity_cooling", "electricity_heating",
                                 "natural_gas_heating"]))
    res = QuerySubmitter(catalog).submit(q)
    assert set(res.columns) == {"geography", "electricity_cooling",
                                "electricity_heating", "natural_gas_heating"}


def test_cache_cold_then_warm(catalog, tmp_path):
    sub = QuerySubmitter(catalog, output_dir=tmp_path)
    q = _query()
    cold = sub.submit(q)
    cold_rows = sorted(map(tuple, cold.collect()))
    assert (tmp_path / "cache").exists()
    warm = sub.submit(q)
    assert sorted(map(tuple, warm.collect())) == cold_rows
    # metadata sidecar written
    assert (tmp_path / "q.metadata.json").exists()


def test_projection_dataset_in_query(spark, catalog):
    initial = spark.createDataFrame(
        [("2018", "CA", 100.0), ("2018", "CO", 10.0)],
        "model_year string, geography string, value double",
    )
    rates = spark.createDataFrame(
        [("2030", "CA", 0.05), ("2030", "CO", 0.05)],
        "model_year string, geography string, value double",
    )
    catalog.register_dataset("initial", initial)
    catalog.register_dataset("rates", rates)
    q = ProjectQueryModel(
        name="proj",
        source_datasets=[ProjectionDatasetModel(
            dataset_id="projected",
            initial_value_dataset="initial",
            growth_rate_dataset="rates",
            construction_method="exponential_growth",
            base_year="2018",
        )],
    )
    res = QuerySubmitter(catalog).submit(q)
    got = {r["geography"]: r["value"] for r in res.collect()}
    assert got["CA"] == pytest.approx(100.0 * 1.05 ** 12)


def test_one_table_handler_trivial_and_check(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2018, 1, 1), "06037", 1.0)],
        "timestamp timestamp, geography string, value double",
    )
    h = OneTableHandler(df, DatasetConfig(
        dataset_id="d", trivial_dimensions={"scenario": "base", "model_year": "2018"}
    ))
    assert set(h.df.columns) == {"timestamp", "geography", "value", "scenario",
                                 "model_year"}
    h.check_columns({"timestamp", "geography", "value", "scenario", "model_year"})
    with pytest.raises(ValueError):
        h.check_columns({"timestamp", "value"})


def test_one_table_handler_casts_int_dims(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2018, 1, 1), "06037", 2018, 1.0)],
        "timestamp timestamp, geography string, model_year int, value double",
    )
    h = OneTableHandler(df, DatasetConfig(dataset_id="d"))
    assert dict(h.df.dtypes)["model_year"] == "string"


def test_two_table_handler_consistency(spark):
    load = spark.createDataFrame(
        [(1, dt.datetime(2018, 1, 1), 5.0), (2, dt.datetime(2018, 1, 1), 7.0)],
        "id int, timestamp timestamp, value double",
    )
    lookup = spark.createDataFrame(
        [(1, "06037", 2.0), (2, "08031", None)],
        "id int, geography string, scaling_factor double",
    )
    h = TwoTableHandler(load, lookup, DatasetConfig(dataset_id="tt"))
    h.check_id_consistency()
    got = {r["geography"]: r["value"] for r in h.to_stacked().collect()}
    assert got["06037"] == 10.0  # scaling factor applied
    assert got["08031"] == 7.0   # NULL factor → 1.0
    bad_lookup = spark.createDataFrame(
        [(1, "06037", None)], "id int, geography string, scaling_factor double"
    )
    h2 = TwoTableHandler(load, bad_lookup, DatasetConfig(dataset_id="tt"))
    with pytest.raises(ValueError):
        h2.check_id_consistency()


def test_mapping_path(spark, catalog):
    catalog.register_mapping("state_to_census", spark.createDataFrame(
        [("CA", "west", 1.0)], "from_id string, to_id string, from_fraction double"),
        from_dimension="state", to_dimension="census_region")
    path = catalog.mapping_path("county", "census_region")
    assert path == ["county_to_state", "state_to_census"]


def test_composite_dataset_roundtrip(catalog, tmp_path):
    """Lifecycle §3.3: create composite, re-query result phase only,
    re-register as derived dataset."""
    sub = QuerySubmitter(catalog, output_dir=tmp_path)
    q = _query()
    out_dir = sub.create_composite_dataset(q, "combined")
    assert (out_dir / "metadata.json").exists()

    full = sub.submit(q).collect()
    requeried = sub.submit_composite("combined", ResultModel()).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, requeried))

    # result-phase-only aggregation over the composite
    agg = sub.submit_composite("combined", ResultModel(
        aggregations=[AggregationModel(
            group_by_columns=[ColumnModel(dimension_name="geography")],
            aggregation_function="sum")],
    ))
    assert set(agg.columns) == {"geography", "value"}

    # derived dataset is queryable again through the normal path
    sub.register_derived_dataset("combined")
    df, _ = catalog.dataset("combined")
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, full))


def test_per_dataset_aggregation(catalog):
    sub = QuerySubmitter(catalog)
    q = _query()
    baseline = sorted(map(tuple, sub.submit(q).collect()))
    q2 = q.model_copy(update={"aggregate_each_dataset": True})
    out = sorted(map(tuple, sub.submit(q2).collect()))
    # pre-aggregation must not change the final result (sum is idempotent
    # under re-aggregation on the same group columns)
    assert out == baseline


def test_supplemental_filter_resolved_from_catalog(catalog):
    from dsgrid_spark.operators.filters import SupplementalMappingFilter

    sub = QuerySubmitter(catalog)
    q = ProjectQueryModel(
        name="suppl",
        source_datasets=[DatasetModel(
            dataset_id="load",
            filters=[SupplementalMappingFilter(
                column="geography", supplemental_ids=["CA"],
                mapping="county_to_state")],
        )],
    )
    out = sub.submit(q)
    kept = {r["geography"] for r in out.select("geography").distinct().collect()}
    mapping = catalog.mapping("county_to_state")
    ca = {r["from_id"] for r in
          mapping.filter(F.col("to_id") == "CA").collect()}
    assert kept == ca


def test_cli_validate_and_run(spark, load_onetable, county_to_state, tmp_path):
    """CLI surface: spec file -> validate -> run -> parquet output."""
    from dsgrid_spark.cli import main

    fact_path = tmp_path / "fact.parquet"
    map_path = tmp_path / "mapping.parquet"
    load_onetable.write.parquet(str(fact_path))
    county_to_state.write.parquet(str(map_path))
    spec = {
        "catalog": {
            "datasets": {"load": {"path": str(fact_path)}},
            "mappings": {"county_to_state": {"path": str(map_path)}},
        },
        "query": {
            "name": "cli_q",
            "source_datasets": [{
                "dataset_id": "load",
                "mappings": [{"dimension": "geography",
                              "mapping": "county_to_state"}],
            }],
            "result": {
                "aggregations": [{
                    "group_by_columns": [{"dimension_name": "geography"}],
                    "aggregation_function": "sum"}],
            },
        },
    }
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(json.dumps(spec))
    assert main(["validate", str(spec_path)]) == 0
    assert main(["run", str(spec_path), "--output", str(tmp_path / "out")]) == 0
    out = spark.read.parquet(str(tmp_path / "out" / "cli_q" / "table.parquet"))
    assert out.count() > 0
    assert "geography" in out.columns


def test_dataset_query_entry_point(spark, catalog):
    """Entry point B: auto-resolved mapping chain county -> census_region."""
    catalog.register_mapping("state_to_census", spark.createDataFrame(
        [("CA", "west", 1.0), ("CO", "west", 1.0), ("TX", "south", 1.0)],
        "from_id string, to_id string, from_fraction double"),
        from_dimension="state", to_dimension="census_region")
    sub = QuerySubmitter(catalog)
    out = sub.submit_dataset_query("load", "county", "census_region",
                                   dimension_column="geography")
    regions = {r["geography"] for r in out.select("geography").distinct().collect()}
    assert regions <= {"west", "south"}
    # values conserved through the two-hop 1:1 mapping chain
    direct = catalog.dataset("load")[0].agg(F.sum("value")).collect()[0][0]
    mapped = out.agg(F.sum("value")).collect()[0][0]
    assert mapped == pytest.approx(direct, rel=1e-9)


def test_mapping_plan_checkpoint_resume(spark, tmp_path):
    """Resume from the longest checkpointed prefix; editing an earlier
    step invalidates downstream checkpoints (reference
    MapOperationCheckpoint, query_submitter.py:924-949)."""
    from dsgrid_spark.query.checkpoint import MappingPlanRunner, PlanStep

    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)],
                               "geography string, value double")
    calls = []

    def mk(name, factor):
        def fn(d):
            calls.append(name)
            return d.withColumn("value", F.col("value") * factor)
        return fn

    runner = MappingPlanRunner(scratch_dir=tmp_path, key_parts=("v1",))
    steps = [PlanStep("double", mk("double", 2.0), persist=True),
             PlanStep("triple", mk("triple", 3.0))]
    out1 = sorted(map(tuple, runner.run(df, steps).collect()))
    assert calls == ["double", "triple"]

    # rerun: the persisted 'double' step is skipped, 'triple' re-runs
    calls.clear()
    out2 = sorted(map(tuple, runner.run(df, steps).collect()))
    assert calls == ["triple"]
    assert out1 == out2

    # different key_parts (e.g. new dataset version) -> full re-run
    calls.clear()
    runner2 = MappingPlanRunner(scratch_dir=tmp_path, key_parts=("v2",))
    runner2.run(df, steps).collect()
    assert calls == ["double", "triple"]


def test_track_timing_report():
    from dsgrid_spark.timing import TimerStats, track_timing

    stats = TimerStats()

    @track_timing(stats=stats)
    def work():
        return 42

    assert work() == 42 and work() == 42
    assert stats.stats["test_track_timing_report.<locals>.work"].count == 2
    assert "total_s" in stats.report()


def test_per_dataset_map_cache(catalog, tmp_path):
    """Mapped datasets are content-hash cached and reused across queries
    (reference project.py:418-451)."""
    sub = QuerySubmitter(catalog, output_dir=tmp_path)
    q = _query()
    first = sorted(map(tuple, sub.submit(q).collect()))
    # a different result phase but the same dataset mapping: the map
    # phase must come from cache (same dataset-level key)
    q2 = _query(sort_columns=["geography"])
    q2 = q2.model_copy(update={"name": "q2"})
    second = sorted(map(tuple, sub.submit(q2).collect()))
    assert first == second
    cache_dirs = list((tmp_path / "cache").iterdir())
    assert len(cache_dirs) >= 2  # dataset-level + query-level entries


def test_error_paths(catalog):
    """Invalid queries fail fast with clear errors (reference
    test_queries.py:242-320, 1588)."""
    sub = QuerySubmitter(catalog)
    with pytest.raises(KeyError):
        sub.submit(ProjectQueryModel(
            name="bad", source_datasets=[DatasetModel(dataset_id="nope")]))
    with pytest.raises(KeyError):
        sub.submit(ProjectQueryModel(
            name="bad2",
            source_datasets=[DatasetModel(
                dataset_id="load",
                mappings=[MappingSpec(dimension="geography",
                                      mapping="missing_mapping")])]))
    from dsgrid_spark.operators.expressions import DatasetExpressionError
    with pytest.raises((DatasetExpressionError, KeyError)):
        sub.submit(ProjectQueryModel(
            name="bad3",
            source_datasets=[DatasetModel(dataset_id="load")],
            expression="load | unknown_ds"))
    with pytest.raises(ValueError):
        from dsgrid_spark.operators.aggregation import AggregationModel as AM
        AM(group_by_columns=[ColumnModel(dimension_name="geography")],
           aggregation_function="not_a_function")
    from dsgrid_spark.operators.units import conversion_factor
    with pytest.raises(ValueError):
        conversion_factor("kWh", "MW")  # energy -> power


def test_result_time_zone_applied(spark, catalog):
    q = _query()
    q2 = q.model_copy(deep=True)
    q2.result.aggregations = []
    q2.result.time_zone = "Etc/GMT+5"
    base = QuerySubmitter(catalog).submit(q.model_copy(
        update={"result": ResultModel()}))
    shifted = QuerySubmitter(catalog).submit(q2)
    b = base.select(F.min("timestamp")).collect()[0][0]
    s = shifted.select(F.min("timestamp")).collect()[0][0]
    assert (b - s).total_seconds() == 5 * 3600


def test_scoped_conf_restores(spark):
    from dsgrid_spark.session import scoped_conf

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "7"}):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior


def test_per_dataset_spark_conf_in_query(spark, catalog, tmp_path):
    sub = QuerySubmitter(catalog, output_dir=tmp_path)
    q = _query()
    q.source_datasets[0].spark_conf = {"spark.sql.shuffle.partitions": "3"}
    out = sub.submit(q)
    assert out.count() > 0
    # conf restored after the scoped map phase
    assert spark.conf.get("spark.sql.shuffle.partitions") != "3"


def test_result_column_renames(catalog):
    q = _query()
    q.result.column_names = {"geography": "state", "value": "load_mwh"}
    out = QuerySubmitter(catalog).submit(q)
    assert {"state", "load_mwh"} <= set(out.columns)
    assert "geography" not in out.columns


def test_peak_load_golden(spark):
    """Peak-load report validated against an independent pandas
    recomputation (reference test_queries.py:1453 pattern)."""
    import pandas as pd

    from dsgrid_spark.operators.reports import peak_load

    pdf = pd.DataFrame({
        "geography": ["CA", "CA", "CA", "CO", "CO"],
        "ts": pd.to_datetime([
            "2024-01-01 00:00", "2024-01-01 01:00", "2024-01-01 02:00",
            "2024-01-01 00:00", "2024-01-01 01:00"]),
        "value": [1.0, 5.0, 3.0, 2.0, 2.0],
    })
    df = spark.createDataFrame(pdf)
    got = {r["geography"]: (r["ts"], r["value"])
           for r in peak_load(df, ["geography"], tie_breakers=["ts"]).collect()}
    # independent recomputation: idxmax per group (ties -> earliest row,
    # matching the ts tie-breaker)
    exp = pdf.loc[pdf.groupby("geography")["value"].idxmax()]
    for _, row in exp.iterrows():
        g, v = row["geography"], row["value"]
        assert got[g][1] == v
        assert got[g][0] == row["ts"].to_pydatetime()


def test_aggregate_each_dataset_keeps_datasets_separate(spark):
    """Per-dataset aggregation must NOT be re-applied post-union
    (reference query_submitter.py:320-323): mean-of-means is wrong, and
    same-key rows from different datasets stay separate."""
    cat = Catalog(spark)
    a = spark.createDataFrame([("CA", 1.0), ("CA", 3.0)],
                              "geography string, value double")
    b = spark.createDataFrame([("CA", 10.0)], "geography string, value double")
    cat.register_dataset("a", a)
    cat.register_dataset("b", b)
    q = ProjectQueryModel(
        name="mean_each",
        source_datasets=[DatasetModel(dataset_id="a"),
                         DatasetModel(dataset_id="b")],
        aggregate_each_dataset=True,
        result=ResultModel(aggregations=[AggregationModel(
            group_by_columns=[ColumnModel(dimension_name="geography")],
            aggregation_function="mean")]),
    )
    rows = sorted(r["value"] for r in QuerySubmitter(cat).submit(q).collect())
    assert rows == [2.0, 10.0]


def test_aggregate_each_dataset_grand_total_difference(spark):
    """A grand-total aggregation leaves no dimension column; ``a - b``
    over the two one-row totals is their difference."""
    cat = Catalog(spark)
    cat.register_dataset("a", spark.createDataFrame(
        [("CA", 1.0), ("CO", 3.0)], "geography string, value double"))
    cat.register_dataset("b", spark.createDataFrame(
        [("CA", 10.0)], "geography string, value double"))
    q = ProjectQueryModel(
        name="total_diff",
        source_datasets=[DatasetModel(dataset_id="a"),
                         DatasetModel(dataset_id="b")],
        aggregate_each_dataset=True, expression="a - b",
        result=ResultModel(aggregations=[AggregationModel(
            group_by_columns=[], aggregation_function="sum")]),
    )
    rows = QuerySubmitter(cat).submit(q).collect()
    assert [r.asDict() for r in rows] == [{"value": -6.0}]


def test_checkpoint_duplicate_steps_distinct(spark, tmp_path):
    """Two identical persisted steps must checkpoint under distinct
    prefixes; resume must not double-apply."""
    from dsgrid_spark.query.checkpoint import MappingPlanRunner, PlanStep

    df = spark.createDataFrame([("a", 1.0)], "geography string, value double")

    def double(d):
        return d.withColumn("value", F.col("value") * 2.0)

    steps = [PlanStep("double", double, persist=True),
             PlanStep("double", double, persist=True)]
    runner = MappingPlanRunner(scratch_dir=tmp_path, key_parts=("dup",))
    assert runner.run(df, steps).collect()[0]["value"] == 4.0
    # resume from the longest prefix: still 4.0, not re-doubled
    assert runner.run(df, steps).collect()[0]["value"] == 4.0


def test_json5_lite_inline_comments(tmp_path):
    """Inline trailing comments and comment-lookalikes inside strings."""
    from dsgrid_spark.cli import load_spec

    p = tmp_path / "spec.json5"
    p.write_text(
        '{\n'
        '  "sf": 1, // scale\n'
        '  "s": "a//b /* not a comment */ ,}",\n'
        '  /* block\n     comment */ "xs": [1, 2,],\n'
        '}\n'
    )
    assert load_spec(p) == {
        "sf": 1, "s": "a//b /* not a comment */ ,}", "xs": [1, 2],
    }


def test_result_phase_peak_load_report(catalog):
    """reports=[peak_load] keeps the per-group argmax of the result table
    (reference ReportInputModel + report_peak_load.py)."""
    from dsgrid_spark.query.models import PeakLoadReportModel

    q = ProjectQueryModel(
        name="peak", source_datasets=[DatasetModel(dataset_id="load")],
        result=ResultModel(
            aggregations=[AggregationModel(
                group_by_columns=[ColumnModel(dimension_name="geography"),
                                  ColumnModel(dimension_name="timestamp")],
                aggregation_function="sum")],
            reports=[PeakLoadReportModel(
                group_by_columns=["geography"], tie_breakers=["timestamp"])],
        ),
    )
    out = QuerySubmitter(catalog).submit(q)
    rows = out.collect()
    # one argmax row per county; its value is the max over that county
    assert len(rows) == 4
    full = QuerySubmitter(catalog).submit(ProjectQueryModel(
        name="all", source_datasets=[DatasetModel(dataset_id="load")],
        result=ResultModel(aggregations=[AggregationModel(
            group_by_columns=[ColumnModel(dimension_name="geography"),
                              ColumnModel(dimension_name="timestamp")],
            aggregation_function="sum")]),
    ))
    maxes = {r["geography"]: r["mx"] for r in full.groupBy("geography")
             .agg(F.max("value").alias("mx")).collect()}
    for r in rows:
        assert r["value"] == pytest.approx(maxes[r["geography"]])


def test_result_phase_time_zone_geography(catalog):
    """time_zone='geography' converts each row through its geography's
    zone from the registered dimension records."""
    q = ProjectQueryModel(
        name="tzgeo", source_datasets=[DatasetModel(dataset_id="load")],
        result=ResultModel(
            aggregations=[AggregationModel(
                group_by_columns=[ColumnModel(dimension_name="geography"),
                                  ColumnModel(dimension_name="timestamp")],
                aggregation_function="sum")],
            time_zone="geography",
        ),
    )
    out = QuerySubmitter(catalog).submit(q)
    assert "time_zone" not in out.columns
    got = {(r["geography"], r["timestamp"]) for r in out.collect()}
    utc = QuerySubmitter(catalog).submit(ProjectQueryModel(
        name="utc", source_datasets=[DatasetModel(dataset_id="load")],
        result=ResultModel(aggregations=[AggregationModel(
            group_by_columns=[ColumnModel(dimension_name="geography"),
                              ColumnModel(dimension_name="timestamp")],
            aggregation_function="sum")]),
    )).collect()
    # January: LA counties shift -8h, Denver counties -7h
    import datetime as dt

    offset = {"06037": 8, "06073": 8, "08031": 7, "08001": 7}
    expected = {(r["geography"],
                 r["timestamp"] - dt.timedelta(hours=offset[r["geography"]]))
                for r in utc}
    assert got == expected


# ---- mapping fractions: fold into the result's sum, or collapse first ----

_COUNTIES = ("c1", "c2", "c3", "c4")


def _fold_facts(spark, offset):
    """Integer loads and dyadic fractions: every sum is exact, so the
    fold and the collapse-first path agree bit for bit."""
    return spark.createDataFrame(
        [(c, m, f"h{h}", float((i * 7 + j * 3 + h + offset) % 13 + 1))
         for i, c in enumerate(_COUNTIES) for j, m in enumerate(("m1", "m2"))
         for h in range(6)],
        "geography string, metric string, hour string, value double")


@pytest.fixture()
def fold_catalog(spark):
    cat = Catalog(spark)
    cat.register_dataset("a", _fold_facts(spark, 0))
    cat.register_dataset("b", _fold_facts(spark, 5))
    # many-to-one, with c2 split between both states
    cat.register_mapping("c2s", spark.createDataFrame(
        [("c1", "s1", 1.0), ("c2", "s1", 0.5), ("c2", "s2", 0.5),
         ("c3", "s2", 1.0), ("c4", "s2", 1.0)],
        "from_id string, to_id string, from_fraction double"))
    # one-to-many disaggregation back to counties
    cat.register_mapping("s2c", spark.createDataFrame(
        [("s1", "c1", 0.75), ("s1", "c2", 0.25), ("s2", "c3", 0.5),
         ("s2", "c4", 0.25), ("s2", "c2", 0.25)],
        "from_id string, to_id string, from_fraction double"))
    return cat


def _collapsed(cat, ds_id, *maps):
    """The collapse-first path, spelled out: map, then apply_fraction."""
    from dsgrid_spark.operators.mapping import apply_fraction, map_stacked_dimension

    df, _ = cat.dataset(ds_id)
    for m in maps:
        df = map_stacked_dimension(df, cat.mapping(m), "geography")
    return apply_fraction(df)


def _agg(fn, *cols):
    return [AggregationModel(
        group_by_columns=[ColumnModel(dimension_name=c) for c in cols],
        aggregation_function=fn)]


def _mapped(ds_id, *maps):
    return DatasetModel(dataset_id=ds_id, mappings=[
        MappingSpec(dimension="geography", mapping=m) for m in maps])


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def _fold_cases():
    """name -> (query kwargs, expected result from collapsed frames,
    whether the fractions fold into the sum)."""
    def summed(df, *cols):
        return df.groupBy(*cols).agg(F.sum("value").alias("value"))

    def minus(cat):
        a = _collapsed(cat, "a", "c2s")
        b = _collapsed(cat, "b", "c2s").withColumnRenamed("value", "vb")
        return (a.join(b, ["geography", "metric", "hour"])
                .withColumn("value", F.col("value") - F.col("vb")))

    def product(cat):
        a = _collapsed(cat, "a", "c2s")
        b = _collapsed(cat, "b", "c2s").withColumnRenamed("value", "r")
        return (a.join(b, ["geography", "metric", "hour"])
                .withColumn("value", F.col("value") * F.col("r")))

    return {
        "many_to_one_sum": (
            dict(source_datasets=[_mapped("a", "c2s")],
                 result=ResultModel(aggregations=_agg("sum", "geography",
                                                      "metric"))),
            lambda cat: summed(_collapsed(cat, "a", "c2s"),
                               "geography", "metric"), True),
        "disaggregation_chain_sum": (
            dict(source_datasets=[_mapped("a", "c2s", "s2c")],
                 result=ResultModel(aggregations=_agg("sum", "geography",
                                                      "hour"))),
            lambda cat: summed(_collapsed(cat, "a", "c2s", "s2c"),
                               "geography", "hour"), True),
        "union_sum": (
            dict(source_datasets=[_mapped("a", "c2s"), _mapped("b", "c2s")],
                 expression="a | b",
                 result=ResultModel(
                     filters=[ExpressionFilter(column="metric", operator="==",
                                               value="m1")],
                     aggregations=_agg("sum", "geography"))),
            lambda cat: summed(
                _collapsed(cat, "a", "c2s").unionByName(
                    _collapsed(cat, "b", "c2s")).filter("metric = 'm1'"),
                "geography"), True),
        "mean": (
            dict(source_datasets=[_mapped("a", "c2s")],
                 result=ResultModel(aggregations=_agg("mean", "geography"))),
            lambda cat: _collapsed(cat, "a", "c2s").groupBy("geography")
            .agg(F.mean("value").alias("value")), False),
        "max": (
            dict(source_datasets=[_mapped("a", "c2s")],
                 result=ResultModel(aggregations=_agg("max", "geography"))),
            lambda cat: _collapsed(cat, "a", "c2s").groupBy("geography")
            .agg(F.max("value").alias("value")), False),
        "value_filter_sum": (
            dict(source_datasets=[_mapped("a", "c2s")],
                 result=ResultModel(
                     filters=[ExpressionFilter(column="value", operator=">",
                                               value=7.0)],
                     aggregations=_agg("sum", "geography"))),
            lambda cat: summed(_collapsed(cat, "a", "c2s")
                               .filter("value > 7.0"), "geography"), False),
        "difference_sum": (
            dict(source_datasets=[_mapped("a", "c2s"), _mapped("b", "c2s")],
                 expression="a - b",
                 result=ResultModel(aggregations=_agg("sum", "geography"))),
            lambda cat: summed(minus(cat), "geography"), False),
        "projection_sum": (
            dict(source_datasets=[ProjectionDatasetModel(
                dataset_id="p", initial_value_dataset="a",
                growth_rate_dataset="b",
                construction_method="annual_multiplier",
                mappings=[MappingSpec(dimension="geography",
                                      mapping="c2s")])],
                 result=ResultModel(aggregations=_agg("sum", "geography"))),
            lambda cat: summed(product(cat), "geography"), False),
        "no_aggregation": (
            dict(source_datasets=[_mapped("a", "c2s")]),
            lambda cat: _collapsed(cat, "a", "c2s"), False),
    }


@pytest.fixture()
def folded(monkeypatch):
    """One entry per submitter fold: whether it had fractions to fold."""
    from dsgrid_spark.common import FRACTION_COLUMN
    from dsgrid_spark.operators import mapping
    from dsgrid_spark.query import submitter

    calls = []

    def spy(df):
        calls.append(FRACTION_COLUMN in df.columns)
        return mapping.fold_fraction(df)

    monkeypatch.setattr(submitter, "fold_fraction", spy)
    return calls


@pytest.mark.parametrize("case", list(_fold_cases()))
def test_fraction_fold_matches_collapse_first(fold_catalog, folded, case):
    """A sum reached through dimension filters or a ``|`` union folds the
    mapping fractions into itself; every other first consumer still gets
    collapsed rows. Either way the result equals the collapse-first path
    exactly (dyadic fractions, integer loads)."""
    kwargs, expected, folds = _fold_cases()[case]
    got = QuerySubmitter(fold_catalog).submit(
        ProjectQueryModel(name=case, **kwargs))
    want = expected(fold_catalog)
    cols = sorted(want.columns)
    assert sorted(got.columns) == cols
    assert _rows(got, cols) == _rows(want, cols)
    assert any(folded) == folds


def test_dataset_query_sum_folds_fractions(fold_catalog, folded):
    """Entry point B folds into its result's sum too, with the same
    answer as collapsing first."""
    fold_catalog.register_mapping("c2s_edge", fold_catalog.mapping("c2s"),
                                  from_dimension="county",
                                  to_dimension="state")
    got = QuerySubmitter(fold_catalog).submit_dataset_query(
        "a", "county", "state", dimension_column="geography",
        result=ResultModel(aggregations=_agg("sum", "geography")))
    want = (_collapsed(fold_catalog, "a", "c2s").groupBy("geography")
            .agg(F.sum("value").alias("value")))
    assert _rows(got, ["geography", "value"]) == _rows(want, ["geography",
                                                              "value"])
    assert folded == [True]


# ---- catalog: each path source is read once per registration ------------

@pytest.fixture()
def path_catalog(spark, tmp_path):
    cat = Catalog(spark)
    for name, df in (("a", _fold_facts(spark, 0)),
                     ("b", _fold_facts(spark, 5))):
        df.write.parquet(str(tmp_path / name))
        cat.register_dataset(name, str(tmp_path / name))
    spark.createDataFrame(
        [("c1", "c2", 1.0), ("c2", "c1", 1.0), ("c3", "c4", 1.0),
         ("c4", "c3", 1.0)],
        "from_id string, to_id string, from_fraction double",
    ).write.parquet(str(tmp_path / "swap"))
    cat.register_mapping("swap", str(tmp_path / "swap"))
    return cat


def test_catalog_second_submit_reads_nothing(spark, path_catalog):
    """The first submit reads each path source (a schema-inference job
    per read); a second submit reuses the kept relations and builds its
    plan without a single Spark job."""
    query = ProjectQueryModel(
        name="q", source_datasets=[_mapped("a", "swap"), _mapped("b")],
        result=ResultModel(aggregations=_agg("sum", "geography")))
    sub = QuerySubmitter(path_catalog)
    assert plan_jobs(spark, lambda: sub.submit(query)) > 0
    assert plan_jobs(spark, lambda: sub.submit(query)) == 0


def test_catalog_source_used_twice_in_one_query(spark, path_catalog):
    """One memoized relation on both sides of a join still resolves: a
    mapping applied twice, and one dataset as both the initial value and
    the growth rate of a projection."""
    a = _fold_facts(spark, 0)
    twice = QuerySubmitter(path_catalog).submit(ProjectQueryModel(
        name="twice", source_datasets=[_mapped("a", "swap", "swap")],
        result=ResultModel(aggregations=_agg("sum", "geography", "metric"))))
    want = a.groupBy("geography", "metric").agg(F.sum("value").alias("value"))
    cols = ["geography", "metric", "value"]
    assert _rows(twice, cols) == _rows(want, cols)

    squared = QuerySubmitter(path_catalog).submit(ProjectQueryModel(
        name="squared", source_datasets=[ProjectionDatasetModel(
            dataset_id="sq", initial_value_dataset="a",
            growth_rate_dataset="a",
            construction_method="annual_multiplier")]))
    cols = ["geography", "metric", "hour", "value"]
    assert _rows(squared, cols) == _rows(
        a.withColumn("value", F.col("value") * F.col("value")), cols)


def test_catalog_reregister_after_rewrite_reads_new_rows(spark, tmp_path):
    """A registered path is immutable for its registration; rewriting it
    in place and registering it again serves the new rows."""
    path = str(tmp_path / "d")
    cat = Catalog(spark)
    spark.createDataFrame([("c1", 1.0)], "geography string, value double"
                          ).write.parquet(path)
    cat.register_dataset("d", path)
    assert [r["value"] for r in cat.dataset("d")[0].collect()] == [1.0]
    spark.createDataFrame([("c1", 2.0), ("c2", 3.0)],
                          "geography string, value double"
                          ).write.mode("overwrite").parquet(path)
    cat.register_dataset("d", path)
    assert sorted(r["value"] for r in cat.dataset("d")[0].collect()) == [2.0, 3.0]
