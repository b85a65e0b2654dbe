"""Operator unit tests: reshape, set ops, expressions, reports, units, growth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dsgrid_spark.operators.expressions import (
    DatasetExpressionError,
    evaluate_expression,
)
from dsgrid_spark.operators.growth import (
    apply_annual_multiplier,
    apply_exponential_growth,
)
from dsgrid_spark.operators.reports import peak_load, top_k_per_group
from dsgrid_spark.operators.reshape import pivot, unpivot
from dsgrid_spark.operators.setops import symmetric_difference, union_checked
from dsgrid_spark.operators.units import conversion_factor, convert_units

from .conftest import plan_jobs


def test_percentiles_per_group(spark):
    from dsgrid_spark.operators.aggregation import percentiles_per_group

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 11)] + [("b", 100.0)],
        "grp string, value double",
    )
    out = {r["grp"]: r for r in percentiles_per_group(
        df, "grp", "value", quantiles=(0.5, 0.9)).collect()}
    assert out["a"]["p50_value"] == 5.5        # linear interpolation
    assert out["a"]["p90_value"] == 9.1
    assert out["b"]["p50_value"] == 100.0
    approx = {r["grp"]: r for r in percentiles_per_group(
        df, "grp", "value", quantiles=(0.5,), approximate=True).collect()}
    assert abs(approx["a"]["p50_value"] - 5.5) <= 1.0


def test_asof_join_backward(spark):
    import datetime as dt

    from dsgrid_spark.operators.temporal_joins import asof_join

    T = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    events = spark.createDataFrame(
        [("u1", T(0, 30), 1.0), ("u1", T(2, 0), 2.0), ("u1", T(5, 0), 4.0),
         ("u2", T(1, 0), 8.0),   # u2 has no prior rate
         ("u3", T(3, 0), 16.0)],
        "user string, ts timestamp, value double",
    )
    rates = spark.createDataFrame(
        [("u1", T(0), 10.0), ("u1", T(2), 20.0),  # exact tie at 02:00
         ("u3", T(0), 30.0)],
        "user string, valid_from timestamp, rate double",
    )
    out = asof_join(events, rates, ["user"], "ts", "valid_from", ["rate"])
    got = {(r["user"], r["ts"]): r["rate"] for r in out.collect()}
    assert got == {
        ("u1", T(0, 30)): 10.0,
        ("u1", T(2, 0)): 20.0,     # tie: simultaneous rate applies
        ("u1", T(5, 0)): 20.0,
        ("u3", T(3, 0)): 30.0,     # u2 dropped (inner)
    }
    # how='left' keeps u2 with NULL; tolerance drops stale matches
    left = asof_join(events, rates, ["user"], "ts", "valid_from", ["rate"],
                     how="left")
    assert {r["user"]: r["rate"] for r in left.collect()}["u2"] is None
    tol = asof_join(events, rates, ["user"], "ts", "valid_from", ["rate"],
                    tolerance_seconds=3600)
    assert {(r["user"], r["ts"]) for r in tol.collect()} == {
        ("u1", T(0, 30)), ("u1", T(2, 0))}   # >1h-old matches dropped


def test_asof_join_forward_and_nearest(spark):
    import datetime as dt

    from dsgrid_spark.operators.temporal_joins import asof_join

    T = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    events = spark.createDataFrame(
        [("u1", T(0, 30), 1.0),   # between rates at 00:00 and 02:00
         ("u1", T(1, 30), 2.0),   # nearer to 02:00
         ("u1", T(2, 0), 3.0),    # exact tie with the 02:00 rate
         ("u1", T(5, 0), 4.0),    # after the last rate
         ("u2", T(1, 0), 8.0)],   # u2 has no rates at all
        "user string, ts timestamp, value double",
    )
    rates = spark.createDataFrame(
        [("u1", T(0), 10.0), ("u1", T(2), 20.0)],
        "user string, valid_from timestamp, rate double",
    )
    fwd = asof_join(events, rates, ["user"], "ts", "valid_from", ["rate"],
                    direction="forward")
    got = {(r["user"], r["ts"]): r["rate"] for r in fwd.collect()}
    assert got == {
        ("u1", T(0, 30)): 20.0,   # earliest rate at-or-after
        ("u1", T(1, 30)): 20.0,
        ("u1", T(2, 0)): 20.0,    # simultaneous rate applies
        # 05:00 dropped (inner, nothing after); u2 dropped
    }
    near = asof_join(events, rates, ["user"], "ts", "valid_from", ["rate"],
                     direction="nearest")
    got_n = {(r["user"], r["ts"]): r["rate"] for r in near.collect()}
    assert got_n == {
        ("u1", T(0, 30)): 10.0,   # 30 min back vs 90 min fwd
        ("u1", T(1, 30)): 20.0,   # 90 min back vs 30 min fwd
        ("u1", T(2, 0)): 20.0,    # distance 0 both ways -> backward pick
        ("u1", T(5, 0)): 20.0,    # only backward exists
    }
    with pytest.raises(ValueError):
        asof_join(events, rates, ["user"], "ts", "valid_from", ["rate"],
                  direction="sideways")


def test_range_join_binned_matches_naive(spark):
    import datetime as dt

    from dsgrid_spark.operators.temporal_joins import range_join

    base = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=17 * i)) for i in range(200)],
        "event_id long, ts timestamp",
    )
    windows = spark.createDataFrame(
        [(w, base + dt.timedelta(hours=5 * w),
          base + dt.timedelta(hours=5 * w, minutes=90)) for w in range(10)],
        "window_id long, w_start timestamp, w_end timestamp",
    )
    out = range_join(events, windows, "ts", "w_start", "w_end",
                     bucket_seconds=3600)
    naive = events.join(
        windows,
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")),
    )
    got = {(r["event_id"], r["window_id"]) for r in out.collect()}
    want = {(r["event_id"], r["window_id"]) for r in naive.collect()}
    assert got == want and len(got) > 0
    # the binned plan must not be a nested-loop / cartesian join
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pivot_unpivot_roundtrip_with_nulls(spark):
    df = spark.createDataFrame(
        [("a", "m1", 1.0), ("a", "m2", 2.0), ("b", "m1", 3.0)],
        "geo string, metric string, value double",
    )
    p = pivot(df, "metric", pivot_values=["m1", "m2"])
    row_b = [r for r in p.collect() if r["geo"] == "b"][0]
    assert row_b["m2"] is None  # missing association → NULL cell
    # unpivot keeps the NULL row by default (expected-missing semantics)
    u = unpivot(p, ["m1", "m2"], "metric")
    assert u.count() == 4
    assert u.filter(F.col("value").isNull()).count() == 1
    # drop_nulls restores the original rows
    u2 = unpivot(p, ["m1", "m2"], "metric", drop_nulls=True)
    assert sorted((r["geo"], r["metric"], r["value"]) for r in u2.collect()) == [
        ("a", "m1", 1.0), ("a", "m2", 2.0), ("b", "m1", 3.0)
    ]


def test_union_checked_rejects_mismatch(spark):
    a = spark.createDataFrame([(1.0,)], "value double")
    b = spark.createDataFrame([(1.0, "x")], "value double, extra string")
    with pytest.raises(ValueError):
        union_checked([a, b])
    assert union_checked([a, a]).count() == 2


def test_symmetric_difference(spark):
    a = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    b = spark.createDataFrame([(2,), (3,), (4,)], "k int")
    got = sorted(r["k"] for r in symmetric_difference(a, b).collect())
    assert got == [1, 4]


def test_expression_arithmetic_and_union(spark):
    a = spark.createDataFrame([("x", 10.0), ("y", 20.0)], "k string, value double")
    b = spark.createDataFrame([("x", 1.0), ("y", 2.0)], "k string, value double")
    got = {r["k"]: r["value"] for r in
           evaluate_expression("(a - b) * b", {"a": a, "b": b}).collect()}
    assert got == {"x": 9.0, "y": 36.0}
    assert evaluate_expression("a | b", {"a": a, "b": b}).count() == 4
    with pytest.raises(DatasetExpressionError):
        evaluate_expression("a + c", {"a": a, "b": b})
    with pytest.raises(DatasetExpressionError):
        evaluate_expression("a @ b", {"a": a, "b": b})


def test_expression_extended_ops(spark):
    """Parser parity with the reference's py_expression_eval surface
    (:352-420): % ** comparisons and/or in, unary minus."""
    a = spark.createDataFrame([("x", 10.0), ("y", 20.0)], "k string, value double")
    b = spark.createDataFrame([("x", 3.0), ("y", 2.0)], "k string, value double")

    def run(expr, ds=None):
        return {r["k"]: r["value"] for r in
                evaluate_expression(expr, ds or {"a": a, "b": b}).collect()}

    assert run("a % b") == {"x": 1.0, "y": 0.0}
    assert run("b ** b") == {"x": 27.0, "y": 4.0}
    assert run("a > b") == {"x": 1.0, "y": 1.0}
    assert run("a == b") == {"x": 0.0, "y": 0.0}
    assert run("-a") == {"x": -10.0, "y": -20.0}
    # masked selection: value kept only where the comparison holds
    c = spark.createDataFrame([("x", 15.0), ("y", 25.0)], "k string, value double")
    got = run("a * (a > b)", {"a": a, "b": c})
    assert got == {"x": 0.0, "y": 0.0}
    got = run("a * (a < b)", {"a": a, "b": c})
    assert got == {"x": 10.0, "y": 20.0}
    # boolean algebra over nonzero masks
    z = spark.createDataFrame([("x", 0.0), ("y", 5.0)], "k string, value double")
    assert run("a and z", {"a": a, "z": z}) == {"x": 0.0, "y": 1.0}
    assert run("a or z", {"a": a, "z": z}) == {"x": 1.0, "y": 1.0}
    # `in`: dimension semi-join
    sub = spark.createDataFrame([("y", 99.0)], "k string, value double")
    assert run("a in s", {"a": a, "s": sub}) == {"y": 20.0}


def test_peak_load_keeps_full_row(spark):
    df = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 9.0), ("b", 3, 2.0), ("b", 4, 2.0)],
        "grp string, id int, value double",
    )
    got = {(r["grp"], r["id"]) for r in
           peak_load(df, ["grp"], tie_breakers=["id"]).collect()}
    assert got == {("a", 2), ("b", 3)}  # tie broken by lowest id
    # rank() semantics without tie breakers keeps both tied rows
    assert peak_load(df, ["grp"]).count() == 3


def test_top_k(spark):
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(5)], "grp string, id int, value double"
    )
    got = sorted(r["id"] for r in
                 top_k_per_group(df, ["grp"], 2, tie_breakers=["id"]).collect())
    assert got == [3, 4]


def test_unit_conversion_factors():
    assert conversion_factor("kWh", "MWh") == pytest.approx(1e-3)
    assert conversion_factor("therm", "kWh") == pytest.approx(29.3071)
    assert conversion_factor("MW", "kW") == pytest.approx(1e3)
    with pytest.raises(ValueError):
        conversion_factor("kWh", "kW")  # energy vs power


def test_convert_units_with_records(spark):
    df = spark.createDataFrame(
        [("elec", 1000.0), ("gas", 2.0)], "metric string, value double"
    )
    frm = spark.createDataFrame(
        [("elec", "kWh"), ("gas", "therm")], "id string, unit string"
    )
    to = spark.createDataFrame(
        [("elec", "MWh"), ("gas", "kWh")], "id string, unit string"
    )
    got = {r["metric"]: r["value"] for r in
           convert_units(df, "metric", frm, to).collect()}
    assert got["elec"] == pytest.approx(1.0)
    assert got["gas"] == pytest.approx(58.6142)


def test_convert_units_noop_short_circuit(spark):
    df = spark.createDataFrame([("elec", 1.0)], "metric string, value double")
    recs = spark.createDataFrame([("elec", "kWh")], "id string, unit string")
    out = convert_units(df, "metric", recs, recs)
    assert out is df  # no plan change when units all match


def test_exponential_growth_golden(spark):
    initial = spark.createDataFrame(
        [("2018", "a", 100.0)], "model_year string, geo string, value double"
    )
    rates = spark.createDataFrame(
        [("2020", "a", 0.1), ("2025", "a", 0.1)],
        "model_year string, geo string, value double",
    )
    got = {r["model_year"]: r["value"] for r in
           apply_exponential_growth(initial, rates, "2018").collect()}
    assert got["2020"] == pytest.approx(100.0 * 1.1 ** 2)
    assert got["2025"] == pytest.approx(100.0 * 1.1 ** 7)


def test_annual_multiplier_golden(spark):
    initial = spark.createDataFrame(
        [("2018", "a", 100.0), ("2020", "a", 100.0)],
        "model_year string, geo string, value double",
    )
    rates = spark.createDataFrame(
        [("2018", "a", 1.0), ("2020", "a", 1.5)],
        "model_year string, geo string, value double",
    )
    got = {r["model_year"]: r["value"] for r in
           apply_annual_multiplier(initial, rates).collect()}
    assert got == {"2018": 100.0, "2020": 150.0}


def test_expected_missing_roundtrip(spark):
    """NULL-value rows split off, survive processing, re-added (reference
    utils/dataset.py:123-140, :820-830)."""
    from dsgrid_spark.operators.missing import (
        restore_expected_missing, split_expected_missing,
    )

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", None), ("b", "x", 3.0)],
        "geography string, metric string, value double",
    )
    data, missing = split_expected_missing(df)
    assert data.count() == 2 and missing.count() == 1
    processed = data.withColumn("value", F.col("value") * 2)
    out = restore_expected_missing(processed, missing)
    rows = {(r.geography, r.metric): r.value for r in out.collect()}
    assert rows[("a", "y")] is None and rows[("a", "x")] == 2.0


def test_drop_invalid_null_time_rows(spark):
    from dsgrid_spark.operators.missing import drop_invalid_null_time_rows

    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0), ("a", None, None),
         ("b", None, None)],
        "geography string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = drop_invalid_null_time_rows(df, "ts")
    rows = [(r.geography, r.ts is None) for r in out.collect()]
    # 'a' has real data -> its NULL-time row dropped; 'b' has none -> kept
    assert sorted(rows) == [("a", False), ("b", True)]


def test_pivoted_handler_stashes_expected_missing(spark):
    from dsgrid_spark.datasets.handlers import DatasetConfig, OneTableHandler

    df = spark.createDataFrame(
        [("06037", 1.0, None), ("08031", 2.0, 4.0)],
        "geography string, cooling double, heating double",
    )
    h = OneTableHandler(df, DatasetConfig(
        dataset_id="p", time_columns=[],
        pivoted_columns=["cooling", "heating"], pivoted_dimension="metric",
    ))
    assert h.df.count() == 3
    assert h.expected_missing is not None
    miss = h.expected_missing.collect()
    assert len(miss) == 1 and miss[0]["geography"] == "06037"


def test_expression_count_guards(spark):
    """Reference DatasetExpressionHandler._op raises when input lengths
    differ or the arithmetic join changes the row count."""
    a = spark.createDataFrame([("x", 10.0), ("y", 20.0)], "k string, value double")
    b = spark.createDataFrame([("x", 1.0)], "k string, value double")
    with pytest.raises(DatasetExpressionError, match="row counts differ"):
        evaluate_expression("a - b", {"a": a, "b": b})
    # equal counts but misaligned keys -> inner join shrinks -> raise
    c = spark.createDataFrame([("x", 1.0), ("z", 2.0)], "k string, value double")
    with pytest.raises(DatasetExpressionError, match="changed row count"):
        evaluate_expression("a - c", {"a": a, "c": c})
    # explicit opt-out for scale: silent inner-join semantics
    got = evaluate_expression("a - c", {"a": a, "c": c}, check_counts=False)
    assert [(r["k"], r["value"]) for r in got.collect()] == [("x", 9.0)]


def test_expression_guards_count_null_keys_as_missing(spark):
    """A NULL dimension key (as restore_expected_missing leaves) groups
    as one key in the audits but never matches in the inner join, so
    both the up-front component audit and the per-node guard raise
    instead of dropping the row."""
    a = spark.createDataFrame([("x", 10.0), (None, 20.0)],
                              "k string, value double")
    b = spark.createDataFrame([("x", 1.0), (None, 2.0)],
                              "k string, value double")
    # audited once up front (a and b form one arithmetic region)
    with pytest.raises(DatasetExpressionError, match="changed row count"):
        evaluate_expression("a - b", {"a": a, "b": b})
    # re-guarded at the node: union operands are not pre-audited
    c = spark.createDataFrame([("y", 3.0)], "k string, value double")
    d = spark.createDataFrame([("y", 4.0)], "k string, value double")
    with pytest.raises(DatasetExpressionError, match="changed row count"):
        evaluate_expression("(a | c) - (b | d)",
                            {"a": a, "b": b, "c": c, "d": d})
    two = spark.createDataFrame([("x", "p", 1.0), ("x", None, 2.0)],
                                "k string, j string, value double")
    with pytest.raises(DatasetExpressionError, match="changed row count"):
        evaluate_expression("two * two", {"two": two})


def test_expression_union_of_independent_arith_branches(spark):
    """ADVICE r4 (high): ``(a-b)|(c-d)`` unions two independently-aligned
    arithmetic branches with DISJOINT key sets (stacking sectors). Each
    branch is valid on its own; the audit must be per alignment region,
    not a global mutual check across all arith leaves."""
    a = spark.createDataFrame([("res", 10.0), ("com", 20.0)], "k string, value double")
    b = spark.createDataFrame([("res", 1.0), ("com", 2.0)], "k string, value double")
    c = spark.createDataFrame([("ind", 30.0)], "k string, value double")
    d = spark.createDataFrame([("ind", 3.0)], "k string, value double")
    got = {r["k"]: r["value"] for r in evaluate_expression(
        "(a - b) | (c - d)", {"a": a, "b": b, "c": c, "d": d}).collect()}
    assert got == {"res": 9.0, "com": 18.0, "ind": 27.0}
    # misalignment WITHIN one region still raises even when the other
    # region is fine
    bad = spark.createDataFrame([("zzz", 3.0)], "k string, value double")
    with pytest.raises(DatasetExpressionError):
        evaluate_expression("(a - b) | (c - bad)",
                            {"a": a, "b": b, "c": c, "bad": bad})
    # a leaf shared across two regions is audited in both contexts
    rows = sorted((r["k"], r["value"]) for r in evaluate_expression(
        "(a - b) | (a * b)", {"a": a, "b": b}).collect())
    assert rows == [("com", 18.0), ("com", 40.0), ("res", 9.0), ("res", 10.0)]
    # nested region inside a union operand: ``(x-y)`` under ``|`` starts
    # its own region and is audited there
    with pytest.raises(DatasetExpressionError, match="row counts differ"):
        evaluate_expression("a | (c - b)", {"a": a, "b": b, "c": c})


def test_expression_audit_is_one_action(spark):
    """Operands from ``|`` join their region's one audit: a tree with a
    union under its arithmetic launches no more jobs than ``x - y``, and
    ``check_counts=False`` launches none."""
    def mk(rows):
        return spark.createDataFrame(rows, "k string, value double")

    ds = {"x": mk([("a", 1.0), ("b", 2.0)]), "y": mk([("a", 3.0), ("b", 4.0)]),
          "z": mk([("c", 5.0)]),
          "w": mk([("a", 1.0), ("b", 1.0), ("c", 2.0)])}
    pair = plan_jobs(spark, lambda: evaluate_expression("x - y", ds))
    nested = plan_jobs(spark, lambda: evaluate_expression(
        "((x | z) - w) * w", ds))
    assert 0 < nested <= pair
    assert plan_jobs(spark, lambda: evaluate_expression(
        "((x | z) - w) * w", ds, check_counts=False)) == 0
    got = {r["k"]: r["value"] for r in evaluate_expression(
        "((x | z) - w) * w", ds).collect()}
    assert got == {"a": 0.0, "b": 1.0, "c": 6.0}


def test_expression_without_dimension_columns(spark):
    """Frames with no dimension column have one, empty, key: one row on
    each side combines through a cross join, and any other counts are
    misaligned."""
    one_a = spark.createDataFrame([(10.0,)], "value double")
    one_b = spark.createDataFrame([(4.0,)], "value double")
    two = spark.createDataFrame([(1.0,), (2.0,)], "value double")
    ds = {"a": one_a, "b": one_b, "two": two}
    for check in (True, False):
        got = evaluate_expression("a - b", ds, check_counts=check).collect()
        assert [r["value"] for r in got] == [6.0]
    assert [r["value"] for r in evaluate_expression(
        "a in b", ds).collect()] == [10.0]
    with pytest.raises(DatasetExpressionError, match="row counts differ"):
        evaluate_expression("a - two", ds)
    with pytest.raises(DatasetExpressionError, match="changed row count"):
        evaluate_expression("two * two", ds)


def test_restore_expected_missing_after_mapping_adds_columns(spark):
    """VERDICT r1 item: mapped-then-restored shape — columns added during
    processing must survive restore (as NULLs on restored rows)."""
    from dsgrid_spark.operators.missing import (
        restore_expected_missing,
        split_expected_missing,
    )

    df = spark.createDataFrame(
        [("06037", "m1", 1.0), ("08031", "m1", None)],
        "geography string, metric string, value double",
    )
    data, missing = split_expected_missing(df)
    # processing adds a column (e.g. a supplemental dimension)
    processed = data.withColumn("state", F.lit("CA"))
    restored = restore_expected_missing(processed, missing)
    assert set(restored.columns) == {"geography", "metric", "value", "state"}
    rows = {r["geography"]: (r["state"], r["value"]) for r in restored.collect()}
    assert rows["06037"] == ("CA", 1.0)
    # restored expected-missing row: NULL value AND NULL added column
    assert rows["08031"] == (None, None)


def test_missing_pattern_miner(spark):
    """Spark-native re-expression of the Rust closed-pattern miner
    (reference rust/src/lib.rs:477-630): a full block collapses to one
    minimal pattern; a stray row stays a full-combination pattern."""
    from dsgrid_spark.datasets.diagnostics import (
        find_missing_patterns,
        missing_associations,
    )

    # missing = geography g1 x {m1,m2} x {h1,h2} (full block) + one stray
    rows = [("g1", m, h) for m in ("m1", "m2") for h in ("h1", "h2")]
    rows.append(("g2", "m1", "h1"))
    missing = spark.createDataFrame(
        rows, "geography string, metric string, hour string")

    got = find_missing_patterns(missing)
    as_tuples = {(p.columns, p.values, p.num_rows) for p in got}
    # two minimal closed patterns exactly explain all 5 rows: the g1
    # block, and (m1,h1) which covers BOTH geographies
    assert as_tuples == {
        (("geography",), ("g1",), 4),
        (("metric", "hour"), ("m1", "h1"), 2),
    }

    # diff builder: expected cross product minus observed
    expected = spark.createDataFrame(
        [(g, m) for g in ("g1", "g2") for m in ("m1", "m2")],
        "geography string, metric string")
    actual = spark.createDataFrame(
        [("g1", "m1"), ("g1", "m2"), ("g2", "m1")],
        "geography string, metric string")
    diff = missing_associations(expected, actual)
    assert [tuple(r) for r in diff.collect()] == [("g2", "m2")]
    # single-row diff: dictionaries come from the missing table itself,
    # so it collapses to the 1-column pattern (same as the Rust)
    assert str(find_missing_patterns(diff)[0]) == "geography = g2 (1 missing rows)"


def test_distinct_sketch_merge_equals_whole(spark):
    """HLL sketches are mergeable state: at this cardinality (sparse
    mode) estimating from per-shard sketches equals the single-pass
    estimate exactly, so stored sketches answer distinct counts over any
    shard subset without re-scanning raw data. (Past the sparse->dense
    promotion the equality relaxes to bounded consistency — see
    test_distinct_sketch_merge_bounded_at_high_cardinality.)"""
    from dsgrid_spark.operators.aggregation import (
        distinct_sketch,
        merge_distinct_sketches,
    )

    df = spark.range(20_000).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") % 4).alias("shard"),
        ((F.col("id") * 7919) % 5000).cast("string").alias("user"),
    )
    whole = {
        r["grp"]: r["n_distinct"]
        for r in merge_distinct_sketches(
            distinct_sketch(df, ["grp"], "user"), ["grp"]).collect()
    }
    per_shard = distinct_sketch(df, ["grp", "shard"], "user")
    merged = {
        r["grp"]: r["n_distinct"]
        for r in merge_distinct_sketches(per_shard, ["grp"]).collect()
    }
    assert merged == whole
    # sanity: estimates are near the true distinct counts (HLL error ~1%)
    truth = {r["grp"]: r["n"] for r in df.groupBy("grp").agg(
        F.countDistinct("user").alias("n")).collect()}
    for g, est in merged.items():
        assert abs(est - truth[g]) / truth[g] < 0.05


def test_distinct_sketch_merge_bounded_at_high_cardinality(spark):
    """Past sparse mode (cardinality >> 2^lg_k buckets) the union's mode
    promotion can shift the merged estimate off the single-pass estimate
    by a few counts; the contract is bounded consistency (<<1%), not
    bit-identity — the q10 driver oracle asserts the same bound."""
    from dsgrid_spark.operators.aggregation import (
        distinct_sketch,
        merge_distinct_sketches,
    )

    df = spark.range(200_000).select(
        F.lit("g").alias("grp"),
        (F.col("id") % 8).alias("shard"),
        F.col("id").cast("string").alias("user"),  # all distinct
    )
    whole = merge_distinct_sketches(
        distinct_sketch(df, ["grp"], "user"), ["grp"]).collect()[0]["n_distinct"]
    merged = merge_distinct_sketches(
        distinct_sketch(df, ["grp", "shard"], "user"),
        ["grp"]).collect()[0]["n_distinct"]
    assert abs(merged - whole) <= 0.01 * whole
    assert abs(whole - 200_000) / 200_000 < 0.05


def test_flag_and_count_outliers(spark):
    from dsgrid_spark.operators.reports import count_outliers, flag_outliers

    # group 'a': 10 values at 1.0 plus one wild point; group 'b' constant
    rows = ([("a", 1.0 + i * 0.001) for i in range(10)] + [("a", 100.0)]
            + [("b", 5.0)] * 3)
    df = spark.createDataFrame(rows, "grp string, value double")
    flagged = flag_outliers(df, ["grp"], "value", z=2.0)
    assert flagged.filter("is_outlier").count() == 1
    assert flagged.filter("is_outlier").collect()[0]["value"] == 100.0
    # constant group: sigma == 0 -> nothing flagged, no division issues
    counts = {r["grp"]: r["n_outliers"]
              for r in count_outliers(df, ["grp"], "value", z=2.0).collect()}
    assert counts == {"a": 1, "b": 0}
