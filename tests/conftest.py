"""Shared fixtures: a small dsgrid-shaped project (FIXTURES.md shapes).

Dimension records, weighted mappings, and a one-table stacked dataset
with a deterministic value function so tests can recompute expectations
independently (the reference's golden-check pattern, SURVEY §5).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import SparkSession

COUNTIES = [
    ("06037", "Los Angeles", "CA", "America/Los_Angeles"),
    ("06073", "San Diego", "CA", "America/Los_Angeles"),
    ("08031", "Denver", "CO", "America/Denver"),
    ("08001", "Adams", "CO", "America/Denver"),
]
METRICS = [
    ("electricity_cooling", "kWh"),
    ("electricity_heating", "kWh"),
    ("natural_gas_heating", "therm"),
]
SECTORS = ["com", "res"]
SUBSECTORS = [("com", "office"), ("com", "retail"), ("res", "sf"), ("res", "mf")]
SCENARIOS = ["reference", "high"]
MODEL_YEARS = ["2018", "2040"]
N_HOURS = 48  # small but multi-day
T0 = dt.datetime(2018, 1, 1, 0, 0, 0)


def value_fn(i_hour, county, metric, sector_sub, scenario, model_year):
    """Deterministic synthetic value, recomputable in plain Python."""
    base = (
        (i_hour % 24) + 1.0
        + 10.0 * (hash(county) % 7)
        + 3.0 * (hash(metric) % 5)
        + 2.0 * (hash(sector_sub) % 3)
    )
    mult = 1.1 if scenario == "high" else 1.0
    growth = 1.5 if model_year == "2040" else 1.0
    return round(base * mult * growth, 6)


def plan_jobs(spark, build) -> int:
    """Spark jobs launched while ``build()`` runs."""
    import uuid

    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan construction")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from dsgrid_spark.session import get_spark

    s = get_spark("dsgrid-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def geography_records(spark):
    return spark.createDataFrame(
        [(c[0], c[1], c[3]) for c in COUNTIES], "id string, name string, time_zone string"
    )


@pytest.fixture(scope="session")
def metric_records(spark):
    return spark.createDataFrame(
        [(m, m.replace("_", " "), u) for m, u in METRICS],
        "id string, name string, unit string",
    )


@pytest.fixture(scope="session")
def county_to_state(spark):
    rows = [(c[0], c[2], 1.0) for c in COUNTIES]
    return spark.createDataFrame(rows, "from_id string, to_id string, from_fraction double")


@pytest.fixture(scope="session")
def state_to_county(spark):
    """ONE_TO_MANY_DISAGGREGATION; fractions sum to 1.0 per state."""
    rows = [("CA", "06037", 0.7), ("CA", "06073", 0.3),
            ("CO", "08031", 0.6), ("CO", "08001", 0.4)]
    return spark.createDataFrame(rows, "from_id string, to_id string, from_fraction double")


@pytest.fixture(scope="session")
def subsector_subset(spark):
    """Mapping with NULL to_id rows (dropped records)."""
    rows = [("office", "office", 1.0), ("retail", None, 1.0),
            ("sf", "sf", 1.0), ("mf", None, 1.0)]
    return spark.createDataFrame(rows, "from_id string, to_id string, from_fraction double")


def _dataset_rows():
    rows = []
    for i in range(N_HOURS):
        ts = T0 + dt.timedelta(hours=i)
        for county, _, _, _ in COUNTIES:
            for metric, _ in METRICS:
                for sector, sub in SUBSECTORS:
                    for scenario in SCENARIOS:
                        for my in MODEL_YEARS:
                            rows.append(
                                (ts, county, metric, sector, sub, my, "2012",
                                 scenario,
                                 value_fn(i, county, metric, sub, scenario, my))
                            )
    return rows


DATASET_SCHEMA = (
    "timestamp timestamp, geography string, metric string, sector string, "
    "subsector string, model_year string, weather_year string, "
    "scenario string, value double"
)


@pytest.fixture(scope="session")
def load_onetable(spark):
    return spark.createDataFrame(_dataset_rows(), DATASET_SCHEMA).cache()


@pytest.fixture(scope="session")
def expected_rows():
    """The same rows as plain Python tuples for independent recomputation."""
    return _dataset_rows()
