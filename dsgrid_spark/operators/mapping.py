"""Dimension-mapping operators — the workhorse of every dsgrid query.

Semantics from the reference (dsgrid/utils/dataset.py:59-80 map join;
dsgrid/dataset/dataset_schema_handler_base.py:809-832 fraction apply), but
expressed Spark-first:

- mapping tables are tiny → we hint ``F.broadcast`` so the map join is a
  broadcast hash join (no shuffle of the fact table);
- fraction accumulation is a plain column product, applied lazily and
  collapsed once after all dimensions are mapped, instead of one agg per
  mapping step: by ONE hash aggregation (:func:`apply_fraction`), or, when
  the first consumer of the mapped rows is a sum of ``value``, by folding
  ``value *= fraction`` per row so that sum's shuffle is the only one
  (:func:`fold_fraction`);
- skewed disaggregation fan-out is left to AQE skew-join handling, with an
  optional salting escape hatch (``salt_partitions``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dsgrid_spark.common import (
    FRACTION_COLUMN,
    FROM_FRACTION_COLUMN,
    FROM_ID_COLUMN,
    SCALING_FACTOR_COLUMN,
    TO_ID_COLUMN,
    VALUE_COLUMN,
)
from dsgrid_spark.dimensions import DimensionMappingType


def is_noop_mapping(records: DataFrame) -> bool:
    """True if the mapping renames nothing and scales nothing.

    Reference dsgrid/utils/dataset.py:315-323: skip identity mappings.
    Driver-side check over a (small) mapping table.
    """
    return (
        records.filter(
            (F.col(FROM_ID_COLUMN) != F.col(TO_ID_COLUMN))
            | F.col(TO_ID_COLUMN).isNull()
            | (F.col(FROM_FRACTION_COLUMN) != 1.0)
        ).limit(1).count()
        > 0
    ) is False


def check_mapping_fractions(records: DataFrame, mapping_type: DimensionMappingType,
                            tolerance: float = 1e-6) -> None:
    """Validate fraction-sum invariants so results can't silently double-count.

    Reference archetype flags (dimension_mapping_base.py:43-130):
    - DUPLICATION / *_EXPLICIT_MULTIPLIERS: no check;
    - *_ASSIGNMENT: fractions sum to 1.0 grouped by to_id;
    - all other types (ONE_TO_ONE, aggregations, reassignment,
      disaggregations): fractions sum to 1.0 grouped by from_id —
      fractional weights like 0.5/0.5 are valid for
      MANY_TO_MANY_AGGREGATION, not just disaggregations.
    """
    mt = mapping_type
    if "explicit_multipliers" in mt.value or mt == DimensionMappingType.DUPLICATION:
        return
    group_col = TO_ID_COLUMN if "assignment" in mt.value else FROM_ID_COLUMN
    bad = (
        records.filter(F.col(TO_ID_COLUMN).isNotNull())
        .groupBy(group_col)
        .agg(F.sum(FROM_FRACTION_COLUMN).alias("_s"))
        .filter(F.abs(F.col("_s") - 1.0) > tolerance)
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError(
            f"{mt.value}: from_fraction must sum to 1.0 per {group_col}"
        )


def map_stacked_dimension(
    df: DataFrame,
    records: DataFrame,
    column: str,
    salt_partitions: int | None = None,
) -> DataFrame:
    """Map one stacked dimension column through a weighted mapping table.

    Inner-join ``df[column]`` to ``records.from_id`` (NULL ``to_id`` rows
    drop records — reference dsgrid/utils/dataset.py:70), replace the
    column with ``to_id``, and accumulate ``fraction *= from_fraction``.

    The fact table is NOT re-aggregated here; call :func:`apply_fraction`
    (or :func:`fold_fraction` ahead of a sum) once after all dimensions
    are mapped. Mapping tables are broadcast —
    at 100 TB the fact table never shuffles for a map join.

    ``salt_partitions``: escape hatch for extreme ONE_TO_MANY fan-out skew
    (reference dsgrid/utils/dataset.py:695-758) when the INPUT layout
    clusters the hot from_id into few partitions (e.g. data written
    partitioned/sorted by that dimension) — those tasks would compute the
    whole fan-out serially. The salt round-robins the *input* rows across
    ``salt_partitions`` BEFORE the broadcast join, so the shuffle moves
    pre-fan-out rows (cheap) and the fan-out itself lands balanced.
    Salting the fanned-out *output* instead is an anti-pattern — it
    shuffles fan× the data and defeats the map-side partial aggregation
    that follows (measured 18x slower at fan=1000; tools/skew_rehearsal.py).
    AQE handles the common case, so leave None unless profiling says
    otherwise.
    """
    recs = records.filter(F.col(TO_ID_COLUMN).isNotNull()).select(
        F.col(FROM_ID_COLUMN).alias("__from_id"),
        F.col(TO_ID_COLUMN).alias("__to_id"),
        F.col(FROM_FRACTION_COLUMN).cast("double").alias("__from_fraction"),
    )
    if salt_partitions:
        # round-robin the input BEFORE the fan-out (see docstring)
        df = df.repartition(salt_partitions)
    out = df.join(F.broadcast(recs), df[column] == recs["__from_id"], "inner")
    out = out.drop(column, "__from_id").withColumnRenamed("__to_id", column)
    if FRACTION_COLUMN in df.columns:
        out = out.withColumn(
            FRACTION_COLUMN, F.col(FRACTION_COLUMN) * F.col("__from_fraction")
        )
    else:
        out = out.withColumn(FRACTION_COLUMN, F.col("__from_fraction"))
    out = out.drop("__from_fraction")
    return out


def apply_fraction(df: DataFrame, value_columns: list[str] | None = None) -> DataFrame:
    """Collapse accumulated mapping fractions with one hash aggregation.

    Group by every non-value column and sum ``value * fraction``
    (reference dataset_schema_handler_base.py:809-832), leaving one row
    per dimension key — what arithmetic, projections, non-sum functions
    and value filters need. Spark performs map-side partial aggregation
    automatically, so the shuffle carries only partial sums. When the
    next step is itself a sum of ``value``, :func:`fold_fraction` does
    the same work without this aggregation.
    """
    if FRACTION_COLUMN not in df.columns:
        return df
    value_columns = value_columns or [VALUE_COLUMN]
    group_cols = [c for c in df.columns if c not in value_columns and c != FRACTION_COLUMN]
    aggs = [
        F.sum(F.col(v) * F.col(FRACTION_COLUMN)).alias(v) for v in value_columns
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def fold_fraction(df: DataFrame) -> DataFrame:
    """``value *= fraction`` per row, without aggregating.

    Only for rows whose next collapsing step sums ``value`` over
    dimension columns: sum is linear, so that sum yields what
    :func:`apply_fraction` followed by it would (up to the order of the
    floating-point additions), with one shuffle instead of two. The rows
    stay many per dimension key until then.
    """
    if FRACTION_COLUMN not in df.columns:
        return df
    return df.withColumn(
        VALUE_COLUMN, F.col(VALUE_COLUMN) * F.col(FRACTION_COLUMN)
    ).drop(FRACTION_COLUMN)


def apply_scaling_factor(df: DataFrame, value_column: str = VALUE_COLUMN) -> DataFrame:
    """value *= coalesce(scaling_factor, 1.0); drop the factor column.

    Reference dsgrid/utils/dataset.py:143-195 (NULL factor means 1.0,
    handled there with a when/otherwise ladder).
    """
    if SCALING_FACTOR_COLUMN not in df.columns:
        return df
    return df.withColumn(
        value_column,
        F.col(value_column)
        * F.coalesce(F.col(SCALING_FACTOR_COLUMN), F.lit(1.0)),
    ).drop(SCALING_FACTOR_COLUMN)


def add_column_from_records(
    df: DataFrame,
    records: DataFrame,
    df_column: str,
    records_key: str = "id",
    records_value: str = "time_zone",
    new_column: str | None = None,
) -> DataFrame:
    """Attach one attribute (e.g. geography ``time_zone``) via broadcast join.

    Reference dsgrid/utils/dataset.py:83-120 add_time_zone.
    """
    new_column = new_column or records_value
    recs = records.select(
        F.col(records_key).alias("__rk"), F.col(records_value).alias(new_column)
    )
    return (
        df.join(F.broadcast(recs), df[df_column] == F.col("__rk"), "inner")
        .drop("__rk")
    )


def map_and_reduce(
    df: DataFrame,
    mappings: dict[str, DataFrame],
    value_columns: list[str] | None = None,
) -> DataFrame:
    """Map several dimensions then collapse fractions once.

    The reference runs join → groupBy-agg per dimension
    (dataset_schema_handler_base.py:747-832); chaining all broadcast map
    joins first and aggregating once does strictly less shuffling — at
    scale this is the difference between N shuffles and 1.
    """
    for column, records in mappings.items():
        df = map_stacked_dimension(df, records, column)
    return apply_fraction(df, value_columns)
