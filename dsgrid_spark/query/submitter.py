"""Query lifecycle orchestration.

Reference dsgrid/query/query_submitter.py (lifecycle §3.1 of SURVEY.md).
One long-lived SparkSession end-to-end; intermediate datasets stay as
DataFrame lineage (Catalyst sees the WHOLE query and can push filters
through the mapping joins); parquet only for the content-hash cache.

Mapping fractions are collapsed at the first consumer that needs one row
per dimension key, not unconditionally after mapping. When the mapped
rows reach a sum of ``value`` through nothing but dimension filters and a
``|`` union, each row's fraction folds into its value and that sum is the
query's only aggregation (:func:`folds_into_sum`); everything else gets
the collapse-first aggregation of :func:`apply_fraction`.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, functions as F

from dsgrid_spark.common import VALUE_COLUMN
from dsgrid_spark.operators.expressions import (
    default_expression, evaluate_expression, is_union,
)
from dsgrid_spark.operators.filters import (
    NamedDimensionFilter, RawExpressionFilter, SupplementalMappingFilter,
)
from dsgrid_spark.operators.growth import (
    apply_annual_multiplier,
    apply_exponential_growth,
)
from dsgrid_spark.operators.mapping import (
    apply_fraction, fold_fraction, map_stacked_dimension,
)
from dsgrid_spark.operators.reshape import pivot
from dsgrid_spark.datasets.handlers import OneTableHandler, TwoTableHandler
from dsgrid_spark.query.context import QueryContext, ResultCache, content_hash
from dsgrid_spark.query.models import (
    DatasetModel,
    ProjectQueryModel,
    ProjectionDatasetModel,
)
from dsgrid_spark.sources.catalog import Catalog
from dsgrid_spark.sources.writers import write_parquet


def folds_into_sum(aggregations, filters=(), expression: str | None = None
                   ) -> bool:
    """Whether mapped rows may fold their fractions into a later sum.

    True when the first aggregation sums ``value`` and only ``filters``
    on dimension columns and the combine ``expression`` (None: each
    dataset alone) run before it, and that expression only stacks
    datasets with ``|``. Sum is linear, so ``sum(value * fraction)`` over
    the uncollapsed rows equals the sum over :func:`apply_fraction`'s
    collapsed ones (up to the order of the floating-point additions),
    with one shuffle instead of two. Anything else needs
    collapsed rows first: arithmetic and ``in`` join on 1:1 keys, and
    value filters, SQL filters, non-sum functions and results without an
    aggregation see values per row.
    """
    if not aggregations:
        return False
    first = aggregations[0]
    return (first.aggregation_function == "sum"
            and first.value_column == VALUE_COLUMN
            and all(isinstance(f, NamedDimensionFilter)
                    or (not isinstance(f, RawExpressionFilter)
                        and f.column != VALUE_COLUMN) for f in filters)
            and (expression is None or is_union(expression)))


class QuerySubmitter:
    def __init__(self, catalog: Catalog, output_dir: str | Path | None = None,
                 project: "ProjectConfig | None" = None):
        self.catalog = catalog
        self.output_dir = Path(output_dir) if output_dir else None
        self.cache = ResultCache(self.output_dir / "cache") if self.output_dir else None
        #: optional ProjectConfig enabling subset/supplemental dimension
        #: resolution by name (reference dsgrid/project.py:205-250)
        self.project = project

    # ---- per-dataset map phase (lifecycle step 5) --------------------
    def _load_stacked(self, dataset_id: str) -> DataFrame:
        df, config = self.catalog.dataset(dataset_id)
        lookup = self.catalog.dataset_lookup(dataset_id)
        if lookup is not None:
            return TwoTableHandler(df, lookup, config).to_stacked()
        return OneTableHandler(df, config).df

    def _map_dataset(self, model: DatasetModel, fold: bool = False) -> DataFrame:
        """Map one dataset onto the project dimensions. ``fold``: the
        caller's first consumer sums ``value`` (:func:`folds_into_sum`),
        so fractions fold per row; otherwise they are collapsed here."""
        # per-dataset content-hash cache (reference project.py:418-451):
        # re-used across queries that map the same dataset the same way
        key = None
        if self.cache:
            # hash the dataset version AND every used mapping's version —
            # a re-registered mapping must invalidate this cache
            # (reference query_submitter.py:133-171; SURVEY §7.4 risk #6)
            key = content_hash(
                "dataset", model.model_dump(),
                self.catalog.datasets[model.dataset_id].version,
                {m.mapping: self.catalog.mapping_version(m.mapping)
                 for m in model.mappings},
            )
            hit = self.cache.get(key)
            if hit:
                return self.catalog.spark.read.parquet(str(hit))
        df = self._load_stacked(model.dataset_id)
        # prefilters: apply BEFORE mapping so Catalyst pushes them to the scan
        for flt in model.filters:
            df = self._apply_filter(df, flt)
        for spec in model.mappings:
            records = self.catalog.mapping(spec.mapping)
            df = map_stacked_dimension(
                df, records, spec.dimension, salt_partitions=spec.salt_partitions
            )
        df = fold_fraction(df) if fold else apply_fraction(df)
        if self.cache and key is not None and model.mappings:
            from dsgrid_spark.session import scoped_conf

            out = self.cache.path_for(key)
            with scoped_conf(self.catalog.spark, model.spark_conf):
                write_parquet(df, out)
            df = self.catalog.spark.read.parquet(str(out))
        return df

    def _map_projection(self, model: ProjectionDatasetModel) -> DataFrame:
        initial = self._map_dataset(
            DatasetModel(dataset_id=model.initial_value_dataset,
                         mappings=model.mappings, filters=model.filters)
        )
        rates = self._map_dataset(
            DatasetModel(dataset_id=model.growth_rate_dataset,
                         mappings=model.mappings, filters=model.filters)
        )
        if model.construction_method == "exponential_growth":
            if model.base_year is None:
                raise ValueError("exponential_growth requires base_year")
            return apply_exponential_growth(initial, rates, model.base_year)
        return apply_annual_multiplier(initial, rates)

    # ---- combine + result phases (lifecycle steps 6-8) ----------------
    def submit(self, query: ProjectQueryModel) -> DataFrame:
        spark = self.catalog.spark
        key = content_hash(
            query.model_dump(), self.catalog.versions(),
            self.project.model_dump() if self.project else None,
        )
        if self.cache:
            hit = self.cache.get(key)
            if hit:
                return spark.read.parquet(str(hit))

        # the per-dataset cache stores collapsed rows for any later query;
        # with aggregate_each_dataset the sum runs before the combine
        fold = self.cache is None and folds_into_sum(
            query.result.aggregations, query.result.filters,
            None if query.aggregate_each_dataset else query.expression)
        mapped: dict[str, DataFrame] = {}
        for ds in query.source_datasets:
            if isinstance(ds, ProjectionDatasetModel):
                mapped[ds.dataset_id] = self._map_projection(ds)
            else:
                mapped[ds.dataset_id] = self._map_dataset(ds, fold)

        # optional per-dataset filter+aggregation (reference
        # aggregate_each_dataset, query_submitter.py:508-516); the result
        # phase then SKIPS filters/aggregations (reference :320-323) —
        # re-running them post-union would be wrong for non-decomposable
        # functions (mean of means) and would merge same-key rows across
        # datasets that the reference keeps separate
        if query.aggregate_each_dataset:
            def _pre(df: DataFrame) -> DataFrame:
                for flt in query.result.filters:
                    df = self._apply_filter(df, flt)
                if query.result.aggregations:
                    df = self._apply_aggregations_with_supplemental(
                        df, query.result.aggregations)
                return df

            mapped = {k: _pre(v) for k, v in mapped.items()}

        # align columns (reference query_submitter.py:527-542)
        col_order = sorted(next(iter(mapped.values())).columns)
        mapped = {k: v.select(*col_order) for k, v in mapped.items()}

        expr = query.expression or default_expression(list(mapped))
        df = evaluate_expression(expr, mapped)

        df = self._result_phase(
            df, query.result,
            skip_filters_and_aggregations=query.aggregate_each_dataset,
        )

        if self.cache and self.output_dir:
            out = self.cache.path_for(key)
            write_parquet(df, out)
            ctx = QueryContext(value_column=VALUE_COLUMN)
            (self.output_dir / f"{query.name}.metadata.json").write_text(
                json.dumps({"query": query.model_dump(), **ctx.metadata()},
                           indent=2, default=str)
            )
            return spark.read.parquet(str(out))
        return df

    def _apply_filter(self, df: DataFrame, flt) -> DataFrame:
        if isinstance(flt, NamedDimensionFilter):
            return self._apply_named_filter(df, flt)
        if isinstance(flt, SupplementalMappingFilter):
            if not flt.mapping:
                raise ValueError(
                    "supplemental filter needs a registered mapping name"
                )
            return flt.apply_with_mapping(df, self.catalog.mapping(flt.mapping))
        return flt.apply(df)

    def _apply_named_filter(self, df: DataFrame, flt) -> DataFrame:
        """Resolve a subset/supplemental dimension name through the
        project config (reference dsgrid/project.py:205-250)."""
        if self.project is None:
            raise ValueError(
                "NamedDimensionFilter requires a ProjectConfig "
                "(QuerySubmitter(project=...))"
            )
        sub = self.project.subset(flt.dimension_name)
        if sub is not None:
            ids = sub.record_ids
            if flt.record_ids:
                ids = [i for i in ids if i in set(flt.record_ids)]
            return df.filter(F.col(sub.dimension_type).isin(ids))
        supp = self.project.supplemental(flt.dimension_name)
        if supp is not None:
            inner = SupplementalMappingFilter(
                column=supp.dimension_type, supplemental_ids=flt.record_ids
            )
            return inner.apply_with_mapping(df, self.catalog.mapping(supp.mapping))
        raise ValueError(
            f"{flt.dimension_name!r} is not a subset or supplemental "
            f"dimension of project {self.project.project_id!r}"
        )

    def _apply_aggregations_with_supplemental(self, df: DataFrame,
                                              aggregations) -> DataFrame:
        """Run chained aggregations, resolving each stage's supplemental
        dimension names immediately before THAT stage (reference
        project_config.py supplemental resolution). Resolving everything
        up front would break multi-stage lists where stage 1 groups by
        the base column that stage 2's supplemental mapping renames away.
        """
        for agg in aggregations:
            df = self._resolve_supplemental_columns(df, agg)
            df = agg.apply(df)
        return df

    def _resolve_supplemental_columns(self, df: DataFrame, agg) -> DataFrame:
        """Map the base column through the project's base→supplemental
        mapping for ONE aggregation stage. For sum aggregations the
        accumulated fraction folds into the value column without an extra
        aggregation — the group-by that follows collapses it. For any
        other function (avg/max/... over fractional weights would be
        wrong) the mapping is collapsed explicitly with apply_fraction —
        a weighted-sum re-expression onto the supplemental dimension at
        the current grain — before the stage's function runs."""
        if self.project is None:
            return df
        fold = folds_into_sum([agg])
        for colm in agg.group_by_columns:
            supp = self.project.supplemental(colm.dimension_name)
            if (supp is None or colm.dimension_name in df.columns
                    or supp.dimension_type not in df.columns):
                continue
            records = self.catalog.mapping(supp.mapping)
            df = map_stacked_dimension(df, records, supp.dimension_type)
            df = df.withColumnRenamed(supp.dimension_type, supp.name)
            df = fold_fraction(df) if fold else apply_fraction(df)
        return df

    # ---- composite / derived datasets (lifecycle §3.3) ----------------
    def create_composite_dataset(self, query: ProjectQueryModel,
                                 dataset_id: str | None = None) -> Path:
        """Run lifecycle A and save the combined table + metadata under
        ``composite_datasets/<id>`` (reference query_submitter.py:730-772).
        The saved parquet can be re-queried (result phase only) or
        re-registered as a derived dataset."""
        if not self.output_dir:
            raise ValueError("composite datasets need an output_dir")
        dataset_id = dataset_id or query.name
        df = self.submit(query)
        out = self.output_dir / "composite_datasets" / dataset_id
        write_parquet(df, out / "table.parquet")
        (out / "metadata.json").write_text(json.dumps(
            {"dataset_id": dataset_id, "query": query.model_dump(),
             "columns": df.columns}, indent=2, default=str))
        return out

    def submit_composite(self, dataset_id: str, result) -> DataFrame:
        """Re-read a composite dataset and run only the result phase
        (reference query_submitter.py:774-811)."""
        if not self.output_dir:
            raise ValueError("composite datasets need an output_dir")
        out = self.output_dir / "composite_datasets" / dataset_id
        if not (out / "metadata.json").exists():
            raise FileNotFoundError(f"composite dataset {dataset_id!r} not found")
        df = self.catalog.spark.read.parquet(str(out / "table.parquet"))
        return self._result_phase(df, result)

    def submit_dataset_query(self, dataset_id: str, from_dimension: str,
                             to_dimension: str,
                             dimension_column: str | None = None,
                             result=None) -> DataFrame:
        """Entry point B (reference query_submitter.py:837-989): map one
        dataset to a target dimension, auto-resolving the mapping chain
        through the registry mapping graph (networkx shortest-hop)."""
        path = self.catalog.mapping_path(from_dimension, to_dimension)
        column = dimension_column or from_dimension
        df = self._load_stacked(dataset_id)
        for name in path:
            df = map_stacked_dimension(df, self.catalog.mapping(name), column)
        fold = result is not None and folds_into_sum(result.aggregations,
                                                     result.filters)
        df = fold_fraction(df) if fold else apply_fraction(df)
        if result is not None:
            df = self._result_phase(df, result)
        return df

    def _result_phase(self, df: DataFrame, result,
                      skip_filters_and_aggregations: bool = False) -> DataFrame:
        """Shared result phase: filters → aggregations → names → sort →
        pivot (reference query_submitter.py:313-333, 558-575). When
        ``aggregate_each_dataset`` already ran filters/aggregations per
        dataset, both are skipped here (reference :320-323)."""
        if not skip_filters_and_aggregations:
            for flt in result.filters:
                df = self._apply_filter(df, flt)
            if result.aggregations:
                df = self._apply_aggregations_with_supplemental(
                    df, result.aggregations)
        for report in getattr(result, "reports", []):
            from dsgrid_spark.operators.reports import peak_load

            df = peak_load(df, report.group_by_columns,
                           value_column=report.value_column,
                           tie_breakers=report.tie_breakers or None)
        if result.replace_ids_with_names:
            df = self._replace_ids_with_names(df)
        if result.sort_columns:
            df = df.sort(*result.sort_columns)
        if result.output_format == "pivoted" and result.pivoted:
            df = pivot(df, result.pivoted.pivoted_dimension,
                       pivot_values=result.pivoted.pivot_values)
        if result.time_zone:
            from pyspark.sql.types import TimestampType

            from dsgrid_spark.timedim.conversion import (
                convert_time_zone, convert_time_zone_by_geography,
            )

            ts_cols = [f.name for f in df.schema.fields
                       if isinstance(f.dataType, TimestampType)]
            if result.time_zone == "geography":
                records = self._geography_records()
                for c in ts_cols:
                    df = convert_time_zone_by_geography(
                        df, c, records, "geography").drop("time_zone")
            else:
                for c in ts_cols:
                    df = convert_time_zone(df, c, result.time_zone)
        if result.column_names:
            df = df.withColumnsRenamed(result.column_names)
        return df

    def _geography_records(self) -> DataFrame:
        """Geography dimension records (id, time_zone) for
        time_zone='geography' (reference aligns rows through each
        geography's zone from the project's geography dimension)."""
        name = None
        if self.project is not None:
            name = self.project.base_dimensions.get("geography")
        for candidate in filter(None, [name, "geography"]):
            if candidate in self.catalog.dimensions:
                return self.catalog.dimension(candidate)
        raise ValueError(
            "time_zone='geography' needs a registered geography dimension "
            "with (id, time_zone) records"
        )

    def register_derived_dataset(self, dataset_id: str) -> None:
        """Register a saved composite dataset back into the catalog as a
        queryable dataset (reference derived_dataset.py:35-110)."""
        out = self.output_dir / "composite_datasets" / dataset_id
        if not (out / "metadata.json").exists():
            raise FileNotFoundError(f"composite dataset {dataset_id!r} not found")
        self.catalog.register_dataset(dataset_id, out / "table.parquet")

    def _replace_ids_with_names(self, df: DataFrame) -> DataFrame:
        """Swap each dimension id column for its record name via broadcast
        joins (reference table_format_handler_base.py:163-179)."""
        for dim_name, source in self.catalog.dimensions.items():
            if dim_name not in df.columns:
                continue
            recs = self.catalog.dimension(dim_name).select(
                F.col("id").alias("__id"), F.col("name").alias("__name")
            )
            df = (
                df.join(F.broadcast(recs), df[dim_name] == F.col("__id"), "left")
                .withColumn(dim_name, F.coalesce(F.col("__name"), F.col(dim_name)))
                .drop("__id", "__name")
            )
        return df
