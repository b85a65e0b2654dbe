"""Physical-plan regression tests: scale properties as assertions.

Correctness tests say the operators compute the right rows; these say
Catalyst produced the plan shape that survives a 100 TB scale-up —
broadcast joins for dimension/mapping tables (the fact table must never
shuffle for mapping), predicate/projection pushdown into parquet scans,
and WindowGroupLimit for per-group argmax.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dsgrid_spark.operators.mapping import apply_fraction, map_stacked_dimension
from dsgrid_spark.operators.reports import peak_load


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )


@pytest.fixture()
def fact_parquet(spark, tmp_path):
    path = tmp_path / "fact.parquet"
    spark.createDataFrame(
        [(f"c{i % 7}", f"m{i % 3}", float(i)) for i in range(1000)],
        "geography string, metric string, value double",
    ).write.parquet(str(path))
    return spark.read.parquet(str(path))


def test_mapping_join_broadcasts(spark, fact_parquet):
    records = spark.createDataFrame(
        [(f"c{i}", "CA", 1.0) for i in range(7)],
        "from_id string, to_id string, from_fraction double",
    )
    out = apply_fraction(map_stacked_dimension(fact_parquet, records, "geography"))
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    # the fact side must not be exchanged before the join (only the
    # broadcast side and the final aggregation may exchange)
    assert "SortMergeJoin" not in plan


def test_filter_and_projection_pushed_to_scan(spark, fact_parquet):
    out = fact_parquet.filter(F.col("value") > 10).select("geography", "value")
    plan = _plan(out)
    assert "PushedFilters: [IsNotNull(value), GreaterThan(value,10.0)" in plan
    # column pruning: metric must not be read
    assert "metric" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_peak_load_uses_window_group_limit(spark, fact_parquet):
    out = peak_load(fact_parquet, ["geography"], value_column="value")
    plan = _plan(out)
    # Spark 3.5+/4.x rewrites rank<=k filters into WindowGroupLimit,
    # which prunes per-partition before the shuffle
    assert "WindowGroupLimit" in plan


def test_whole_stage_codegen_covers_scalar_path(spark, fact_parquet):
    out = fact_parquet.withColumn("v2", F.col("value") * 2 + 1).filter(
        F.col("v2") > 5
    )
    # '*(n)' prefixes mark operators fused into a WholeStageCodegen stage
    assert "*(1)" in out._jdf.queryExecution().executedPlan().toString()


def test_supplemental_resolution_broadcasts(spark, fact_parquet):
    """Project-config supplemental aggregation must map the base column
    through a BROADCAST join — the fact table never shuffles for it."""
    from dsgrid_spark.operators.aggregation import AggregationModel, ColumnModel
    from dsgrid_spark.query.models import DatasetModel, ProjectQueryModel, ResultModel
    from dsgrid_spark.query.project import ProjectConfig, SupplementalDimensionModel
    from dsgrid_spark.query.submitter import QuerySubmitter
    from dsgrid_spark.sources.catalog import Catalog

    cat = Catalog(spark)
    cat.register_dataset("f", fact_parquet)
    cat.register_mapping("g2s", spark.createDataFrame(
        [(f"c{i}", "CA" if i < 4 else "CO", 1.0) for i in range(7)],
        "from_id string, to_id string, from_fraction double"))
    project = ProjectConfig(
        project_id="p",
        supplemental_dimensions=[SupplementalDimensionModel(
            name="state", dimension_type="geography", mapping="g2s")])
    out = QuerySubmitter(cat, project=project).submit(ProjectQueryModel(
        name="q", source_datasets=[DatasetModel(dataset_id="f")],
        result=ResultModel(aggregations=[AggregationModel(
            group_by_columns=[ColumnModel(dimension_name="state")],
            aggregation_function="sum")])))
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_registry_catalog_scan_pushdown(spark, tmp_path):
    """Filters on a registry-loaded dataset reach the parquet scan —
    the registry's lazy path sources keep Catalyst's pushdown intact."""
    from dsgrid_spark.operators.filters import ExpressionFilter
    from dsgrid_spark.query.models import DatasetModel, ProjectQueryModel
    from dsgrid_spark.query.submitter import QuerySubmitter
    from dsgrid_spark.registry.store import RegistryStore

    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dataset("f", spark.createDataFrame(
        [(f"c{i % 7}", float(i)) for i in range(1000)],
        "geography string, value double"))
    out = QuerySubmitter(store.load_catalog()).submit(ProjectQueryModel(
        name="q", source_datasets=[DatasetModel(
            dataset_id="f",
            filters=[ExpressionFilter(column="geography", operator="==",
                                      value="c3")])]))
    plan = _plan(out)
    assert "PushedFilters: [IsNotNull(geography), EqualTo(geography,c3)" in plan


def test_external_tz_stays_in_codegen(spark, fact_parquet):
    """Per-row tz localization is one codegen'd expression after the
    broadcast tz attach — no UDF, no extra shuffle."""
    from dsgrid_spark.timedim.external import localize_external_tz

    df = fact_parquet.withColumn("timestamp", F.current_timestamp())
    geo = spark.createDataFrame(
        [(f"c{i}", "Etc/GMT+5") for i in range(7)], "id string, time_zone string")
    out = localize_external_tz(df, "timestamp", geography_records=geo)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    """write_parquet(partition_by=...) + a filter on the partition column
    must prune at the source: the scan's PartitionFilters carry the
    predicate and non-matching directories are never listed into the
    plan. This is the scenario/model_year pruning path at 100 TB."""
    from dsgrid_spark.sources.writers import write_parquet

    path = tmp_path / "part.parquet"
    df = spark.createDataFrame(
        [(f"s{i % 4}", f"g{i % 7}", float(i)) for i in range(1000)],
        "scenario string, geography string, value double",
    )
    write_parquet(df, path, partition_by=["scenario"])
    scan = spark.read.parquet(str(path)).filter(F.col("scenario") == "s1")
    plan = _plan(scan)
    assert "PartitionFilters" in plan
    # the partition predicate must be IN PartitionFilters, not a
    # post-scan Filter on data columns
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "scenario" in pf_line
    assert scan.count() == 250


def test_stratified_sample_broadcasts_thresholds(spark):
    """The per-stratum threshold table must broadcast — the corpus never
    shuffles for sampling."""
    from dsgrid_spark.pipeline.sampling import stratified_sample

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
    )
    out = stratified_sample(df, "lang", {"0": 0.5, "1": 0.2}, "doc_id")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_random_projection_is_shuffle_free_codegen(spark, fact_parquet):
    """The JL projection must stay a per-row column expression: no
    shuffle Exchange, no Python eval — the 1024→64 cut at 100 TB costs
    exactly one codegen'd scan. The sign matrix is one broadcast row,
    so its BroadcastExchange is the only exchange."""
    from dsgrid_spark.pipeline.similarity import random_projection

    df = spark.range(100).select(
        "id", F.array(*[(F.col("id") + i).cast("double")
                        for i in range(8)]).alias("embedding"),
    )
    out = random_projection(df, dim=8, out_dim=4)
    plan = _plan(out)
    assert "BroadcastExchange" in plan
    assert "Exchange" not in plan.replace("BroadcastExchange", "")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_filter_funnel_stats_single_aggregation(spark):
    """Funnel attribution must be one scan + one partial-agg shuffle of
    rule-cardinality rows — k rules may not multiply into k scans."""
    from dsgrid_spark.pipeline.text import filter_funnel

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 100).alias("n"),
    )
    _, stats = filter_funnel(df, [
        ("a", F.col("n") >= 10),
        ("b", F.col("n") < 90),
        ("c", F.col("doc_id") % 2 == 0),
    ])
    plan = _plan(stats)
    # exactly one shuffle (the rule-cardinality groupBy); the Exchange
    # node renders once in the tree and once in the detail section
    assert plan.count("Exchange") <= 2
    assert "partial_count" in plan              # map-side combine ran
    assert "HashAggregate" in plan


def test_scale_up_replica_zero_identity(spark, tmp_path):
    """tools/scale_up.py contract: replica 0 is the source bit-for-bit,
    keys offset per replica, document tokens replica-prefixed. The sf1
    rehearsal artifacts (SCALE_SF1.md) rest on these invariants."""
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from scale_up import scale_table

    src = spark.createDataFrame(
        [(1, "alpha beta gamma", 16), (2, "delta epsilon", 13)],
        "doc_id long, text string, n_chars long",
    )
    out = scale_table(src, "documents", replicas=3)
    rows = {(r["doc_id"], r["text"]) for r in out.collect()}
    assert out.count() == 6
    # replica 0 identity
    assert (1, "alpha beta gamma") in rows and (2, "delta epsilon") in rows
    # replica 2: keys offset by 2*10000, every token prefixed
    assert (20001, "r2alpha r2beta r2gamma") in rows
    # n_chars recomputed to match the transformed text
    n = {r["doc_id"]: r["n_chars"] for r in out.collect()}
    assert n[1] == 16 and n[20001] == len("r2alpha r2beta r2gamma")
    # replicas share no tokens -> cross-replica jaccard structurally 0
    toks0 = set("alpha beta gamma delta epsilon".split())
    toks2 = {t for d, txt in rows if d > 20000 for t in txt.split()}
    assert not (toks0 & toks2)


def test_skew_rehearsal_tool_runs_small(spark):
    """tools/skew_rehearsal.py must stay runnable (SKEW.md provenance).
    Tiny row count — checks wiring, not timings."""
    import subprocess
    import sys

    import os

    tool = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "skew_rehearsal.py")
    r = subprocess.run(
        [sys.executable, tool, "--rows", "20000"],
        capture_output=True, text=True, timeout=420,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import json

    lines = [l for l in r.stdout.splitlines() if l.startswith('{"rows"')]
    assert lines, f"no JSON result line in stdout: {r.stdout[-1000:]}"
    res = json.loads(lines[-1])["results"]
    assert set(res) == {"A_aggregation", "B_shuffle_join", "C_disagg_fanout"}
    assert all(v > 0 for k, v in res["C_disagg_fanout"].items()
               if k.endswith("_s"))


def test_simhash_verify_runs_inside_bucket_join(spark):
    """The hamming verify must be a join residual, not a post-distinct
    filter: once a corpus exceeds 2^16 docs the 16-bit chunk buckets
    saturate, and materializing the O(sum bucket^2) candidate set before
    verifying is the scale defect the sf10 rehearsal caught. Locks the
    fix by asserting bit_count(xor) appears in a Join condition."""
    from dsgrid_spark.pipeline.dedup import simhash_dedup

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string")
    out = simhash_dedup(df)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    join_conds = [l for l in plan.splitlines()
                  if "Join condition:" in l and "bit_count" in l]
    assert join_conds, "hamming verify left the join condition:\n" + plan
    # and no standalone Filter node carries the verify (the old shape)
    assert not any("bit_count" in l and "Condition :" in l
                   for l in plan.splitlines())


def test_paragraph_dedup_text_shuffles_once(spark):
    """paragraph_dedup's scale contract: paragraph text crosses the wire
    exactly once (the kept-join by doc id), the winner election shuffles
    keys only, and the reassembly aggregate reuses the join's
    id-partitioning with NO further Exchange. Locked by counting
    Exchanges in the static plan (5: paras-with-text by id, fp winner
    election, keep-set fold, per-doc counts, final outer join side) — a
    6th means the reassembly or an extra text shuffle regressed."""
    from dsgrid_spark.pipeline.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, "a\n\nb"), (2, "b\n\nc")], "doc_id long, text string")
    out = paragraph_dedup(df)
    tree = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")).split("\n\n")[0]
    n_exchange = sum("Exchange" in l for l in tree.splitlines())
    assert n_exchange <= 5, tree


def test_dsir_scoring_broadcasts_bucket_table(spark):
    """DSIR's scale contract: the <=buckets-row log-ratio table
    broadcasts into the exploded token stream (the corpus never
    shuffles to meet the model), and the per-document sum partially
    aggregates map-side so the only wide exchange carries (id,
    partial-sum) pairs."""
    from dsgrid_spark.pipeline.selection import (
        fit_hashed_ngrams, importance_scores, ngram_logratio)

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma {i}") for i in range(50)],
        "doc_id long, text string")
    lr = ngram_logratio(fit_hashed_ngrams(df, buckets=256),
                        fit_hashed_ngrams(df, buckets=256), buckets=256)
    out = importance_scores(df, lr, buckets=256)
    plan = _plan(out)
    # the model join must broadcast (the zero-fill restore join by id
    # may legitimately sort-merge — both of ITS sides are corpus-sized)
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_pq_search_prunes_partitions_and_pushes_shortlist_ids(
        spark, tmp_path):
    """The persisted-PQ re-rank scan must (a) prune to probed cluster
    partitions AND the committed batch, and (b) push the shortlist's id
    list into the parquet scan — the 'reads ONLY the shortlist's
    vectors' claim as a plan assertion. The ADC scan side is covered by
    partition pruning on codes/ (same layout), asserted via the final
    plan's scan when rerank=False."""
    import math
    import random

    from dsgrid_spark.pipeline.pq import (
        exact_codebooks, pq_search, write_pq_index,
    )
    from dsgrid_spark.pipeline.similarity import kmeans_centroids

    rnd = random.Random(3)
    rows = [(i, [float(math.floor(rnd.gauss(0, 1) * 2))
                 for _ in range(8)]) for i in range(80)]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    books = exact_codebooks(emb, dim=8, n_subvectors=4)
    cents = kmeans_centroids(emb, n_clusters=4, dim=8, iterations=2)
    path = str(tmp_path / "pqidx")
    write_pq_index(emb, path, cents, books)
    queries = [(0, rows[0][1])]

    rr = pq_search(spark, path, queries, k=5, n_probe=2)
    plan = _plan(rr)
    # re-rank scan: committed-batch + probed-cluster partition filters,
    # shortlist ids pushed into the parquet reader
    assert "PartitionFilters" in plan
    assert "batch" in plan and "cluster" in plan.lower()
    assert "In(id, [" in plan
    assert "vectors" in plan  # it is the vectors subtree being scanned

    adc = pq_search(spark, path, queries, k=5, n_probe=2, rerank=False)
    plan2 = _plan(adc)
    assert "/codes" in plan2 and "/vectors" not in plan2
    assert "cluster" in plan2.lower() and "PartitionFilters" in plan2


def test_bm25_batch_one_pruned_read_and_broadcast_fanout(spark, tmp_path):
    """The batch BM25 plan must (a) prune the postings scan to the
    UNION of the queries' term buckets (partition filter) with the
    term IN (...) residual pushed into the reader, (b) fan postings
    out per query via a BROADCAST of the tiny (query_id, term) frame —
    never a shuffle join against it, and (c) reduce per-query top-k
    with one rank window. One job for the whole query set is the
    batch form's contract."""
    from dsgrid_spark.pipeline.retrieval import bm25_search, write_term_index

    docs = spark.createDataFrame(
        [(i, f"spark shuffle {'broadcast ' * (i % 3)}window catalyst")
         for i in range(40)], "doc_id long, text string")
    path = str(tmp_path / "idx")
    write_term_index(docs, path, n_buckets=16)
    batch = [(0, ["spark", "broadcast"]), (1, ["catalyst", "window"])]
    df = bm25_search(spark, path, batch, k=5)
    plan = _plan(df)
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "PushedFilters" in plan and "In(term" in plan
    # the (query_id, term) fan-out and the dfreq table both broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    # per-query top-k is a rank-window reduction, not a global sort
    assert "row_number" in plan.lower() or "RunningWindowFunction" in plan


def test_mapped_sum_query_shuffles_once(spark, fact_parquet):
    """A mapped dataset summed by the result phase shuffles exactly once:
    the mapping fractions fold into that sum instead of being collapsed
    by an aggregation of their own first."""
    import re

    from dsgrid_spark.operators.aggregation import AggregationModel, ColumnModel
    from dsgrid_spark.query.models import (DatasetModel, MappingSpec,
                                           ProjectQueryModel, ResultModel)
    from dsgrid_spark.query.submitter import QuerySubmitter
    from dsgrid_spark.sources.catalog import Catalog

    cat = Catalog(spark)
    cat.register_dataset("f", fact_parquet)
    cat.register_mapping("g2s", spark.createDataFrame(
        [(f"c{i}", "CA" if i < 4 else "CO", 1.0) for i in range(7)],
        "from_id string, to_id string, from_fraction double"))
    out = QuerySubmitter(cat).submit(ProjectQueryModel(
        name="q", source_datasets=[DatasetModel(
            dataset_id="f",
            mappings=[MappingSpec(dimension="geography", mapping="g2s")])],
        result=ResultModel(aggregations=[AggregationModel(
            group_by_columns=[ColumnModel(dimension_name="geography")],
            aggregation_function="sum")])))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # "BroadcastExchange" is the mapping table's, not a shuffle
    assert len(re.findall(r"(?<![A-Za-z])Exchange ", plan)) == 1, plan
