"""Command-line entry point: run project queries from a JSON spec.

Mirrors the reference CLI surface (``dsgrid query project run query.json5``,
dsgrid/cli/query.py:292-344) without the registry server: the spec file
carries both the catalog (dataset/dimension/mapping parquet paths) and the
ProjectQueryModel.

Spec format::

    {
      "catalog": {
        "datasets": {"sales": {"path": "...parquet",
                               "lookup_path": null,
                               "config": {...DatasetConfig fields...}}},
        "dimensions": {"geography": "...parquet"},
        "mappings": {"county_to_state": {"path": "...parquet",
                                         "from_dimension": "county",
                                         "to_dimension": "state"}}
      },
      "query": {...ProjectQueryModel...}
    }

Usage::

    python -m dsgrid_spark run spec.json --output out/ [--show N]
    python -m dsgrid_spark validate spec.json
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

from dsgrid_spark.datasets.handlers import DatasetConfig
from dsgrid_spark.query.models import ProjectQueryModel
from dsgrid_spark.query.submitter import QuerySubmitter
from dsgrid_spark.sources.catalog import Catalog


def _strip_json5(text: str) -> str:
    """Remove // and /* */ comments outside string literals.

    A regex can't do this safely (a string containing "/*" or ",}" would
    be corrupted); this is a tiny single-pass tokenizer instead.
    """
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == '"':
            out.append(c)
            i += 1
            while i < n:
                out.append(text[i])
                if text[i] == "\\" and i + 1 < n:
                    out.append(text[i + 1])
                    i += 2
                    continue
                if text[i] == '"':
                    i += 1
                    break
                i += 1
        elif c == "/" and text[i:i + 2] == "//":
            while i < n and text[i] != "\n":
                i += 1
        elif c == "/" and text[i:i + 2] == "/*":
            end = text.find("*/", i + 2)
            i = n if end < 0 else end + 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _strip_trailing_commas(text: str) -> str:
    """Remove commas directly before } or ] — outside string literals."""
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == '"':
            out.append(c)
            i += 1
            while i < n:
                out.append(text[i])
                if text[i] == "\\" and i + 1 < n:
                    out.append(text[i + 1])
                    i += 2
                    continue
                if text[i] == '"':
                    i += 1
                    break
                i += 1
        elif c == ",":
            j = i + 1
            while j < n and text[j].isspace():
                j += 1
            if j < n and text[j] in "}]":
                i += 1
                continue
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def load_spec(path: str | Path) -> dict:
    """Read a JSON (or JSON5-lite) spec.

    The reference's query files are JSON5 (dsgrid/cli/query.py); plain
    json covers them once comments (whole-line AND inline trailing) and
    trailing commas are stripped, string-literal-safely.
    """
    text = Path(path).read_text()
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        return json.loads(_strip_trailing_commas(_strip_json5(text)))


def build_catalog(spark, spec: dict) -> Catalog:
    cat = Catalog(spark)
    c = spec.get("catalog", {})
    for ds_id, entry in c.get("datasets", {}).items():
        config = None
        if entry.get("config"):
            config = DatasetConfig(dataset_id=ds_id, **entry["config"])
        cat.register_dataset(ds_id, entry["path"], config=config,
                             lookup_source=entry.get("lookup_path"))
    for name, path in c.get("dimensions", {}).items():
        cat.register_dimension(name, path)
    for name, entry in c.get("mappings", {}).items():
        if isinstance(entry, str):
            entry = {"path": entry}
        cat.register_mapping(name, entry["path"],
                             from_dimension=entry.get("from_dimension"),
                             to_dimension=entry.get("to_dimension"))
    return cat


def parse_query(spec: dict) -> ProjectQueryModel:
    return ProjectQueryModel.model_validate(spec["query"])


def cmd_validate(args) -> int:
    spec = load_spec(args.spec)
    query = parse_query(spec)
    print(f"query {query.name!r} ok: "
          f"{len(query.source_datasets)} dataset(s)")
    return 0


def cmd_run(args) -> int:
    from dsgrid_spark.rc import apply_rc_conf, load_rc
    from dsgrid_spark.session import get_spark

    spec = load_spec(args.spec)
    query = parse_query(spec)
    spark = get_spark("dsgrid-spark-cli")
    apply_rc_conf(spark)
    # rc default registry applies only when the spec carries no inline
    # catalog and no --registry was given (reference rc precedence)
    if not getattr(args, "registry", None) and not spec.get("catalog"):
        args.registry = load_rc().get("registry")
    project = None
    if getattr(args, "registry", None):
        from dsgrid_spark.registry.store import RegistryStore

        store = RegistryStore(args.registry, spark)
        catalog = store.load_catalog()
        if getattr(args, "project", None):
            project = store.load_project(args.project)
    else:
        catalog = build_catalog(spark, spec)
    submitter = QuerySubmitter(catalog, output_dir=args.output,
                               project=project)
    timings = load_rc().get("timings", False)
    if timings:
        from dsgrid_spark.timing import timer_stats

        with timer_stats.time("submit"):
            df = submitter.submit(query)
    else:
        df = submitter.submit(query)
    if args.explain:
        print(df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")))
    if args.output:
        fmt = getattr(args, "output_format", "parquet") or "parquet"
        out = Path(args.output) / query.name / f"table.{fmt}"
        if fmt == "csv":
            from dsgrid_spark.sources.writers import write_csv

            write_csv(df, out)
        else:
            from dsgrid_spark.sources.writers import write_parquet

            write_parquet(df, out)
        print(f"wrote {out}")
    if args.show:
        df.show(args.show, truncate=False)
    print(f"rows: {df.count()}")
    if timings:
        from dsgrid_spark.timing import timer_stats

        print(timer_stats.report())
    return 0


def _store(args):
    from dsgrid_spark.registry.store import RegistryStore
    from dsgrid_spark.session import get_spark

    return RegistryStore(args.registry, get_spark("dsgrid-spark-cli"))


def cmd_create(args) -> int:
    """Scaffold a query spec (reference ``dsgrid query project create``,
    cli/query.py:111-187): a runnable template the user edits, with one
    source dataset, a sum aggregation, and commented-out optional
    sections covered elsewhere in the spec schema."""
    spec = {
        "catalog": {
            "datasets": {args.dataset_id: {
                "path": "CHANGE_ME.parquet", "lookup_path": None,
                "config": {"time_columns": []},
            }},
            "dimensions": {},
            "mappings": {},
        },
        "query": {
            "name": args.name,
            "source_datasets": [{"dataset_id": args.dataset_id,
                                 "mappings": [], "filters": []}],
            "result": {
                "aggregations": [{
                    "group_by_columns": [
                        {"dimension_name": c} for c in args.group_by],
                    "aggregation_function": args.aggregation_function,
                }],
                "sort_columns": [],
            },
        },
    }
    text = json.dumps(spec, indent=2)
    if args.output:
        Path(args.output).write_text(text + "\n")
        print(f"wrote {args.output}")
    else:
        print(text)
    return 0


def cmd_map_dataset(args) -> int:
    """Map one registered dataset onto a target dimension through the
    registry's mapping graph and write the result (reference
    ``dsgrid query dataset map-dataset``, cli/query.py:389-463)."""
    from dsgrid_spark.sources.writers import write_parquet

    store = _store(args)
    sub = QuerySubmitter(store.load_catalog())
    out = sub.submit_dataset_query(
        args.dataset_id, from_dimension=args.from_dimension,
        to_dimension=args.to_dimension, dimension_column=args.column)
    write_parquet(out, args.output)
    print(f"wrote {args.output}")
    return 0


def cmd_registry_register(args) -> int:
    """Register a dataset/dimension/mapping (reference
    dsgrid/cli/registry.py register commands)."""
    store = _store(args)
    if args.kind == "dataset":
        version = store.register_dataset(
            args.id, args.path, lookup_source=args.lookup,
            validate=not args.no_validate,
            dimension_names=args.dimensions or None,
            submitter=args.submitter, message=args.message or
            "initial registration",
        )
    elif args.kind == "dimension":
        version = store.register_dimension(
            args.id, args.path, submitter=args.submitter,
            message=args.message or "initial registration")
    else:
        version = store.register_mapping(
            args.id, args.path, from_dimension=args.from_dimension,
            to_dimension=args.to_dimension, mapping_type=args.mapping_type,
            validate=not args.no_validate, submitter=args.submitter,
            message=args.message or "initial registration")
    print(f"registered {args.kind}s/{args.id}@{version}")
    return 0


def cmd_registry_update(args) -> int:
    from dsgrid_spark.registry.store import VersionUpdateType

    store = _store(args)
    ut = VersionUpdateType(args.update_type)
    if args.kind == "dataset":
        version = store.update_dataset(
            args.id, args.path, update_type=ut,
            validate=not args.no_validate, submitter=args.submitter,
            message=args.message)
    elif args.kind == "dimension":
        version = store.update_dimension(
            args.id, args.path, update_type=ut, submitter=args.submitter,
            message=args.message)
    else:
        version = store.update_mapping(
            args.id, args.path, update_type=ut,
            validate=not args.no_validate, submitter=args.submitter,
            message=args.message)
    print(f"updated {args.kind}s/{args.id} -> {version}")
    return 0


def cmd_registry_list(args) -> int:
    """List every registered entity + current version (reference
    dsgrid registry ... list)."""
    store = _store(args)
    for kind in ("projects", "datasets", "dimensions", "mappings"):
        ids = store.list_ids(kind)
        if not ids:
            continue
        print(f"{kind}:")
        for entity_id in ids:
            print(f"  {entity_id}  {store.latest_version(kind, entity_id)}")
    return 0


def cmd_registry_dump(args) -> int:
    """Dump the registration log (+ config if present) for one entity."""
    store = _store(args)
    payload = {"id": args.id, "kind": args.kind_plural,
               "current": store.latest_version(args.kind_plural, args.id),
               "log": store.log(args.kind_plural, args.id)}
    print(json.dumps(payload, indent=2, default=str))
    return 0


def cmd_registry_remove(args) -> int:
    """Remove an entity and all its versions (reference
    dsgrid_admin.py remove commands)."""
    store = _store(args)
    store.remove(args.kind_plural, args.id)
    print(f"removed {args.kind_plural}/{args.id}")
    return 0


def cmd_registry_download(args) -> int:
    """Copy a version's data out of the registry (reference
    cli/download.py)."""
    store = _store(args)
    out = store.download(args.kind_plural, args.id, args.dest,
                         version=args.version)
    print(str(out))
    return 0


def cmd_registry_sync(args) -> int:
    """Mirror one registry into another (reference registry sync)."""
    from dsgrid_spark.registry.store import RegistryStore

    src = _store(args)
    dst = RegistryStore(args.dest, src.spark)
    copied = src.sync_to(dst, only=args.only or None)
    print(json.dumps({"copied": copied}, indent=2))
    return 0


def cmd_registry_prune(args) -> int:
    """Garbage-collect staging leftovers, orphaned version dirs, and
    (with --keep) old version data beyond the newest N per entity."""
    store = _store(args)
    removed = store.prune(keep_versions=args.keep)
    print(json.dumps(removed, indent=2))
    return 0


def _index_kind(spark, path: str) -> str:
    """term | ivf | pq | binary | sigs — one shared detector
    (pipeline.stream_index.index_kind), CLI-flavored errors."""
    from dsgrid_spark.pipeline.stream_index import index_kind

    try:
        return index_kind(spark, path)
    except ValueError as exc:
        raise SystemExit(str(exc)) from None


def _parse_vectors(raw: list[str]) -> list[tuple[int, list[float]]]:
    out = []
    for i, v in enumerate(raw):
        out.append((i, [float(x) for x in json.loads(v)]))
    return out


def cmd_index_build(args) -> int:
    """Build a persisted index from a parquet table — the CLI face of
    write_term_index / write_ivf_index / write_pq_index (fits k-means
    coarse lists, and PQ codebooks, from the input itself)."""
    from dsgrid_spark.session import get_spark

    spark = get_spark("dsgrid-spark-cli")
    df = spark.read.parquet(args.input)
    if args.kind == "term":
        from dsgrid_spark.pipeline.retrieval import write_term_index

        write_term_index(df, args.path, id_column=args.id_column,
                         text_column=args.text_column,
                         n_buckets=args.n_buckets,
                         positions=args.positions,
                         analyzer=args.analyzer)
    elif args.kind == "sigs":
        from dsgrid_spark.pipeline.sigstore import write_sig_store

        write_sig_store(df, args.path, text_column=args.text_column,
                        id_column=args.id_column,
                        num_hashes=args.num_hashes,
                        shingle_k=args.shingle_k)
    else:
        from dsgrid_spark.pipeline.similarity import kmeans_centroids

        first = df.select(args.vector_column).first()
        if first is None or first[0] is None:
            raise SystemExit(
                f"cannot derive vector dim: input table {args.input} is "
                f"empty or its {args.vector_column!r} column is null")
        dim = len(first[0])
        cents = kmeans_centroids(df, args.n_clusters, dim,
                                 args.vector_column,
                                 fit_sample_cap=args.fit_sample_cap)
        if args.kind == "ivf":
            from dsgrid_spark.pipeline.similarity import write_ivf_index

            write_ivf_index(df, args.path, cents,
                            id_column=args.id_column,
                            vector_column=args.vector_column)
        elif args.kind == "binary":
            from dsgrid_spark.pipeline.similarity import write_binary_index

            write_binary_index(df, args.path, cents,
                               id_column=args.id_column,
                               vector_column=args.vector_column,
                               store_vectors=not args.no_vectors,
                               vectors_dtype=args.vectors_dtype)
        else:
            from dsgrid_spark.pipeline.pq import (
                coarse_residuals, pq_fit, write_pq_index,
            )

            fit_df, fit_col = df, args.vector_column
            if args.residual:
                fit_df = coarse_residuals(df, cents,
                                          id_column=args.id_column,
                                          vector_column=args.vector_column)
                fit_col = "residual"
            books = pq_fit(fit_df, dim=dim, n_subvectors=args.m,
                           n_centroids=args.k, vector_column=fit_col,
                           fit_sample_cap=args.fit_sample_cap)
            write_pq_index(df, args.path, cents, books,
                           id_column=args.id_column,
                           vector_column=args.vector_column,
                           store_vectors=not args.no_vectors,
                           residual=args.residual,
                           vectors_dtype=args.vectors_dtype)
    print(f"built {args.kind} index at {args.path}")
    return 0


def cmd_index_append(args) -> int:
    """Exactly-once batch append; the index kind is detected from the
    layout and the batch id defaults to an intent-claimed auto id."""
    from dsgrid_spark.session import get_spark

    spark = get_spark("dsgrid-spark-cli")
    df = spark.read.parquet(args.input)
    kind = _index_kind(spark, args.path)
    from dsgrid_spark.pipeline.stream_index import _appender

    column = ({"text_column": args.text_column} if kind in ("term", "sigs")
              else {"vector_column": args.vector_column})
    ok = _appender(kind)(df, args.path, id_column=args.id_column,
                         batch_id=args.batch_id, **column)
    print("ingested" if ok else "replay: batch already committed")
    return 0


def _parse_candidates(spark, spec: str | None):
    """--candidates: a parquet path (its id column or single column) or
    a comma-separated id list — the filtered-ANN restriction, forwarded
    to candidate_filter (which coerces list ids toward the index's id
    column type, so numeric-looking ids work against string-id indexes
    and vice versa — or fail loudly, never match-nothing silently)."""
    if not spec:
        return None
    import os

    path_shaped = ("://" in spec or os.sep in spec
                   or spec.endswith(".parquet"))
    if path_shaped:
        # existence probed through the filesystem interface, so
        # s3://, hdfs://, etc. work like every other index operation —
        # a driver-local os.path.exists would reject any remote path
        from dsgrid_spark.filesystem import filesystem_for

        if filesystem_for(spark, spec).exists(spec):
            return spark.read.parquet(spec)
        # path-shaped but absent: fail loudly — treating a typo'd path
        # as a one-string id list would "succeed" with zero results
        raise SystemExit(f"--candidates path does not exist: {spec}")
    return [t.strip() for t in spec.split(",") if t.strip()]


def _parse_as_of(spec: str | None):
    """--as-of: an ISO-8601 timestamp (time-travel — contains 'T' or
    '-') passed through verbatim, else a comma-separated batch-id pin
    set. Both forms are validated downstream by indexlog.resolve_*."""
    if not spec:
        return None
    toks = [t.strip() for t in spec.split(",") if t.strip()]
    if len(toks) == 1 and ("T" in toks[0] or ":" in toks[0]
                           or toks[0].count("-") >= 2):
        return toks[0]  # timestamp string
    return set(toks)


def cmd_index_search(args) -> int:
    from dsgrid_spark.session import get_spark

    spark = get_spark("dsgrid-spark-cli")
    kind = _index_kind(spark, args.path)
    as_of = _parse_as_of(args.as_of)
    if kind == "sigs":
        raise SystemExit("signature stores are not searchable — they "
                         "feed incremental dedup (pipeline.sigstore."
                         "ingest_dedup_batch)")
    if kind == "term":
        if args.phrase:
            if args.candidates:
                raise SystemExit("--candidates is not supported with "
                                 "--phrase")
            from dsgrid_spark.pipeline.retrieval import phrase_search

            df = phrase_search(spark, args.path, " ".join(args.terms),
                               as_of=as_of)
        else:
            from dsgrid_spark.pipeline.retrieval import bm25_search

            if not args.terms:
                raise SystemExit("term index search needs query terms")
            df = bm25_search(spark, args.path, args.terms, k=args.k,
                             candidates=_parse_candidates(
                                 spark, args.candidates),
                             as_of=as_of)
    else:
        if not args.vector:
            raise SystemExit(f"{kind} index search needs --vector")
        queries = _parse_vectors(args.vector)
        cand = _parse_candidates(spark, args.candidates)
        if kind == "ivf":
            from dsgrid_spark.pipeline.similarity import ivf_search

            df = ivf_search(spark, args.path, queries, k=args.k,
                            n_probe=args.n_probe, candidates=cand,
                            as_of=as_of)
        elif kind == "binary":
            from dsgrid_spark.pipeline.similarity import hamming_search

            df = hamming_search(spark, args.path, queries, k=args.k,
                                n_probe=args.n_probe,
                                shortlist=args.shortlist,
                                rerank=None if not args.no_rerank
                                else False, candidates=cand,
                                as_of=as_of)
        else:
            from dsgrid_spark.pipeline.pq import pq_search

            df = pq_search(spark, args.path, queries, k=args.k,
                           n_probe=args.n_probe,
                           shortlist=args.shortlist,
                           rerank=None if not args.no_rerank else False,
                           method=args.method, candidates=cand,
                           as_of=as_of)
    for row in df.collect():
        print(json.dumps(row.asDict()))
    return 0


def cmd_index_vacuum(args) -> int:
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.session import get_spark

    spark = get_spark("dsgrid-spark-cli")
    _index_kind(spark, args.path)  # refuse to vacuum a non-index dir
    out = indexlog.vacuum(spark, args.path, ttl_seconds=args.ttl)
    print(json.dumps(out))
    return 0


def cmd_index_describe(args) -> int:
    """One JSON line of operational truth about an index: kind, meta
    params, batch-lifecycle state (visible / retired / open intents),
    log-metric totals, and per-subtree directory/file/byte footprints —
    the numbers that decide when to compact or vacuum. Metadata and
    filesystem stats only; ``--counts`` adds committed row counts per
    payload subtree (a scan)."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.session import get_spark

    spark = get_spark("dsgrid-spark-cli")
    kind = _index_kind(spark, args.path)
    visible, ingested = indexlog.batch_sets(spark, args.path)
    out = {
        "kind": kind, "path": args.path,
        "visible_batches": len(visible),
        "retired_batches": len(ingested - visible),
        "open_intents": sorted(indexlog.open_intents(spark, args.path)),
    }
    if kind in ("ivf", "pq", "binary"):
        # which centroid generation the live view reads (None = the
        # legacy flat layout; the establisher's id otherwise)
        out["centroid_generation"] = indexlog.resolve_generation(
            spark, args.path, visible)
    from dsgrid_spark.filesystem import filesystem_for

    fs = filesystem_for(spark, args.path)
    meta_sub = "stats" if kind == "term" else "meta"
    try:
        out["meta"] = fs.read_rows(f"{args.path}/{meta_sub}")[0]
    except Exception:
        out["meta"] = None
    metric_cols = [c for c in fs.read_rows(f"{args.path}/batches")[0]
                   if c not in ("batch", "committed", "committed_at_ms")]
    out["totals"] = indexlog.logged_totals(spark, args.path,
                                           *metric_cols)
    subs = {}
    for sub, col in sorted(indexlog.payload_subdirs(spark,
                                                    args.path).items()):
        files = fs.list_sizes(f"{args.path}/{sub}")
        info = {
            "partition_column": col,
            "batch_dirs": len(fs.glob(f"{args.path}/{sub}/*/batch=*")),
            "files": len(files),
            "bytes": sum(sz for _, sz in files),
        }
        if args.counts:
            info["committed_rows"] = indexlog.read_committed(
                spark, args.path, sub, ids=visible).count()
            if col in ("cluster", "bucket", "shard"):
                # per-key skew: for clusters the when-to-rebalance
                # signal (a drifting corpus piles appends into a few),
                # for buckets/shards the hash-heat report
                from dsgrid_spark.pipeline.rebalance import cluster_skew

                info["skew"] = cluster_skew(spark, args.path, sub,
                                            ids=visible, column=col)
        subs[sub] = info
    out["payload"] = subs
    if getattr(args, "drift", False) and kind in ("ivf", "pq", "binary"):
        # the recall-proxy drift probe (one bounded sample job) — the
        # number --if-drifted / maintain --max-distortion-ratio gate on
        from dsgrid_spark.pipeline.rebalance import assignment_drift

        out["drift"] = assignment_drift(spark, args.path,
                                        sample=args.drift_sample)
    print(json.dumps(out, default=str))
    return 0


def cmd_index_hybrid(args) -> int:
    """Hybrid BM25 + ANN retrieval over two persisted indexes, RRF
    fused. One query: positional terms + one --vector. A batch (the
    eval-sweep shape — one BM25 job, one ANN job, one fuse): repeated
    --query '{"id": ..., "terms": [...], "vector": [...]}' JSON."""
    from dsgrid_spark.pipeline.retrieval import (
        hybrid_search, hybrid_search_batch,
    )
    from dsgrid_spark.session import get_spark

    spark = get_spark("dsgrid-spark-cli")
    cand = _parse_candidates(spark, args.candidates)
    t_pin = _parse_as_of(args.term_as_of)
    v_pin = _parse_as_of(args.vector_as_of)
    if args.query:
        if args.terms or args.vector:
            raise SystemExit("--query (batch) and positional terms/"
                             "--vector (single) are mutually exclusive")
        queries = []
        for q in args.query:
            spec = json.loads(q)
            queries.append((spec["id"], list(spec["terms"]),
                            [float(x) for x in spec["vector"]]))
        df = hybrid_search_batch(spark, args.term_path,
                                 args.vector_path, queries, k=args.k,
                                 k_each=args.k_each,
                                 n_probe=args.n_probe, candidates=cand,
                                 term_as_of=t_pin, vector_as_of=v_pin)
    else:
        if not args.terms or not args.vector:
            raise SystemExit("hybrid search needs query terms and "
                             "--vector (or a --query batch)")
        df = hybrid_search(spark, args.term_path, args.vector_path,
                           args.terms, json.loads(args.vector),
                           k=args.k, k_each=args.k_each,
                           n_probe=args.n_probe, candidates=cand,
                           term_as_of=t_pin, vector_as_of=v_pin)
    for row in df.collect():
        print(json.dumps(row.asDict()))
    return 0


def cmd_index_maintain(args) -> int:
    from dsgrid_spark.pipeline.rebalance import maintain_index
    from dsgrid_spark.session import get_spark

    spark = get_spark("dsgrid-spark-cli")
    ratio = args.max_distortion_ratio
    if ratio is not None and ratio != "auto":
        ratio = float(ratio)
    out = maintain_index(spark, args.path, ttl_seconds=args.ttl,
                         max_batches=args.max_batches,
                         max_over_mean=args.max_over_mean,
                         max_distortion_ratio=ratio,
                         drift_margin=args.drift_margin,
                         drift_sample=args.drift_sample,
                         fsck=args.fsck)
    print(json.dumps(out, default=str))
    return 0


def cmd_index_sync(args) -> int:
    """One-way incremental index mirror (pipeline/indexsync.py):
    batch-atomic at the destination, idempotent, crash-safe."""
    from dsgrid_spark.pipeline.indexsync import sync_index
    from dsgrid_spark.session import get_spark

    spark = get_spark("dsgrid-spark-cli")
    out = sync_index(spark, args.src, args.dst,
                     overwrite=args.overwrite,
                     src_corpus=args.src_corpus,
                     dst_corpus=args.dst_corpus,
                     copy_parallelism=args.copy_parallelism,
                     verify=args.verify,
                     as_of=args.as_of)
    print(json.dumps(out, default=str))
    return 0


def cmd_index_fsck(args) -> int:
    """Read-only integrity check (indexlog.fsck): errors = reads are
    or will be wrong, warnings = operator attention, info = normal
    lifecycle states. Exit code 1 when errors were found."""
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.session import get_spark

    spark = get_spark("dsgrid-spark-cli")
    out = indexlog.fsck(spark, args.path,
                        lock_ttl_seconds=args.lock_ttl)
    print(json.dumps(out, default=str))
    return 0 if out["ok"] else 1


def cmd_index_rebalance(args) -> int:
    from dsgrid_spark.pipeline.rebalance import rebalance_index
    from dsgrid_spark.session import get_spark

    spark = get_spark("dsgrid-spark-cli")
    kwargs = dict(n_clusters=args.n_clusters,
                  iterations=args.iterations, init=args.init,
                  fit_sample_cap=args.fit_sample_cap,
                  block_appends=args.block_appends,
                  retrain_codebooks=args.retrain_codebooks)
    if args.if_skewed is not None:
        from dsgrid_spark.pipeline.rebalance import rebalance_if_skewed

        new_id = rebalance_if_skewed(spark, args.path,
                                     max_over_mean=args.if_skewed,
                                     **kwargs)
    elif args.if_drifted is not None:
        from dsgrid_spark.pipeline.rebalance import rebalance_if_drifted

        ratio = args.if_drifted
        if ratio != "auto":
            ratio = float(ratio)
        new_id = rebalance_if_drifted(
            spark, args.path, max_distortion_ratio=ratio,
            sample=args.drift_sample, **kwargs)
    else:
        new_id = rebalance_index(spark, args.path, **kwargs)
    print(json.dumps({"rebalanced_batch": new_id}))
    return 0


def cmd_index_compact(args) -> int:
    from dsgrid_spark.pipeline import indexlog
    from dsgrid_spark.session import get_spark

    spark = get_spark("dsgrid-spark-cli")
    _index_kind(spark, args.path)  # refuse to compact a non-index dir
    if args.if_fragmented is not None:
        if args.batches:
            raise SystemExit("--if-fragmented and --batches are "
                             "mutually exclusive")
        new_id = indexlog.compact_if_fragmented(
            spark, args.path, max_batches=args.if_fragmented,
            purge=args.purge)
    else:
        new_id = indexlog.compact(spark, args.path, batches=args.batches,
                                  purge=args.purge)
    merged = 0 if new_id is None else len(
        [r for r, by in indexlog._replacements(spark, args.path)
         if by == new_id])
    print(json.dumps({"compacted_batch": new_id, "merged": merged}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dsgrid-spark")
    sub = p.add_subparsers(dest="command", required=True)

    run = sub.add_parser("run", help="run a project query spec")
    run.add_argument("spec")
    run.add_argument("--output", default=None)
    run.add_argument("--output-format", choices=["parquet", "csv"],
                     default="parquet",
                     help="result file format (reference output_format)")
    run.add_argument("--show", type=int, default=0)
    run.add_argument("--explain", action="store_true",
                     help="print the formatted physical plan")
    run.add_argument("--registry", default=None,
                     help="load the catalog from a registry root instead "
                          "of the spec's inline catalog")
    run.add_argument("--project", default=None,
                     help="project id (with --registry) for subset/"
                          "supplemental name resolution")
    run.set_defaults(fn=cmd_run)

    val = sub.add_parser("validate", help="parse + validate a query spec")
    val.add_argument("spec")
    val.set_defaults(fn=cmd_validate)

    cr = sub.add_parser("create", help="scaffold a query spec template")
    cr.add_argument("name")
    cr.add_argument("--dataset-id", default="my_dataset")
    cr.add_argument("--group-by", nargs="*", default=["geography"])
    cr.add_argument("--aggregation-function", default="sum")
    cr.add_argument("--output", "-o", default=None)
    cr.set_defaults(fn=cmd_create)

    md = sub.add_parser("map-dataset",
                        help="map a registered dataset to a target "
                             "dimension via the mapping graph")
    md.add_argument("registry")
    md.add_argument("dataset_id")
    md.add_argument("from_dimension")
    md.add_argument("to_dimension")
    md.add_argument("--column", default="geography")
    md.add_argument("--output", "-o", required=True)
    md.set_defaults(fn=cmd_map_dataset)

    reg = sub.add_parser("registry", help="manage a persistent registry")
    regsub = reg.add_subparsers(dest="registry_command", required=True)

    def _common(sp, with_path=True):
        sp.add_argument("registry", help="registry root directory")
        sp.add_argument("kind", choices=["dataset", "dimension", "mapping"])
        sp.add_argument("id")
        if with_path:
            sp.add_argument("path", help="input table (parquet/csv/json)")
        sp.add_argument("--submitter", default="")
        sp.add_argument("--message", default="")
        sp.add_argument("--no-validate", action="store_true")

    rr = regsub.add_parser("register", help="register a new entity")
    _common(rr)
    rr.add_argument("--lookup", default=None,
                    help="two-table dataset lookup path")
    rr.add_argument("--dimensions", nargs="*", default=None,
                    help="registered dimensions to validate ids against")
    rr.add_argument("--from-dimension", default=None)
    rr.add_argument("--to-dimension", default=None)
    rr.add_argument("--mapping-type", default=None)
    rr.set_defaults(fn=cmd_registry_register)

    ru = regsub.add_parser("update", help="register a new version")
    _common(ru)
    ru.add_argument("--update-type", default="major",
                    choices=["major", "minor", "patch"])
    ru.set_defaults(fn=cmd_registry_update)

    rl = regsub.add_parser("list", help="list entities + versions")
    rl.add_argument("registry")
    rl.set_defaults(fn=cmd_registry_list)

    rd = regsub.add_parser("dump", help="dump one entity's log")
    rd.add_argument("registry")
    rd.add_argument("kind", choices=["project", "dataset", "dimension",
                                     "mapping"])
    rd.add_argument("id")
    rd.set_defaults(fn=cmd_registry_dump)

    rm = regsub.add_parser("remove",
                           help="remove an entity and all its versions")
    rm.add_argument("registry")
    rm.add_argument("kind", choices=["project", "dataset", "dimension",
                                     "mapping"])
    rm.add_argument("id")
    rm.set_defaults(fn=cmd_registry_remove)

    dl = regsub.add_parser("download",
                           help="copy a version's data out of the registry")
    dl.add_argument("registry")
    dl.add_argument("kind", choices=["project", "dataset", "dimension",
                                     "mapping"])
    dl.add_argument("id")
    dl.add_argument("dest")
    dl.add_argument("--version", default=None)
    dl.set_defaults(fn=cmd_registry_download)

    rs = regsub.add_parser("sync",
                           help="mirror this registry into another root")
    rs.add_argument("registry", help="source registry root")
    rs.add_argument("dest", help="destination registry root")
    rs.add_argument("--only", nargs="*", default=None,
                    help="kind/entity_id selectors (filtered registry)")
    rs.set_defaults(fn=cmd_registry_sync)

    rp = regsub.add_parser("prune", help="garbage-collect registry data")
    rp.add_argument("registry")
    rp.add_argument("--keep", type=int, default=None,
                    help="also drop data for all but the newest N versions "
                         "per entity (current always kept)")
    rp.set_defaults(fn=cmd_registry_prune)

    idx = sub.add_parser("index",
                         help="build/search/append/compact/vacuum "
                              "persisted term/ivf/pq/binary indexes "
                              "and signature stores")
    idxsub = idx.add_subparsers(dest="index_command", required=True)

    ib = idxsub.add_parser("build", help="build an index from parquet")
    ib.add_argument("kind", choices=["term", "ivf", "pq", "binary",
                                     "sigs"])
    ib.add_argument("input", help="input parquet table")
    ib.add_argument("path", help="index root directory")
    ib.add_argument("--id-column", default="doc_id")
    ib.add_argument("--text-column", default="text")
    ib.add_argument("--vector-column", default="embedding")
    ib.add_argument("--n-buckets", type=int, default=64,
                    help="term: postings hash buckets")
    ib.add_argument("--positions", action="store_true",
                    help="term: positional postings (phrase search)")
    ib.add_argument("--analyzer", default="simple")
    ib.add_argument("--n-clusters", type=int, default=64,
                    help="ivf/pq: coarse k-means lists")
    ib.add_argument("--m", type=int, default=8,
                    help="pq: subvectors per vector")
    ib.add_argument("--k", type=int, default=256,
                    help="pq: centroids per subspace")
    ib.add_argument("--residual", action="store_true",
                    help="pq: IVFADC residual codes")
    ib.add_argument("--no-vectors", action="store_true",
                    help="pq/binary: codes-only index (no exact re-rank)")
    ib.add_argument("--vectors-dtype", choices=["float64", "int8"],
                    default="float64",
                    help="pq/binary: re-rank payload storage — int8 is "
                    "8x fewer bytes/dim, scores within per-vector "
                    "quantization error of float64")
    ib.add_argument("--fit-sample-cap", type=int, default=100_000)
    ib.add_argument("--num-hashes", type=int, default=32,
                    help="sigs: minhash permutations")
    ib.add_argument("--shingle-k", type=int, default=5,
                    help="sigs: word-shingle width")
    ib.set_defaults(fn=cmd_index_build)

    ia = idxsub.add_parser("append", help="exactly-once batch append")
    ia.add_argument("path")
    ia.add_argument("input", help="batch parquet table")
    ia.add_argument("--batch-id", default=None)
    ia.add_argument("--id-column", default="doc_id")
    ia.add_argument("--text-column", default="text")
    ia.add_argument("--vector-column", default="embedding")
    ia.set_defaults(fn=cmd_index_append)

    isr = idxsub.add_parser("search", help="search a persisted index")
    isr.add_argument("path")
    isr.add_argument("terms", nargs="*", help="term index: query terms")
    isr.add_argument("--phrase", action="store_true",
                     help="term index: exact phrase search")
    isr.add_argument("--vector", action="append", default=[],
                     help="ivf/pq: JSON query vector (repeatable; "
                          "query ids are 0..n-1)")
    isr.add_argument("-k", type=int, default=10)
    isr.add_argument("--n-probe", type=int, default=2)
    isr.add_argument("--no-rerank", action="store_true",
                     help="pq: ADC-only scores; binary: Hamming-only")
    isr.add_argument("--candidates", default=None,
                     help="filtered ANN: parquet path of ids, or "
                     "comma-separated id list — top-k among these only")
    isr.add_argument("--shortlist", type=int, default=None,
                     help="pq/binary: per-query candidate depth fed to "
                          "the exact re-rank (default 4k)")
    isr.add_argument("--as-of", default=None,
                     help="pinned read: an ISO-8601 timestamp "
                          "(time-travel) or a comma-separated batch-id "
                          "set captured earlier")
    isr.add_argument("--method", default="hof", choices=["hof", "arrow"],
                     help="pq ADC scorer: hof = pure-JVM fold (the "
                          "tested-equal default), arrow = opt-in numpy "
                          "gather kernel (~20x on full-corpus scans; "
                          "last-ULP score rounding may differ)")
    isr.set_defaults(fn=cmd_index_search)

    iv = idxsub.add_parser("vacuum", help="reclaim crashed-append debris")
    iv.add_argument("path")
    iv.add_argument("--ttl", type=float, default=86400.0,
                    help="seconds; younger intents/dirs survive")
    iv.set_defaults(fn=cmd_index_vacuum)

    ic = idxsub.add_parser(
        "compact", help="merge small committed batch dirs into one "
        "(exactly-once; sources invisible at commit, reclaimed by "
        "vacuum or --purge)")
    ic.add_argument("path")
    ic.add_argument("--batches", nargs="+", default=None,
                    help="batch ids to merge (default: all visible)")
    ic.add_argument("--purge", action="store_true",
                    help="delete replaced data now (offline only; "
                    "default leaves it for vacuum's ttl grace)")
    ic.add_argument("--if-fragmented", type=int, default=None,
                    metavar="N",
                    help="cron mode: compact only when more than N "
                         "batches are visible (one log read when "
                         "healthy)")
    ic.set_defaults(fn=cmd_index_compact)

    idd = idxsub.add_parser(
        "describe", help="JSON summary: kind, meta, batch lifecycle, "
        "totals, per-subtree files/bytes")
    idd.add_argument("path")
    idd.add_argument("--counts", action="store_true",
                     help="also count committed rows per subtree (scan), "
                          "plus per-cluster skew for vector indexes — "
                          "the when-to-rebalance signal")
    idd.add_argument("--drift", action="store_true",
                     help="vector indexes: also run the recall-proxy "
                          "drift probe (live/refit distortion ratio on "
                          "a bounded sample)")
    idd.add_argument("--drift-sample", type=int, default=4096)
    idd.set_defaults(fn=cmd_index_describe)

    ih = idxsub.add_parser(
        "hybrid", help="BM25 + ANN retrieval over two persisted "
        "indexes, RRF fused (single query, or a --query batch in one "
        "BM25 job + one ANN job)")
    ih.add_argument("term_path")
    ih.add_argument("vector_path")
    ih.add_argument("terms", nargs="*", help="single query: BM25 terms")
    ih.add_argument("--vector", default=None,
                    help="single query: JSON query vector")
    ih.add_argument("--query", action="append", default=[],
                    help='batch entry: \'{"id":0,"terms":[...],'
                         '"vector":[...]}\' (repeatable)')
    ih.add_argument("-k", type=int, default=10)
    ih.add_argument("--k-each", type=int, default=50,
                    help="per-retriever fusion pool depth")
    ih.add_argument("--n-probe", type=int, default=4)
    ih.add_argument("--candidates", default=None)
    ih.add_argument("--term-as-of", default=None,
                    help="pin the term index's read (batch ids or an "
                         "ISO-8601 timestamp, like search --as-of)")
    ih.add_argument("--vector-as-of", default=None,
                    help="pin the vector index's read")
    ih.set_defaults(fn=cmd_index_hybrid)

    im = idxsub.add_parser(
        "maintain", help="the one-call cron entry: vacuum + "
        "fragmentation-gated compact + skew-gated rebalance (each "
        "gate is a cheap no-op when healthy)")
    im.add_argument("path")
    im.add_argument("--ttl", type=float, default=86400.0,
                    help="vacuum grace seconds")
    im.add_argument("--max-batches", type=int, default=32,
                    help="compact when more batches are visible")
    im.add_argument("--max-over-mean", type=float, default=None,
                    help="vector indexes: rebalance when the heaviest "
                         "cluster exceeds this ratio of the mean")
    im.add_argument("--max-distortion-ratio", default=None,
                    help="vector indexes: rebalance when the live/refit "
                         "distortion ratio exceeds this (the "
                         "recall-proxy gate that fires on uniform-mass "
                         "drift where skew stays flat); 'auto' gates "
                         "on the index's recorded healthy baseline x "
                         "--drift-margin, no hand-tuned number")
    im.add_argument("--drift-margin", type=float, default=1.05,
                    help="relative rise over the recorded healthy "
                         "ratio that fires the 'auto' drift gate")
    im.add_argument("--drift-sample", type=int, default=4096,
                    help="sample size for the drift probe")
    im.add_argument("--fsck", action="store_true",
                    help="finish the tick with a read-only integrity "
                         "check and fail loudly on any error")
    im.set_defaults(fn=cmd_index_maintain)

    isy = idxsub.add_parser(
        "sync", help="one-way incremental index mirror (disaster "
        "recovery / promotion): batch-atomic at the destination, "
        "idempotent, crash-safe; searches at the destination stay "
        "correct mid-sync")
    isy.add_argument("src")
    isy.add_argument("dst")
    isy.add_argument("--overwrite", action="store_true",
                     help="reset the destination first (required after "
                          "a source REBUILD, which reuses batch ids "
                          "with new content)")
    isy.add_argument("--src-corpus", default=None,
                     help="sigstore: also mirror the store-managed "
                          "corpus table (corpus_path) from here...")
    isy.add_argument("--dst-corpus", default=None,
                     help="...to here, batch-atomically with the "
                          "signatures")
    isy.add_argument("--copy-parallelism", type=int, default=None,
                     help="slices for the bulk artifact copy job "
                          "(default: the cluster's parallelism)")
    isy.add_argument("--verify", action="store_true",
                     help="run fsck on the destination after the "
                          "mirror and fail loudly on any error — the "
                          "promotion gate")
    isy.add_argument("--as-of", default=None,
                     help="clone the historical view at this ISO-8601 "
                          "instant instead of the live one — a "
                          "reproducible-eval snapshot (fresh "
                          "destination, or --overwrite)")
    isy.set_defaults(fn=cmd_index_sync)

    ifs = idxsub.add_parser(
        "fsck", help="read-only integrity check: exactly-once "
        "invariants, generation-table consistency, crash debris "
        "classification (exit 1 on errors)")
    ifs.add_argument("path")
    ifs.add_argument("--lock-ttl", type=float, default=86400.0,
                     help="age past which locks/markers count stale")
    ifs.set_defaults(fn=cmd_index_fsck)

    irb = idxsub.add_parser(
        "rebalance", help="retrain coarse centroids on the committed "
        "vectors and reassign every row — the drift fix (atomic flip "
        "through the compaction log; sources reclaimed by vacuum)")
    irb.add_argument("path")
    irb.add_argument("--n-clusters", type=int, default=None,
                     help="re-size the index (default: keep current k)")
    irb.add_argument("--iterations", type=int, default=5)
    irb.add_argument("--init", default="parallel",
                     choices=["parallel", "sample", "kmeanspp", "auto"],
                     help="k-means init (parallel = k-means||, the "
                          "drift-structure default)")
    irb.add_argument("--fit-sample-cap", type=int, default=None)
    irb.add_argument("--if-skewed", type=float, default=None,
                     metavar="RATIO",
                     help="cron mode: rebalance only when the heaviest "
                          "cluster exceeds RATIO x the mean (one "
                          "count-only scan when healthy)")
    irb.add_argument("--if-drifted", default=None,
                     metavar="RATIO",
                     help="cron mode: rebalance only when the live/refit "
                          "distortion ratio exceeds RATIO (the "
                          "recall-proxy drift gate); 'auto' gates on "
                          "the index's recorded healthy baseline "
                          "(first tick calibrates)")
    irb.add_argument("--drift-sample", type=int, default=4096,
                     help="sample size for the --if-drifted probe")
    irb.add_argument("--block-appends", action="store_true",
                     help="enforce quiescence: appends fail loudly for "
                          "the run's duration instead of racing the flip")
    irb.add_argument("--retrain-codebooks", action="store_true",
                     help="PQ indexes: also retrain the codebooks on the "
                          "stored vectors and re-encode (codebook "
                          "identity rides the generation)")
    irb.set_defaults(fn=cmd_index_rebalance)

    args = p.parse_args(argv)
    if hasattr(args, "kind") and args.command == "registry":
        args.kind_plural = args.kind + "s"
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
