"""Run one benchmark workload and print its metrics as one JSON line.

Usage, from the repository root:

    python3 perfbench/run.py --workload dimensional_query --seed 1 \
        --seconds 15 --trace 0

Every run is one fresh process: a new JVM on ``local[N]`` (N = cores - 1,
at most 4; shuffle partitions N; 2g heap), inputs generated from
``--seed`` into a work directory under ``.perfbench_work/`` (removed at
the end), and a fixed amount of work sized from ``--seconds`` so that
the timed region takes about that long on a 4-core host. Every result
is forced with a full-column ``noop`` write, never ``.count()``.

``--trace 0`` prints the end-to-end metrics, measured with tracing off:

- ``setup_s``: process start to ready: session start and a small
  warm-up job mix (``harness.warm_up``), plus the median of three input
  generation and registration passes.
- ``wall_s``: the timed region.
- ``op_p50_s``: median latency of the workload's operation (a query, an
  ``ivf_search`` call, an ``ingest_dedup_batch`` call).
- ``items_per_s``: input rows the timed region consumed per second (fact
  rows read, vectors indexed, documents ingested).
- ``quality``: share of query checksums matching DuckDB; recall@10
  against exact numpy top-10; share of planted near-duplicates dropped.
- ``jvm_peak_rss_mb``: VmHWM of the Spark JVM. The heap is committed up
  front (``-Xms`` = ``-Xmx``) so the figure does not swing with when G1
  grows the heap; it moves with heap size and off-heap growth.

``--trace 1`` first runs the same workload untraced in a child process,
then runs it traced: spans around every call into the engine, Spark job
groups per span, and Spark's event log, joined into the per-layer
metrics named in ``spans.py``. It also reports the tracing overhead
(traced minus untraced ``wall_s``) and the share of ``wall_s`` inside
top-level spans. Failed output checks count in ``failed``; the process
then exits 1. Before the JSON line the run prints one ``detail`` line
with the workload's own figures, sample counts and the host stamp.
"""

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dimensional_query", "index_lifecycle", "dedup_ingest")
SETUP_REPEATS = 3

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s",
              "items_per_s": "1/s", "quality": "ratio", "jvm_peak_rss_mb": "MB"}
SPAN_NAMES = (
    "query.plan", "query.optimize", "query.map_agg", "query.disagg",
    "query.tz_geo", "query.combine", "query.pivot_peak", "query.downsample",
    "index.kmeans", "index.build", "index.append", "index.search",
    "index.compact", "index.fsck", "dedup.build", "dedup.ingest")
BYTES_WRITTEN_SPANS = ("index.build", "index.append", "index.compact",
                       "dedup.build", "dedup.ingest")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in BENCHMARK.json order."""
    from perfbench.spans import FIELDS

    out = {"session.start_s": "s", "sources.setup_s": "s"}
    for span in SPAN_NAMES:
        out.update({f"{span}.{f}": u for f, u in FIELDS.items()})
    out.update({f"{w}.codegen_compile_s": "s" for w in WORKLOADS})
    out.update({f"{s}.bytes_written": "bytes" for s in BYTES_WRITTEN_SPANS})
    out.update({"index.search.rows_scanned_per_result": "ratio",
                "index.compact.bytes_rewritten_per_live_byte": "ratio",
                "trace.overhead_s": "s", "trace.coverage": "ratio"})
    return out


def workload_class(name: str):
    if name == "dimensional_query":
        from perfbench.dimensional_query import DimensionalQuery
        return DimensionalQuery
    if name == "index_lifecycle":
        from perfbench.index_lifecycle import IndexLifecycle
        return IndexLifecycle
    from perfbench.dedup_ingest import DedupIngest
    return DedupIngest


def run_once(name: str, seed: int, seconds: float, trace: bool, work: str,
             sizes: dict | None = None, started: float | None = None) -> dict:
    """Set up, run and check one workload in this process; set-up time
    counts from ``started`` (default: now)."""
    from perfbench import harness, spans

    started = time.time() if started is None else started
    events = harness.configure_env(work, trace)
    spark = harness.start_session()
    harness.warm_up(spark, work)
    session_s = time.time() - started
    try:
        pid = harness.jvm_pid(spark)
        wl = workload_class(name)(spark, work, seed, seconds, **(sizes or {}))
        setups = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t)
        codegen0 = harness.codegen_compile_s(spark)
        tracer = spans.Tracer(spark.sparkContext, enabled=trace)
        t_start = time.time()
        wl.run(tracer)
        t_end = time.time()
        codegen_s = harness.codegen_compile_s(spark) - codegen0
        rss = harness.peak_rss_mb(pid)
        host = harness.host_stamp({os.getpid(), pid})
    finally:
        harness.stop_session(spark)
    failures = wl.verify()
    m = wl.metrics()
    wall = t_end - t_start
    out = {
        "failures": failures,
        "attempted": wl.attempted,
        "e2e": {"setup_s": session_s + statistics.median(setups),
                "wall_s": wall, "op_p50_s": m["op_p50_s"],
                "items_per_s": m["items"] / wall, "quality": m["quality"],
                "jvm_peak_rss_mb": rss},
        "detail": dict(m["detail"], workload=name, seed=seed,
                       op_samples=m["op_samples"], setup_runs_s=setups,
                       session_s=session_s, host=host),
    }
    if trace:
        jobs, tasks = spans.read_event_log(harness.event_log_lines(events))
        by_span = spans.layer_metrics(tracer.spans, jobs, tasks)
        layer = dict.fromkeys(per_layer_units(), 0.0)
        layer["session.start_s"] = session_s
        layer["sources.setup_s"] = statistics.median(setups)
        for span, fields in by_span.items():
            for f in spans.FIELDS:
                layer[f"{span}.{f}"] = fields[f]
            if span in BYTES_WRITTEN_SPANS:
                layer[f"{span}.bytes_written"] = fields["bytes_written"]
        layer[f"{name}.codegen_compile_s"] = codegen_s
        search = by_span.get("index.search", {})
        if search.get("results"):
            layer["index.search.rows_scanned_per_result"] = (
                search["records_read"] / search["results"])
        compact = by_span.get("index.compact", {})
        if compact.get("live_bytes"):
            layer["index.compact.bytes_rewritten_per_live_byte"] = (
                compact["bytes_written"] / compact["live_bytes"])
        layer["trace.coverage"] = spans.coverage(tracer.spans, t_start, t_end)
        out["layer"] = layer
        out["detail"]["unattributed_jobs"] = sum(
            1 for j in jobs.values()
            if not (j.group or "").startswith(spans.GROUP_PREFIX))
        os.makedirs(os.path.join(ROOT, ".perfbench_runs"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench_runs",
                                  f"{name}-seed{seed}.spans.jsonl"))
    return out


def untraced_wall_s(args) -> float:
    """``wall_s`` of the same run with tracing off, in a child process."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=170)
    if proc.returncode != 0:
        raise RuntimeError(f"untraced run exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dsgrid_spark")):
        print(f"perfbench: no dsgrid_spark package under {ROOT}; run from a "
              "full checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    baseline = untraced_wall_s(args) if args.trace else None
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        res = run_once(args.workload, args.seed, args.seconds, bool(args.trace), work,
                       started=time.time() if args.trace else T0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        res["layer"]["trace.overhead_s"] = res["e2e"]["wall_s"] - baseline
        res["detail"]["untraced_wall_s"] = baseline
        metrics = {k: {"value": res["layer"][k], "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    failed = min(len(res["failures"]), res["attempted"])
    res["detail"]["failures"] = res["failures"]
    print(json.dumps({"detail": res["detail"]}), flush=True)
    print(json.dumps({"correct": not res["failures"], "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if not res["failures"] else 1


if __name__ == "__main__":
    sys.exit(main())
