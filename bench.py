"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall seconds.

Each query is forced with a count() (no driver-side result transfer
beyond the count) after a warm-up of the input file listing.

Series note (round 3): the q01-q50 consolidation merged extra operators
into several headline slots as tagged unions (q07 +disaggregation,
q12 +top-k, q23 +upsample, q50 +interpolated DST, q43 +contamination),
so those queries now do strictly more work per run than in rounds 1-2 —
the per-slot numbers are not like-for-like with BENCH_r1/r2. Round 3
also switches to min-of-2 runs per query (recorded as "methodology" in
the JSON): run 1 pays driver-side codegen compile/JIT that a long-lived
cluster session amortizes away; run 2 is the steady state that repeats
at scale.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from dsgrid_spark.session import get_spark  # noqa: E402

# merged tagged-union slots: discriminator column + branch prefixes, so
# the series stays separable when a slot absorbs more work (VERDICT r3
# item 5) — each branch is timed via a literal tag filter, which Catalyst
# folds to false on the other union children, pruning their subtrees
BRANCHES = {
    "q06_join_multi": ("op", ["multi", "asof", "range"]),
    "q07_map_dimension": ("mode", ["agg", "disagg"]),
    "q12_peak_load": ("tag", ["peak", "top3"]),
    "q21_scalar_datetime": ("op", ["month", "session"]),
    "q23_time_downsample": ("mode", ["down", "up", "cascade:"]),
    "q30_minhash_dedup": ("op", ["full", "incr", "store"]),
    "q31_simhash_dedup": ("op", ["chunk", "manku"]),
    "q32_similarity_bruteforce": ("op", ["brute", "rrf", "bdf"]),
    "q50_dst_duplicate": ("tag", ["spring", "fall", "interp"]),
}

# canonical-branch headline (round 7, VERDICT r6 item 2): the slot
# totals grow whenever a slot absorbs a new branch (4 did in r6 alone),
# so the round-over-round series needs a fixed-work number. For each
# merged slot ONE named branch — the slot's original operator — is
# pinned here; the canonical headline is the sum of those branch times
# plus the unmerged slot times. Recorded as "canonical_value" in the
# JSON next to the full-slot "value"; the reference point (r6 = 15.71 s)
# and the convention live in BASELINE.md. Adding a branch to a slot must
# NOT change this map — that is the whole point.
CANONICAL_BRANCH = {
    "q06_join_multi": "multi",
    "q07_map_dimension": "agg",
    "q12_peak_load": "peak",
    "q21_scalar_datetime": "month",
    "q23_time_downsample": "down",
    "q30_minhash_dedup": "full",
    "q31_simhash_dedup": "chunk",
    "q50_dst_duplicate": "spring",
    "q28_dedup_exact": "batch",
    "q44_embedding_neardup": "pair",
    "q32_similarity_bruteforce": "brute",  # +'rrf' hybrid fusion in r7
}

# headline set: one per operator family that matters at scale
HEADLINE = [
    "q01_pricing_summary",
    "q06_join_multi",
    "q07_map_dimension",
    "q09_two_table",
    "q12_peak_load",
    "q20_unpivot",
    "q21_scalar_datetime",
    "q23_time_downsample",
    "q24_annual_to_hourly",
    "q28_dedup_exact",
    "q30_minhash_dedup",
    "q31_simhash_dedup",
    "q32_similarity_bruteforce",
    "q44_embedding_neardup",
    "q50_dst_duplicate",
    "q05_project_query",
]


def _spin_child(_i: int) -> float:
    """One fixed integer-spin sample, module-level so mp.Pool can pickle
    it (the parallel env-stamp reference in main)."""
    import time as _t
    t0 = _t.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return (_t.perf_counter() - t0) * 1000.0


def _java_pids() -> set[int]:
    """PIDs of live JVM processes (raises on pgrep failure)."""
    import subprocess
    out = subprocess.run(["pgrep", "java"],
                         capture_output=True, text=True, timeout=10)
    return {int(p) for p in out.stdout.split()}


def _other_jvms(ours: set[int] = frozenset()) -> int:
    """Count of OTHER live JVM processes (excluding ``ours`` — the
    bench's own gateway JVM once the session is up). A prior test/bench
    JVM still exiting inflates every parallel query 2-5x (SCALE_R10 §11
    measured exactly that; the r10 driver board recorded a phantom +26%
    from it), so the run waits for strays and stamps what it saw into
    the JSON."""
    try:
        return len(_java_pids() - set(ours))
    except Exception:
        return -1


def _dirty_mb() -> float:
    """Dirty+Writeback pages in MB — the contamination mode the LOAD
    guards can't see (r12: a stamped-clean board doubled the
    WRITE-heavy slots q28/q30 minutes after a heavy job, load5 1.8):
    pending writeback competes with the slots' own parquet writes."""
    try:
        vals = {}
        with open("/proc/meminfo") as f:
            for line in f:
                k, v = line.split(":", 1)
                if k in ("Dirty", "Writeback"):
                    vals[k] = float(v.strip().split()[0])
        return round(sum(vals.values()) / 1024.0, 1)
    except Exception:
        return -1.0


def _steal_pct(interval: float = 1.0) -> float:
    """Hypervisor CPU steal % over one sampled second — the
    contamination mode NONE of the guest guards can see (r12: a
    load1-0.08, zero-dirty board still ran the branch phase 3-9x slow;
    /proc/stat's cumulative steal column was ticking during it): the
    host is running someone else on our cores."""
    try:
        def read():
            with open("/proc/stat") as f:
                vals = [int(x) for x in f.readline().split()[1:]]
            return sum(vals), (vals[7] if len(vals) > 7 else 0)
        t0, s0 = read()
        time.sleep(interval)
        t1, s1 = read()
        dt = t1 - t0
        return round(100.0 * (s1 - s0) / dt, 2) if dt > 0 else -1.0
    except Exception:
        return -1.0


def _spin_ms() -> float:
    """Calibrated single-core spin (fixed integer loop): an ABSOLUTE
    speed reference the relative guards can't provide. Steal sampled on
    an idle guest underestimates what a busy host takes once all cores
    demand CPU (r12: a 3.6%-idle-steal board ran 40% slow
    wall-to-wall); the spin milliseconds let any two boards from the
    same box be compared directly — a 0.8 -> 1.0 drift IS the host
    running someone else, whatever the other stamps say."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return round((time.perf_counter() - t0) * 1000.0, 1)


def _spin_parallel_ms(cpus: str) -> float:
    """ALL-CORES spin (r12 close-out): the single-core spin cannot see
    host SMT siblings / overcommit that slow only WIDE stages — a
    session measured single spin 92.8 ms (clean) while a 32-wide spin
    read ~1.5x that per core, exactly when the parallel-heavy slots ran
    45% over their best-window numbers with single-task slots
    unchanged. Gated since r13 (end > 1.4x start; see attempt stamp)."""
    try:
        import multiprocessing as mp
        n = min(int(cpus), os.cpu_count() or 1)
        with mp.Pool(n) as pool:
            r = sorted(pool.map(_spin_child, range(n)))
        return round(r[len(r) // 2], 1)  # median of n workers
    except Exception:
        return -1.0


def _steal_ticks():
    """Cumulative (total, steal) ticks: instantaneous steal samples
    miss a mid-run burst entirely (r12: a board whose start AND end
    samples read <3% still ran one slot 2.5x slow); the tick delta over
    the whole run gives the average steal the run actually paid."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), (vals[7] if len(vals) > 7 else 0)
    except Exception:
        return 0, 0


def _settle_environment(ours: set[int] = frozenset()) -> dict:
    """Wait (bounded) for stray JVMs / dirty writeback / steal bursts to
    subside and return the start-of-attempt env facts. Called before
    EVERY attempt (r13: a retry into the same storm would just burn the
    retry budget). ``ours`` excludes the bench's own gateway JVM from
    the stray count on retry attempts."""
    jvms0 = _other_jvms(ours)
    waited = 0.0
    while _other_jvms(ours) > 0 and waited < 60.0:
        time.sleep(2.0)
        waited += 2.0
    jvms_left = _other_jvms(ours)
    try:
        load1, load5, _ = (round(x, 2) for x in os.getloadavg())
    except OSError:
        load1 = load5 = -1.0
    dirty0 = _dirty_mb()
    while _dirty_mb() > 256.0 and waited < 120.0:
        time.sleep(2.0)
        waited += 2.0
    dirty_left = _dirty_mb()
    steal0 = _steal_pct()
    steal_left = steal0
    while steal_left > 5.0 and waited < 120.0:
        time.sleep(2.0)
        waited += 3.0  # the sample itself sleeps 1 s
        steal_left = _steal_pct()
    return {
        "other_jvms_at_start": jvms0,
        "other_jvms_after_wait": jvms_left,
        "waited_sec": waited,
        "load1_at_start": load1,
        # load5 catches the just-finished-a-heavy-job state (dirty page
        # cache, decaying scheduler pressure) that load1 already forgave
        # — measured doubling the WRITE-heavy slots (q28/q30/q32) while
        # CPU-bound slots stayed flat
        "load5_at_start": load5,
        "dirty_mb_at_start": dirty0,
        "dirty_mb_after_wait": dirty_left,
        "steal_pct_at_start": steal0,
        "steal_pct_after_wait": steal_left,
    }


def _run_timed(spark, qs, sf_dir):
    """ONE full pass over the timed region (headline slots + per-branch
    attribution), exactly the r11/r12 methodology: min-of-2 per slot
    AND per branch, cache cleared between slots. Returns
    (timings, branch_timings)."""
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        # min of 2 runs: run 1 pays per-plan Janino codegen compile + JIT
        # (driver-side, amortized to nothing on a long-lived cluster
        # session); run 2 measures the steady-state execution the 100 TB
        # scale-up actually repeats. The min also damps virtualization
        # host-steal noise. Methodology recorded in the JSON.
        best = None
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).count()
            elapsed = time.time() - t0
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = round(best, 3)
        # each call persists ITS OWN new DataFrames (q30 signatures/bands,
        # q31 signatures), so dropping prior slots' cache is timing-neutral
        # — but without it ~40 runs of persisted 5M-row tables accumulate
        # and the sf100 rehearsal bench dies in GCLocker allocation retries
        spark.catalog.clearCache()

    # per-branch attribution for merged slots (single run each; the slot
    # totals above stay the comparable series)
    from pyspark.sql import functions as F

    import inspect

    branch_timings: dict[str, dict[str, float]] = {}
    for name, (col, prefixes) in BRANCHES.items():
        if name not in timings:
            continue
        # slots exposing a branch= kwarg construct ONLY that branch's
        # plan, so the timing excludes sibling-branch plan analysis
        # (the r7 q32 'brute' drift: tag filters prune execution, not
        # construction). Slots without it keep the tag-filter fallback.
        takes_branch = "branch" in inspect.signature(qs[name]).parameters
        per = {}
        for p in prefixes:
            # min-of-2 like the slots (r10 verdict item 3): the
            # single-run branch numbers were the noisiest series the
            # verdicts track
            best = None
            for _ in range(2):
                t0 = time.time()
                if takes_branch:
                    qs[name](spark, sf_dir, branch=p.rstrip(":")).count()
                else:
                    qs[name](spark, sf_dir).filter(
                        F.col(col).startswith(p)).count()
                elapsed = time.time() - t0
                best = elapsed if best is None else min(best, elapsed)
            per[p.rstrip(":")] = round(best, 3)
        branch_timings[name] = per
        spark.catalog.clearCache()

    # q28's 'stream' side runs imperatively (writeStream +
    # awaitTermination) at query-construction time, so a tag filter can't
    # prune it; its branches are timed through the dedicated sub-functions
    # instead (VERDICT r4 item 2). Input files already exist from the
    # headline runs, so both numbers are steady-state.
    def _min_of_2(fn):
        best = None
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).count()
            elapsed = time.time() - t0
            best = elapsed if best is None else min(best, elapsed)
        return round(best, 3)

    if "q28_dedup_exact" in timings:
        per = {}
        for tag, fn in (("batch", entry_mod._q28_batch),
                        ("bloom", entry_mod._q28_bloom),
                        ("stream", entry_mod._q28_stream),
                        ("compact", entry_mod._q28_compact)):
            per[tag] = _min_of_2(fn)
        branch_timings["q28_dedup_exact"] = per

    # q44's 'sem' side (semantic_dedup) runs connected-components
    # convergence jobs at construction time — same imperative shape as
    # q28 'stream', so its branches are also timed via sub-functions.
    if "q44_embedding_neardup" in timings:
        per = {}
        for tag, fn in (("pair", entry_mod._q44_pair),
                        ("sem", entry_mod._q44_sem)):
            per[tag] = _min_of_2(fn)
        branch_timings["q44_embedding_neardup"] = per
        spark.catalog.clearCache()

    return timings, branch_timings


def _run_attempt(spark, qs, sf_dir, cpus: str,
                 ours: set[int] = frozenset(),
                 first: bool = True) -> dict:
    """One stamped attempt: settle the environment, bracket the timed
    region with steal/spin samples, run it, and judge contamination.

    Contamination conditions (r12 + r13 item 7): stray JVMs, load,
    dirty writeback, steal at start; at end — end steal > 5%, run-avg
    steal > 2%, end single spin > 1.5x start, and (r13, calibrating the
    r12 stamp into the gate) end PARALLEL spin > 1.4x start — the SMT/
    overcommit pressure mode that slows only wide stages while the
    single-core spin stays flat (r12 close-out measured exactly that:
    single spin 92.8 ms clean, 32-wide spin ~1.5x per core, parallel
    slots +45%).

    On RETRY attempts (``first=False``) the loadavg gates are skipped:
    loadavg at that point reflects the bench's OWN just-finished
    attempt (32 task threads for minutes), not external pressure — the
    stray-JVM, dirty, steal and spin gates still judge the retry, and
    the spin references measure actual per-core speed directly."""
    env_stamp = _settle_environment(ours)
    spin = min(_spin_ms() for _ in range(3))
    spin_par = _spin_parallel_ms(cpus)
    ticks0 = _steal_ticks()
    env_stamp["spin_ms"] = spin
    env_stamp["spin_ms_parallel"] = spin_par
    env_stamp["contaminated"] = bool(
        env_stamp["other_jvms_after_wait"] > 0
        or (first and (env_stamp["load1_at_start"] >= 8.0
                       or env_stamp["load5_at_start"] >= 4.0))
        or env_stamp["dirty_mb_after_wait"] > 512.0
        or env_stamp["steal_pct_after_wait"] > 5.0)

    t_start = time.time()
    timings, branch_timings = _run_timed(spark, qs, sf_dir)
    wall = round(time.time() - t_start, 1)

    # end-of-run re-sample (r12: a board stamped clean at start — spin
    # 95.7 ms, steal 0 — still ran 3x slow because the host started
    # stealing AFTER the stamp; sampling both ends brackets the run).
    steal_end = _steal_pct()
    spin_end = min(_spin_ms() for _ in range(3))
    spin_par_end = _spin_parallel_ms(cpus)
    ticks1 = _steal_ticks()
    run_dt = ticks1[0] - ticks0[0]
    steal_avg = (round(100.0 * (ticks1[1] - ticks0[1]) / run_dt, 2)
                 if run_dt > 0 else -1.0)
    env_stamp["steal_pct_at_end"] = steal_end
    env_stamp["spin_ms_at_end"] = spin_end
    env_stamp["spin_ms_parallel_at_end"] = spin_par_end
    env_stamp["steal_pct_run_avg"] = steal_avg
    if (steal_end > 5.0 or steal_avg > 2.0
            or (spin > 0 and spin_end > 1.5 * spin)
            or (spin_par > 0 and spin_par_end > 0
                and spin_par_end > 1.4 * spin_par)):
        env_stamp["contaminated"] = True

    canonical_queries = {
        name: (branch_timings[name][CANONICAL_BRANCH[name]]
               if name in CANONICAL_BRANCH else timings[name])
        for name in HEADLINE
    }
    return {
        "value": round(sum(timings.values()), 3),
        "queries": timings,
        "branches": branch_timings,
        "canonical_value": round(sum(canonical_queries.values()), 3),
        "canonical_queries": canonical_queries,
        "env": env_stamp,
        "wall_sec": wall,
    }


# retry budget for contaminated attempts (r13, VERDICT r12 item 1):
# round 12's OFFICIAL perf numbers were taken on a steal-poisoned board
# the guard stamped but did not defend against (geomean 0.94 vs 1.22 on
# the clean board). When the end-of-run stamp flips contaminated the
# whole timed region re-runs — bounded by attempts AND total wall so a
# stormy host can't stall the driver.
_MAX_ATTEMPTS = 3
_MAX_TOTAL_WALL_SEC = 1800.0


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("dsgrid-spark-bench", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    sf = 0.1
    if "sf0.01" in sf_dir:
        sf = 0.01
    elif "sf0.001" in sf_dir:
        sf = 0.001
    elif "sf100" in sf_dir:
        sf = 100.0
    elif "sf10" in sf_dir:
        sf = 10.0
    elif "sf1" in sf_dir:
        sf = 1.0

    # warm-up: JVM/codegen/file-listing costs land here, not on q01
    from dsgrid_spark.sources.tables import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.count()

    # the bench's own gateway JVM is live from here on — retries must
    # not count it as a stray (or they would always read contaminated)
    try:
        ours = _java_pids()
    except Exception:
        ours = set()

    t_bench = time.time()
    attempts: list[dict] = []
    for i in range(_MAX_ATTEMPTS):
        attempts.append(_run_attempt(spark, qs, sf_dir, cpus,
                                     ours=ours, first=(i == 0)))
        if not attempts[-1]["env"]["contaminated"]:
            break
        if time.time() - t_bench > _MAX_TOTAL_WALL_SEC:
            break

    # selection: the first clean attempt; if every attempt was
    # contaminated, the one with the lowest run-average steal (the
    # least-poisoned board) — stamped contaminated either way, with
    # every attempt's record kept for the audit trail.
    chosen = next((a for a in attempts if not a["env"]["contaminated"]),
                  None)
    if chosen is None:
        chosen = min(attempts,
                     key=lambda a: (a["env"].get("steal_pct_run_avg", 1e9)
                                    if a["env"].get("steal_pct_run_avg",
                                                    -1.0) >= 0 else 1e9))

    full = {
        "metric": "headline_queries_total",
        "value": chosen["value"],
        "unit": "sec",
        "queries": chosen["queries"],
        "branches": chosen["branches"],
        "canonical_value": chosen["canonical_value"],
        "canonical_queries": chosen["canonical_queries"],
        "sf": sf,
        "cpus": int(cpus),
        "env": chosen["env"],
        "n_attempts": len(attempts),
        "chosen_attempt": attempts.index(chosen),
        # every attempt's stamps + numbers survive (r12 item 1: the
        # contaminated 32-core board's env record was lost when the
        # 8-core run overwrote BENCH_FULL.json)
        "attempts": [{"value": a["value"],
                      "canonical_value": a["canonical_value"],
                      "env": a["env"], "wall_sec": a["wall_sec"]}
                     for a in attempts],
        "methodology": "min_of_2_runs_per_query AND per_branch (r11: "
                       "branch numbers were the noisiest series), on "
                       "per-branch plans where the slot supports "
                       "branch=; canonical = pinned-branch sum (see "
                       "BASELINE.md); env stamp records stray JVMs / "
                       "load at start after a <=60s settle wait; r13: "
                       "a contaminated end-stamp re-runs the timed "
                       "region (<=3 attempts, 1800 s wall cap), first "
                       "clean attempt reported, all attempts recorded",
    }
    # the artifact must be SELF-CONTAINED (r11 verdict: the one-line
    # JSON outgrew the driver's tail-capture window and BENCH_r11
    # lost its headline to truncation): the FULL record goes to files
    # next to this script; stdout gets a compact line — metric first —
    # that fits any capture window. r13: ALSO written per-(cpus, sf)
    # so the driver's 8-core run stops clobbering the 32-core record
    # (VERDICT r12 item 1 / what's-wrong 3).
    here = os.path.dirname(os.path.abspath(__file__))
    sf_tag = str(sf).replace(".", "p")
    full_path = os.path.join(here, "BENCH_FULL.json")
    per_run_path = os.path.join(here,
                                f"BENCH_FULL_{int(cpus)}c_sf{sf_tag}.json")
    try:
        for p in (full_path, per_run_path):
            with open(p, "w") as f:
                json.dump(full, f, indent=1)
                f.write("\n")
    except OSError:
        full_path = None
    compact = {k: full[k] for k in ("metric", "value", "unit",
                                    "canonical_value", "sf")}
    compact["queries"] = chosen["queries"]
    compact["contaminated"] = chosen["env"]["contaminated"]
    compact["n_attempts"] = len(attempts)
    # attempts after the first run on a warm JVM and page cache: compare
    # two boards like-for-like only at the same chosen_attempt
    compact["chosen_attempt"] = full["chosen_attempt"]
    compact["full_json"] = full_path
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
