"""Capture .explain('formatted') for every declared query into
<out_dir>/<query>_<suffix>.txt.

Usage: python tools/capture_plans.py <out_dir> before|after [query ...]
e.g.   python tools/capture_plans.py plans/r13 before q30_minhash_dedup
Runs at sf0.1 (the bench scale) so plan shapes match the timed runs.
Queries that build on-disk indexes during construction run those builds
here too — the captured plan is the RETURNED DataFrame's, which is what
the driver times and the oracle checks.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from dsgrid_spark.session import get_spark  # noqa: E402


def main():
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    out_dir, suffix, only = sys.argv[1], sys.argv[2], set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("dsgrid-plan-capture", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # capture the failure instead of dying
            plan = f"EXPLAIN FAILED: {type(e).__name__}: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"{name}: {len(plan)} chars")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
