"""Isolated query timing + plan capture for optimization rounds.

Usage:
    python scripts/qtime.py [--sf DIR] [--reps N] [--plan-dir plans/r15]
                            [--suffix before|after] [--noop] name [name ...]

Times each named registry query in isolation (min of N reps, same count()
action as bench.py so numbers are comparable; --noop additionally times the
noop-sink write per guide §1.4) and, when --plan-dir is given, writes
`<plan-dir>/<name>_<suffix>.txt` with the `.explain("formatted")` output.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orc_spark import get_spark  # noqa: E402
from orc_spark.plans import registry  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan-dir", default="")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--noop", action="store_true")
    args = ap.parse_args()

    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()

    def _drop_persisted() -> None:
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for rid in list(jmap.keySet().toArray()):
                jmap.get(rid).unpersist(False)
        except Exception:  # noqa: BLE001
            pass

    names = args.names
    if names == ["ALL"]:
        names = sorted(reg)
    for name in names:
        if name not in reg:
            print(f"{name}: NOT IN REGISTRY")
            continue
        q = reg[name]
        best = None
        nrows = None
        njobs = None
        bbuild = None
        for rep in range(args.reps):
            group = f"qtime_{name}_{rep}"
            spark.sparkContext.setJobGroup(group, f"qtime:{name}")
            t0 = time.perf_counter()
            df = q.spark_fn(spark, args.sf)
            tb = time.perf_counter() - t0
            bbuild = tb if bbuild is None else min(bbuild, tb)
            nrows = df.count()
            dt = time.perf_counter() - t0
            # job-round count: the local AQE latency model is
            # rounds x ~0.15s floor (CLAUDE.md), so this is the structural
            # metric exchange-reduction work tracks
            try:
                njobs = len(
                    spark.sparkContext.statusTracker().getJobIdsForGroup(group)
                )
            except Exception:  # noqa: BLE001
                pass
            spark.sparkContext.setJobGroup("qtime_idle", "idle")
            best = dt if best is None else min(best, dt)
            spark.catalog.clearCache()
            _drop_persisted()
        line = (
            f"{name}: {best:.3f}s (build {bbuild:.3f}s, {nrows} rows, "
            f"{njobs} jobs)"
        )
        if args.noop:
            bestn = None
            for _ in range(args.reps):
                t0 = time.perf_counter()
                q.spark_fn(spark, args.sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                bestn = dt if bestn is None else min(bestn, dt)
                spark.catalog.clearCache()
                _drop_persisted()
            line += f"  noop={bestn:.3f}s"
        print(line, flush=True)
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                q.spark_fn(spark, args.sf).explain("formatted")
            path = os.path.join(args.plan_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"  plan -> {path}", flush=True)


if __name__ == "__main__":
    main()
