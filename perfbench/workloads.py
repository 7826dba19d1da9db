"""The workloads of the benchmark.

Each workload generates its inputs from the seed (outside every timed span),
warms its own shapes during set-up on a second seeded input of the same
size (a tiny input plans differently, leaving the first timed pass cold),
runs a timed phase, then checks every operation's result. In a traced run
it also calls each layer once on inputs materialized outside the layer's
span.

Both workloads are closed loops with one client running whole passes over
their operation list. The streaming ingest (an open loop fed by one
generator thread at a fixed file-arrival rate) runs as a layer probe of the
traced ``orclog_report`` run.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time
from datetime import datetime

import pandas as pd

import check
import gen

RUN_KEYS = ["file", "actuators_enabled", "run_idx"]

# registry queries cycled by query_mix: relational scans/joins/windows
# (sources.tables, AQE job rounds), the PID recurrence
# (operators.recurrence) and embedding cosine pairs (operators.similarity).
# dd_cluster (MinHash-LSH pairs + connected components) is not in the mix:
# one run held two of its samples, so op_tail_s was the slower of two
# ~2 s ops and spread by a quarter between runs of the same code, and its
# recursive-CTE oracle cost seconds per seed. Traced runs still time the
# LSH pairs and operators.graph on their own (QueryMix.probe_layers).
QUERY_MIX = [
    "r1_pricing_summary", "aj_asof_join", "ev_sessionize", "st_pid_replay",
    "dd_embcos",
]


def warm_seed(seed: int) -> int:
    """Seed of the warm-up inputs: same sizes and shapes as the measured
    inputs, different data."""
    return seed + 1_000_003


def now() -> float:
    return time.perf_counter()


class Op:
    """One timed operation and what the check phase needs to judge it."""

    __slots__ = ("name", "latency", "result", "error")

    def __init__(self, name, latency, result=None, error=None):
        self.name, self.latency, self.result, self.error = name, latency, result, error


class Workload:
    name = ""
    # metric name -> value, filled by the traced layer probes
    layer: dict

    def __init__(self, ctx):
        self.ctx = ctx
        self.layer = {}
        self.selftest = False  # set by check(): a perturbed result was caught

    # subclass API ---------------------------------------------------------
    def prepare(self) -> None: ...
    def warm(self, spark) -> None: ...
    def run(self, spark, seconds: float, tracer) -> dict: ...
    def check(self, spark, ops: list[Op]) -> list[str]: ...
    def probe_layers(self, spark, tracer) -> tuple[list[Op], list[str]]:
        """Traced runs only: fill ``self.layer``; return any operations the
        probes ran (they count as attempted) and problems found."""
        return [], []


def closed_loop(ops, seconds: float, pass_s: float) -> dict:
    """Whole passes over ``ops`` (name, fn): as many as fit ``seconds`` at
    the workload's nominal pass time ``pass_s``, at least one. The count
    depends only on the arguments, so every run measures the same work."""
    done: list[Op] = []
    passes: list[float] = []
    for _ in range(max(1, int(seconds // pass_s))):
        p0 = now()
        for name, fn in ops:
            o0 = now()
            try:
                res, err = fn(), None
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                res, err = None, f"{type(e).__name__}: {e}"
            done.append(Op(name, now() - o0, res, err))
        passes.append(now() - p0)
    return {"ops": done, "pass_s": passes}


def collect_op(spark, tracer, name: str, build):
    """Build a plan and pull its whole result to the driver (Arrow)."""
    with tracer.span("op", op=name):
        with tracer.span("plans.build"):
            df = build()
        with tracer.span("plans.collect"):
            return df.toPandas()


# --------------------------------------------------------------------------
# orclog_report
# --------------------------------------------------------------------------

class OrclogReport(Workload):
    name = "orclog_report"
    FILES, ROWS_PER_RUN = 3, 2000
    PASS_S = 4.0  # nominal seconds of one report at local[3]

    def prepare(self):
        c = self.ctx
        self.corpus = gen.orclog_corpus(
            os.path.join(c.work, "orclog"), c.seed, self.FILES, self.ROWS_PER_RUN
        )
        self.warm_corpus = gen.orclog_corpus(
            os.path.join(c.work, "orclog_warm"), warm_seed(c.seed), self.FILES, self.ROWS_PER_RUN
        )

    def warm(self, spark):
        from orc_spark.plans.orclog_e2e import orclog_full_report

        orclog_full_report(spark, self.warm_corpus.paths).toPandas()

    def _report_op(self, spark, tracer):
        from orc_spark.plans.orclog_e2e import orclog_full_report

        return collect_op(spark, tracer, "orclog_full_report",
                          lambda: orclog_full_report(spark, self.corpus.paths))

    def run(self, spark, seconds, tracer):
        return closed_loop([("orclog_full_report", lambda: self._report_op(spark, tracer))],
                           seconds, self.PASS_S)

    def check(self, spark, ops):
        from pyspark.sql import functions as F

        from orc_spark.sources.orclog import parse_orclog

        problems = []
        expected = check.report_expected(self.corpus.runs)
        for op in ops:
            if op.error is None:
                wrong = check.check_report(op.result, expected)
                if wrong:
                    op.error = f"wrong result: {wrong}"
        # valid rows per (file, group, run) must be exact
        got = (
            parse_orclog(spark, self.corpus.paths)
            .groupBy(*RUN_KEYS).agg(F.count(F.lit(1)).alias("n")).toPandas()
        )
        got_map = {(os.path.basename(r.file), bool(r.actuators_enabled), int(r.run_idx)): int(r.n)
                   for r in got.itertuples()}
        if got_map != check.parse_counts_expected(self.corpus.runs):
            problems.append("parse row counts differ from the generator's ground truth")
        first = next((o for o in ops if o.result is not None), None)
        self.selftest = first is not None and check.check_report(
            check.perturbed(first.result), expected) is not None
        return problems

    def probe_layers(self, spark, tracer):
        from orc_spark.operators.stats import group_means, run_stats, welch_ttest
        from orc_spark.operators.timeseries import median_filter, np_gradient
        from orc_spark.sources.orclog import parse_orclog

        # each layer's output is materialized inside its span (local
        # checkpoint) and is the next layer's input, outside that span
        c = self.corpus
        with tracer.span("sources.orclog.parse", op="layer") as sp:
            parsed = parse_orclog(spark, c.paths).localCheckpoint(eager=True)
        dur = sp["end"] - sp["start"]
        self.layer["sources.orclog.parse_s"] = dur
        self.layer["sources.orclog.lines_per_s"] = c.lines / dur
        self.layer["sources.orclog.data_row_ratio"] = c.data_rows / c.lines
        with tracer.span("operators.timeseries.window", op="layer") as sp:
            filt = parsed
            for col, out in (("accel_g", "f_accel"), ("pitch_deg", "f_pitch"), ("roll_deg", "f_roll")):
                filt = median_filter(filt, col, RUN_KEYS, "sample_idx", 15, out)
            filt = np_gradient(filt, "f_accel", RUN_KEYS, "sample_idx", "f_jerk")
            filt = filt.localCheckpoint(eager=True)
        self.layer["operators.timeseries.window_s"] = sp["end"] - sp["start"]
        with tracer.span("operators.stats.agg", op="layer") as sp:
            per_run = run_stats(filt, "f_accel", RUN_KEYS)
            group_means(per_run, ["actuators_enabled"]).toPandas()
            welch_ttest(per_run, "rms", "actuators_enabled", "less").toPandas()
        self.layer["operators.stats.agg_s"] = sp["end"] - sp["start"]
        parsed.unpersist()
        filt.unpersist()
        return StreamProbe(self.ctx).run(spark, tracer, self.layer)


# --------------------------------------------------------------------------
# streaming ingest probe (traced orclog_report runs)
# --------------------------------------------------------------------------

def _progress_end(p: dict) -> float:
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    epoch = (start - datetime(1970, 1, 1)).total_seconds()
    return epoch + p["durationMs"].get("triggerExecution", 0) / 1e3


def _source_log(ckpt: str) -> dict[str, int]:
    """file name -> batch id, from the file source's metadata log."""
    out = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _scan_rows(df) -> int:
    """Rows the ORC scan returned after stripe/row-group skipping, from the
    executed plan's scan metrics."""
    it = df._jdf.queryExecution().executedPlan().collectLeaves().iterator()
    n = 0
    while it.hasNext():
        m = it.next().metrics()
        if m.contains("numOutputRows"):
            n += m.apply("numOutputRows").value()
    return n


class StreamProbe:
    """``stream_orclog_parse`` (availableNow, invoked back-to-back on one
    checkpoint) ingesting files that one generator thread lands at a fixed
    rate, then a pushdown read-back of the ORC table with
    ``sources.io.read_table``. Each file is one operation: its freshness
    runs from its due time to the end of the micro-batch that committed it.
    """

    RATE = 4.0  # files per second
    FILES = 8
    ROWS_PER_RUN = 300  # ~2 k lines per file

    def __init__(self, ctx):
        self.ctx = ctx
        self.corpus = gen.orclog_corpus("", ctx.seed + 2, self.FILES, self.ROWS_PER_RUN,
                                        blocks_per_file=2, runs_per_block=3, write=False)
        self.warm = gen.orclog_corpus("", warm_seed(ctx.seed), 2, self.ROWS_PER_RUN,
                                      blocks_per_file=2, runs_per_block=3, write=False)

    def _dirs(self, tag):
        base = os.path.join(self.ctx.work, f"stream_{tag}")
        shutil.rmtree(base, ignore_errors=True)
        d = {k: os.path.join(base, k) for k in ("in", "stage", "ckpt", "out")}
        for k in ("in", "stage"):
            os.makedirs(d[k])
        return d

    @staticmethod
    def _land(d, name, text):
        tmp = os.path.join(d["stage"], name)
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, os.path.join(d["in"], name))

    def run(self, spark, tracer, layer: dict) -> tuple[list[Op], list[str]]:
        from pyspark.sql import functions as F

        from orc_spark.sources.io import read_table
        from orc_spark.sources.orclog import parse_orclog
        from orc_spark.streaming.orclog_stream import stream_orclog_parse

        # warm the streaming shapes on other inputs, outside every span
        w = self._dirs("warm")
        for name, text in self.warm.texts.items():
            self._land(w, name, text)
        stream_orclog_parse(spark, w["in"], w["ckpt"], w["out"]).awaitTermination()
        read_table(spark, w["out"]).toPandas()

        d = self._dirs("run")
        items = list(self.corpus.texts.items())
        due, landed = {}, {}
        t_start = time.time() + 0.2

        def generator():
            for i, (name, text) in enumerate(items):
                due[name] = t_start + i / self.RATE
                delay = due[name] - time.time()
                if delay > 0:
                    time.sleep(delay)
                self._land(d, name, text)
                landed[name] = time.time()

        th = threading.Thread(target=generator, name="file-generator")
        th.start()
        progress, invocations = [], 0
        while True:
            started = time.time()
            finished = not th.is_alive()
            with tracer.span("streaming.invocation", op="stream") as sp:
                q = stream_orclog_parse(spark, d["in"], d["ckpt"], d["out"])
                q.awaitTermination()
            if tracer.store:  # micro-batch jobs run in the query's own job group
                sp["spark"] = tracer.store.counts(str(q.runId))
            invocations += 1
            progress += [json.loads(p.json) for p in q.recentProgress]
            if (finished and started > max(landed.values())) or q.exception() is not None:
                break
        th.join()
        batch_end = {p["batchId"]: _progress_end(p) for p in progress if p.get("numInputRows", 0) > 0}
        batch_of = _source_log(d["ckpt"])
        gen_stop = max(landed.values())
        ops = []
        for name, _ in items:
            b = batch_of.get(name)
            if b in batch_end:
                ops.append(Op(name, batch_end[b] - due[name]))
            else:
                ops.append(Op(name, float("nan"), error="file never committed"))

        probe = items[len(items) // 2][0]
        probe_path = next(
            r.file for r in read_table(spark, d["out"]).select("file").distinct().collect()
            if os.path.basename(r.file) == probe
        )
        with tracer.span("sources.io.read", op="stream") as sp:
            df = read_table(spark, d["out"]).where(F.col("file") == probe_path)
            readback = df.toPandas()

        batches = [p for p in progress if p.get("numInputRows", 0) > 0]

        def mean_s(*keys):
            vals = [sum(p["durationMs"].get(k, 0) for k in keys) / 1e3 for p in batches]
            return statistics.fmean(vals) if vals else 0.0

        n_rows = self.corpus.data_rows
        files = glob.glob(os.path.join(d["out"], "*.orc"))
        layer.update({
            "streaming.invocations": invocations,
            "streaming.batch_s": mean_s("triggerExecution"),
            "streaming.add_batch_s": mean_s("addBatch"),
            "streaming.plan_s": mean_s("queryPlanning"),
            "streaming.list_s": mean_s("latestOffset", "getBatch"),
            "streaming.backlog_files": sum(
                1 for n, _ in items if batch_end.get(batch_of.get(n), 0) > gen_stop),
            "streaming.generator_lag_s": max(landed[n] - due[n] for n, _ in items),
            "streaming.freshness_p50_s": statistics.median(
                o.latency for o in ops if o.error is None) if any(o.error is None for o in ops) else 0.0,
            "sources.io.orc_bytes_per_row": sum(map(os.path.getsize, files)) / n_rows,
            "sources.io.orc_read_s": sp["end"] - sp["start"],
            "sources.io.pushdown_rows_ratio": _scan_rows(df) / n_rows,
        })

        # checks: the ORC table must equal the batch parse of the same files
        # and hold exactly the generator's rows per (file, group, run)
        key = ["file", "line_no"]

        def norm(pdf):
            pdf = pdf.assign(file=pdf["file"].map(os.path.basename))
            return pdf.sort_values(key, ignore_index=True)

        table = norm(read_table(spark, d["out"]).toPandas())
        batch = norm(parse_orclog(spark, [os.path.join(d["in"], n) for n, _ in items]).toPandas())
        cols = sorted(batch.columns)
        expected = check.parse_counts_expected(self.corpus.runs)
        by_file = dict(tuple(table.groupby("file")))
        bad = set()
        for name, g in batch.groupby("file"):
            counts = g.groupby(["actuators_enabled", "run_idx"]).size()
            if any(expected.get((name, bool(en), int(r))) != n for (en, r), n in counts.items()):
                bad.add(name)
            t = by_file.get(name)
            if t is None or not t[cols].reset_index(drop=True).equals(g[cols].reset_index(drop=True)):
                bad.add(name)
        for op in ops:
            if op.error is None and op.name in bad:
                op.error = "wrong result: ORC rows differ from the batch parse"
        problems = []
        if len(table) != len(batch) or len(batch) != n_rows:
            problems.append(f"ORC table {len(table)} rows, batch parse {len(batch)}, generated {n_rows}")
        want = batch[batch["file"] == probe].reset_index(drop=True)
        if not norm(readback)[cols].equals(want[cols]):
            problems.append("pushdown read-back differs from the batch parse")
        if readback.empty or norm(check.perturbed(readback))[cols].equals(want[cols]):
            problems.append("self-test: a perturbed read-back was not caught")
        return ops, problems


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------

class QueryMix(Workload):
    name = "query_mix"
    PASS_S = 2.2  # nominal seconds of one pass over QUERY_MIX at local[3]
    # passes per set-up cycle: pass time kept falling for several passes
    # after the JVM started (2.6 s -> 1.7 s), and runs timed early on that
    # warm-up curve spread by where on it they were
    WARM_PASSES = 2

    def prepare(self):
        c = self.ctx
        self.sf = os.path.join(c.work, "tables")
        self.warm_sf = os.path.join(c.work, "tables_warm")
        gen.star_schema(self.sf, c.seed)
        gen.star_schema(self.warm_sf, warm_seed(c.seed))
        from orc_spark.plans import registry

        reg = registry()
        self.queries = [reg[n] for n in QUERY_MIX]

    def warm(self, spark):
        for _ in range(self.WARM_PASSES):
            for q in self.queries:
                q.spark_fn(spark, self.warm_sf).toPandas()

    def run(self, spark, seconds, tracer):
        ops = [(q.name, (lambda q=q: collect_op(spark, tracer, q.name,
                                                 lambda: q.spark_fn(spark, self.sf))))
               for q in self.queries]
        return closed_loop(ops, seconds, self.PASS_S)

    def check(self, spark, ops):
        oracles = check.Oracles(
            self.sf, os.path.join(self.ctx.cache, "oracle"),
            f"{self.ctx.gen_digest}:{self.ctx.seed}",
        )
        by_name = {q.name: q for q in self.queries}
        verdicts = {}
        try:
            for op in ops:
                if op.error:
                    continue
                try:
                    key = (op.name, int(pd.util.hash_pandas_object(op.result, index=False).sum()),
                           tuple(op.result.columns))
                except TypeError:  # unhashable cells (arrays): check every time
                    key = None
                if key is None or key not in verdicts:
                    v = check.same(op.result, oracles.get(op.name, by_name[op.name].oracle))
                    if key is not None:
                        verdicts[key] = v
                else:
                    v = verdicts[key]
                if v:
                    op.error = f"wrong result: {v}"
            first = next((o for o in ops if o.result is not None), None)
            self.selftest = first is not None and check.same(
                check.perturbed(first.result), oracles.get(first.name, by_name[first.name].oracle)
            ) is not None
        finally:
            oracles.close()
        return []

    def probe_layers(self, spark, tracer):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from orc_spark.operators.control import pid_params, pid_replay
        from orc_spark.operators.graph import connected_components
        from orc_spark.plans.cluster_q import JACCARD_MIN
        from orc_spark.plans.dedup_q import dd_minhash_pairs
        from orc_spark.plans.stateful_q import DT, Z_XL_GAINS
        from orc_spark.sources.tables import TABLES, load_table

        with tracer.span("sources.tables.load", op="layer") as sp:
            for t in TABLES:
                load_table(spark, self.sf, t)
        self.layer["sources.tables.load_s"] = sp["end"] - sp["start"]

        ev = load_table(spark, self.sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        series = ev.select(
            "user_id",
            (F.row_number().over(w) - 1).cast("bigint").alias("ord"),
            (F.col("value") / 100.0).alias("meas"),
        ).localCheckpoint(eager=True)
        params = pid_params(*Z_XL_GAINS, DT, -30000.0, 30000.0)
        with tracer.span("operators.control.pid_replay", op="layer") as sp:
            pid_replay(series, "meas", ["user_id"], "ord", params, f32=False).toPandas()
        self.layer["operators.control.pid_replay_s"] = sp["end"] - sp["start"]
        series.unpersist()

        edges_pdf = (
            dd_minhash_pairs(spark, self.sf)
            .where(F.col("est_jaccard") >= JACCARD_MIN)
            .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            .toPandas()
        )
        edges = spark.createDataFrame(edges_pdf, "src long, dst long").localCheckpoint(eager=True)
        nodes = (load_table(spark, self.sf, "documents")
                 .select(F.col("doc_id").alias("node")).localCheckpoint(eager=True))
        with tracer.span("operators.graph.cc", op="layer") as sp:
            connected_components(nodes, edges).toPandas()
        self.layer["operators.graph.cc_s"] = sp["end"] - sp["start"]
        self.layer["operators.graph.edges"] = len(edges_pdf)
        edges.unpersist()
        nodes.unpersist()
        return [], []


WORKLOADS = {w.name: w for w in (OrclogReport, QueryMix)}
