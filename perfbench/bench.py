"""One benchmark run in a fresh process (started by ``perfbench/run.py``).

A run sets up the engine's default session and runs one untimed warm-up
round of its workload; that ends set-up (``setup_s``). The workload's
further untimed warm-up rounds follow, then closed-loop rounds with a
single client until ``--seconds`` have passed. Every operation's result is checked outside the timed
spans. With ``--trace 1`` the engine's public
functions are wrapped and Spark's own counters are read per operation;
the run then reports per-layer metrics instead of end-to-end ones.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The process then
exits without stopping Spark; run.py kills the whole process group.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import resource
import statistics
import sys
import time
import traceback

import pyarrow.parquet as pq

# set by run.py just before this process is spawned: process start for setup_s
T0 = float(os.environ.get("PERFBENCH_T0", time.time()))

from morphl_community_edition_spark import catalog, session  # noqa: E402
from morphl_community_edition_spark.ml import churn  # noqa: E402
from morphl_community_edition_spark.operators import (  # noqa: E402
    checkpointing,
    manifest,
    point_lookup,
)
from morphl_community_edition_spark.pipelines import daily  # noqa: E402
from morphl_community_edition_spark.plans import hints  # noqa: E402
from morphl_community_edition_spark.queries import QUERIES  # noqa: E402
from morphl_community_edition_spark.queries.workload import engagement_features  # noqa: E402

import oracle  # noqa: E402
from spans import PHASES, STAGE_FIELDS, Tracer, rebind, storage_mb  # noqa: E402

REPORT = (
    "q01_pricing_summary", "q03_star_topk", "q05_six_table_join",
    "q15_rank_running_sum", "q17_json_agg", "q16_sessionize", "q12_cosine_topk",
    "q06_rollup", "q14_asof_join", "q31_engagement_churn", "q79_tpch_q9",
)
CURATION = (
    "q143_pagerank", "q145_label_propagation", "q147_quality_keeper_dedup",
    "q114_incremental_dedup", "q129_semantic_dedup", "q168_quantile_rollup",
)
# q129 has no oracle of its own (its KMeans cells are an implementation
# choice); its clusters must refine the exact q128 oracle's clusters
REFINES = {"q129_semantic_dedup": "q128_semantic_dedup_exact"}
LOOKUPS_PER_ROUND = 48
STAGES = daily.STAGES
HINTS = ("broadcast_if_small", "fan_out_narrow_scan", "pinned_order", "capped_order",
         "dataset_file_bytes")
# layer metrics only the daily workload exercises, with their units
DAILY_UNITS = {
    "operators.point_lookup.build_s": "s",
    "operators.point_lookup.plan_s": "s",
    "operators.point_lookup.files_read": "count",
    "operators.point_lookup.rows_scanned_per_row": "ratio",
    "pipelines.bytes_written_per_input_byte": "ratio",
    "ml.train_s": "s",
    "ml.train_jobs": "count",
    **{f"pipelines.stage_s.{st}": "s" for st in STAGES},
    **{f"pipelines.jobs.{st}": "count" for st in STAGES},
}


class Workload:
    """Closed-loop rounds of operations; subclasses define one round."""

    # untimed rounds before the timed phase, the set-up round included
    warmup_rounds = 1

    def __init__(self, spark, args, tracer: Tracer | None):
        self.spark, self.sf_dir, self.work = spark, args.sf_dir, args.work
        self.cache = args.cache
        self.rng = random.Random(args.seed)
        self.tracer = tracer
        self.attempted = self.failed = 0
        self.latencies: list[float] = []  # primary operations of timed rounds
        self.rounds: list[float] = []
        self.timed = False
        self._check_s = 0.0
        self.ops: list[dict] = []  # per-operation trace records of timed rounds

    # ------------------------------------------------------------ running
    def run_for(self, seconds: float) -> None:
        """Whole rounds until ``seconds`` have passed, at least one."""
        start = time.perf_counter()
        while True:
            self.run_round()
            if time.perf_counter() - start >= seconds:
                return

    def run_round(self) -> None:
        self._check_s = 0.0
        t = time.perf_counter()
        self.round()
        if self.timed:
            self.rounds.append(time.perf_counter() - t - self._check_s)

    def op(self, kind: str, fn, primary: bool = True):
        """Run ``fn`` as one operation; returns its result, or None if it raised."""
        self.attempted += 1
        rec = {"kind": kind, "primary": primary}
        tr = self.tracer
        if tr is not None:
            rec["group"] = tr.begin_op(kind)
            rec["storage0"] = storage_mb(self.spark)
            rec["span0"] = len(tr.spans)
        t = time.perf_counter()
        try:
            with tr.span(f"op.{kind}") if tr else contextlib.nullcontext():
                result = fn(rec)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            result = None
        rec["latency"] = time.perf_counter() - t
        if tr is not None:
            tr.end_op()
            self._record_spark(rec)
        if self.timed:
            if primary:
                self.latencies.append(rec["latency"])
            self.ops.append(rec)
        return result

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    @contextlib.contextmanager
    def untimed(self):
        """Time spent inside is excluded from the current round's wall time."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self._check_s += time.perf_counter() - t

    def _record_spark(self, rec: dict) -> None:
        tr = self.tracer
        t = time.perf_counter()
        jobs = tr.jobs(rec["group"])
        rec["action_jobs"] = len(jobs) - rec.setdefault("build_jobs", 0)
        rec.update(tr.stage_totals(jobs))
        held, rdds = storage_mb(self.spark)
        rec["pin_delta_mb"] = held - rec["storage0"][0]
        rec["rdd_delta"] = rdds - rec["storage0"][1]
        self._check_s += time.perf_counter() - t

    # ---------------------------------------------------------- reporting
    def end_to_end(self, setup_s: float) -> dict:
        return {
            "setup_s": (setup_s, "s"),
            "round_s": (statistics.median(self.rounds), "s"),
            "op_p50_s": (statistics.median(self.latencies), "s"),
            "op_p90_s": (self.op_p90_s(), "s"),
        }

    def op_p90_s(self) -> float:
        lat = self.latencies
        return statistics.quantiles(lat, n=10, method="inclusive")[-1] if len(lat) > 1 else lat[0]

    def layer_metrics(self) -> dict:
        """Per-layer metrics from the traced timed rounds (see METRICS.md)."""
        tr = self.tracer
        ops = self.ops
        prim = [o for o in ops if o["primary"]] or [{}]
        queries = [o for o in ops if o["kind"] == "query"]
        n_rounds = len(self.rounds)
        n_q = max(1, len(queries))
        per_round = lambda key: sum(o.get(key, 0.0) for o in ops) / n_rounds  # noqa: E731
        mean = lambda rows, key: statistics.fmean(r.get(key, 0.0) for r in rows)  # noqa: E731
        span0 = ops[0]["span0"]
        c = tr.counts
        out = {
            "catalog.load_table_calls": (c["catalog.calls"] / n_q, "count"),
            "catalog.memo_hit_ratio": (c["catalog.hits"] / max(1.0, c["catalog.calls"]), "ratio"),
            "queries.build_s": (tr.self_time("queries.build", span0) / n_q, "s"),
            "queries.build_jobs": (sum(o["build_jobs"] for o in queries) / n_q, "count"),
            "spark.action_s": (mean(prim, "action_s"), "s"),
            "spark.action_jobs": (mean(prim, "action_jobs"), "count"),
            "spark.stages": (mean(prim, "stages"), "count"),
            "spark.tasks": (mean(prim, "tasks"), "count"),
            "plans.hints_calls": (c["plans.calls"] / n_q, "count"),
            "plans.hints_s": (tr.self_time("plans.", span0) / n_q, "s"),
            "operators.loop_checkpoint_calls": (c["loop_checkpoint.calls"] / n_q, "count"),
            "operators.loop_checkpoint_s": (tr.self_time("operators.loop_checkpoint", span0) / n_q, "s"),
            "operators.pin_delta_mb": (mean(ops, "pin_delta_mb"), "MB"),
            "operators.persistent_rdds": (mean(ops, "rdd_delta"), "count"),
            "operators.manifest.commits": (c["manifest.commits"] / n_rounds, "count"),
            "operators.manifest.fsync_s": (tr.self_time("operators.manifest.fsync", span0) / n_rounds, "s"),
        }
        for name in PHASES:
            out[f"spark.{name}_ms"] = (mean(prim, name), "ms")
        for key, (_getter, _scale, unit) in STAGE_FIELDS.items():
            out[f"spark.{key}"] = (per_round(key), unit)
        out.update(self.extra_layer_metrics())
        return out

    def extra_layer_metrics(self) -> dict:
        """Layer metrics only ``daily`` exercises; 0 elsewhere."""
        return {k: (0.0, u) for k, u in DAILY_UNITS.items()}

    def finish(self) -> None:
        """Compare the collected results with their references (untimed)."""


class QueryWorkload(Workload):
    """Each round rebuilds and collects every query once, in seeded order."""

    names: tuple[str, ...] = ()

    def __init__(self, *args):
        super().__init__(*args)
        self.results: dict[str, list] = {n: [] for n in self.names}

    def round(self) -> None:
        order = list(self.names)
        self.rng.shuffle(order)
        for name in order:
            pdf = self.op("query", lambda rec, n=name: self._invoke(n, rec))
            if pdf is not None:
                with self.untimed():
                    self.results[name].append(
                        pdf if name in REFINES else oracle.canon_hash(pdf)
                    )

    def _invoke(self, name: str, rec: dict):
        rec["name"] = name
        tr = self.tracer
        if tr is None:
            return QUERIES[name](self.spark, self.sf_dir).toPandas()
        with tr.span("queries.build"):
            df = QUERIES[name](self.spark, self.sf_dir)
        rec["build_jobs"] = len(tr.jobs(rec["group"]))
        t = time.perf_counter()
        with tr.span("spark.action"):
            pdf = df.toPandas()
        rec["action_s"] = time.perf_counter() - t
        rec.update(tr.phases_ms(df))
        return pdf

    def finish(self) -> None:
        plain = [n for n in self.names if n not in REFINES]
        exact = {REFINES[n]: n for n in self.names if n in REFINES}
        want = oracle.expected(self.sf_dir, self.cache, plain, exact)
        for name in plain:
            for h in self.results[name]:
                self.check(h == want[name], f"{name} result differs from its oracle")
        for ref, name in exact.items():
            for pdf in self.results[name]:
                self.check(oracle.refines(pdf, want[ref]), f"{name} does not refine {ref}")


class Report(QueryWorkload):
    names = REPORT
    # its 3 s rounds keep getting faster for several rounds after the
    # first (JIT); the other workloads' rounds settle after one
    warmup_rounds = 3


class Curation(QueryWorkload):
    names = CURATION


class Daily(Workload):
    """Day 1 builds the predictions table; every further round is one more
    day in the same workdir (SCD-1 upsert to a new version), a publish of
    the current predictions as a new point-lookup serving table, then a
    batch of point lookups against it."""

    def __init__(self, *args):
        super().__init__(*args)
        self.workdir = os.path.join(self.work, "daily")
        self.serving = None
        events = os.path.join(self.sf_dir, "events.parquet")
        self.input_bytes = os.path.getsize(events)
        self.users = sorted(set(pq.read_table(events, columns=["user_id"])["user_id"].to_pylist()))
        self.days: list[dict] = []
        self.day_trace: list[dict] = []

    def round(self) -> None:
        run = self.op("day", self._day, primary=False)
        if run is None:
            return
        self.days.append(run)
        self.op("publish", self._publish, primary=False)
        with self.untimed():
            pdf = daily.current_predictions(self.spark, self.workdir).toPandas()
            cols = sorted(pdf.columns)
            expected = {r["user_id"]: tuple(r[c] for c in cols) for r in pdf.to_dict("records")}
            if self.tracer is not None:
                self.day_trace[-1]["bytes_written"] = self._bytes_written(run["upsert"]["version"])
        for _ in range(LOOKUPS_PER_ROUND):
            keys = self.rng.sample(self.users, self.rng.randint(1, 8))
            rows = self.op("lookup", lambda rec, k=keys: self._lookup(k, rec))
            if rows is not None:
                with self.untimed():
                    got = sorted(tuple(r[c] for c in cols) for r in rows)
                    want = sorted(expected[k] for k in keys if k in expected)
                    self.check(got == want, f"point_lookup({keys}) rows differ from the predictions")

    def _day(self, rec: dict) -> dict:
        tr = self.tracer
        if tr is not None:
            tr.day = {"group": rec["group"], "t": time.perf_counter(), "jobs": 0, "stage_s": {}, "stage_jobs": {}}
            self.day_trace.append(tr.day)
        return daily.run_daily_pipeline(self.spark, self.sf_dir, self.workdir)

    def _publish(self, rec: dict) -> None:
        # one serving table per day, like the upsert's version dirs: an
        # overwrite would put a delete of the previous table in the timed path
        self.serving = os.path.join(self.work, "serving", f"day{len(self.days)}")
        preds = daily.current_predictions(self.spark, self.workdir)
        point_lookup.write_serving_table(preds, self.serving, "user_id")

    def _lookup(self, keys, rec: dict):
        tr = self.tracer
        df = point_lookup.point_lookup(self.spark, self.serving, keys)
        if tr is None:
            return df.collect()
        t = time.perf_counter()
        with tr.span("spark.action"):
            rows = df.collect()
        rec["action_s"] = time.perf_counter() - t
        rec.update(tr.phases_ms(df))
        files, scanned = tr.scan_metrics(df)
        rec["files_read"] = files
        rec["rows_scanned_per_row"] = scanned / len(rows) if rows else 0.0
        return rows

    def _bytes_written(self, version: str) -> int:
        total = 0
        for sub in ("landing",) + STAGES:
            root = os.path.join(self.workdir, sub)
            if sub == "upsert":
                root = os.path.join(root, version)
            for dirpath, _dirs, files in os.walk(root):
                total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    def extra_layer_metrics(self) -> dict:
        tr = self.tracer
        ops = self.ops
        lookups = [o for o in ops if o["kind"] == "lookup"]
        days = self.day_trace[-len(self.rounds):]
        span0 = ops[0]["span0"]
        n_pub = max(1, sum(o["kind"] == "publish" for o in ops))
        values = {
            "operators.point_lookup.build_s": tr.self_time("operators.point_lookup.build", span0) / n_pub,
            "operators.point_lookup.plan_s": tr.self_time("operators.point_lookup.plan", span0) / len(lookups),
            "operators.point_lookup.files_read": statistics.fmean(o["files_read"] for o in lookups),
            "operators.point_lookup.rows_scanned_per_row": statistics.fmean(
                o["rows_scanned_per_row"] for o in lookups),
            "pipelines.bytes_written_per_input_byte": statistics.fmean(
                d["bytes_written"] for d in days) / self.input_bytes,
            "ml.train_s": tr.self_time("ml.train", span0) / len(days),
            "ml.train_jobs": tr.counts["ml.train_jobs"] / len(days),
        }
        for st in STAGES:
            values[f"pipelines.stage_s.{st}"] = statistics.fmean(d["stage_s"][st] for d in days)
            values[f"pipelines.jobs.{st}"] = statistics.fmean(d["stage_jobs"][st] for d in days)
        return {k: (values[k], u) for k, u in DAILY_UNITS.items()}

    def finish(self) -> None:
        from morphl_community_edition_spark.ml.churn import label_high_purchaser

        events = catalog.load_table(self.spark, self.sf_dir, "events")
        want = daily.frame_hash(label_high_purchaser(engagement_features(events)))
        for i, run in enumerate(self.days):
            self.check(run["features"]["feature_hash"] == want, f"day {i + 1} feature_hash")
            self.check(run["upsert"]["n_rows"] == len(self.users), f"day {i + 1} n_rows")
            self.check(run["upsert"]["version"] == f"v{i + 1}", f"day {i + 1} version")


WORKLOADS = {"report": Report, "curation": Curation, "daily": Daily}


def instrument(tracer: Tracer, spark) -> None:
    """Wrap the engine's public layer functions at every binding."""
    memo = catalog._memo_for(spark)

    def on_load(args, kwargs):
        tracer.counts["catalog.calls"] += 1
        tracer.counts["catalog.hits"] += (args[1], args[2]) in memo

    def counter(key):
        return lambda args, kwargs: tracer.counts.__setitem__(key, tracer.counts[key] + 1)

    rebind(catalog, "load_table", tracer.wrap("catalog.load_table", on_load))
    for name in HINTS:
        rebind(hints, name, tracer.wrap(f"plans.{name}", counter("plans.calls")))
    rebind(checkpointing, "loop_checkpoint",
           tracer.wrap("operators.loop_checkpoint", counter("loop_checkpoint.calls")))
    rebind(point_lookup, "write_serving_table", tracer.wrap("operators.point_lookup.build"))
    rebind(point_lookup, "point_lookup", tracer.wrap("operators.point_lookup.plan"))
    rebind(manifest, "write_commit", tracer.wrap("operators.manifest.write_commit",
                                                 counter("manifest.commits")))
    rebind(manifest, "fsync_tree", tracer.wrap("operators.manifest.fsync_tree"))

    def train_wrapper(fn):
        def wrapper(*args, **kwargs):
            before = len(tracer.jobs(tracer.op))
            with tracer.span("ml.train"):
                out = fn(*args, **kwargs)
            tracer.counts["ml.train_jobs"] += len(tracer.jobs(tracer.op)) - before
            return out
        return wrapper

    rebind(churn, "train_churn_model", train_wrapper)

    def commit_wrapper(fn):
        def wrapper(workdir, stage, payload):
            out = fn(workdir, stage, payload)
            day = tracer.day
            now, jobs = time.perf_counter(), len(tracer.jobs(day["group"]))
            day["stage_s"][stage] = now - day["t"]
            day["stage_jobs"][stage] = jobs - day["jobs"]
            day["t"], day["jobs"] = now, jobs
            return out
        return wrapper

    rebind(daily, "_commit", commit_wrapper)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def pinned_mb(spark) -> float:
    """Executor storage still held by persisted or checkpointed RDDs,
    after a Python and a JVM garbage collection let Spark's cleaner
    release what nothing references any more."""
    gc.collect()
    spark._jvm.java.lang.System.gc()
    time.sleep(0.5)
    return storage_mb(spark)[0]


def note(msg: str) -> None:
    """A progress line; run.py relays these to its own stderr."""
    print(f"# {time.time() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cache", required=True, help="directory of cached oracle answers")
    ap.add_argument("--trace-out")
    args = ap.parse_args()

    t = time.perf_counter()
    spark = session.get_spark()
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if args.trace:
        tracer = Tracer(spark)
        instrument(tracer, spark)
    wl = WORKLOADS[args.workload](spark, args, tracer)
    note(f"session ready in {session_s:.2f}s")
    try:
        wl.run_round()
        setup_s = time.time() - T0 - wl._check_s  # result checks excluded
        note("set-up done")
        for _ in range(wl.warmup_rounds - 1):
            wl.run_round()
        note("warm-up done")
        wl.timed = True
        if tracer is not None:
            tracer.counts.clear()
        wl.run_for(args.seconds)
        note(f"{len(wl.rounds)} timed rounds done: " + " ".join(f"{r:.2f}s" for r in wl.rounds))
        note("operation latencies: " + " ".join(
            f"{o.get('name', o['kind'])}={o['latency']:.3f}s" for o in wl.ops))
        pinned = pinned_mb(spark) if tracer is not None else None
        rss = peak_rss_mb(spark) if tracer is not None else None
        wl.finish()
        note("checks done")
    finally:
        if tracer is not None and args.trace_out:
            with open(args.trace_out, "w") as f:
                json.dump(tracer.spans, f)

    metrics = wl.end_to_end(setup_s)
    if args.trace:
        traced = {f"traced.{k}": v for k, v in metrics.items()}
        traced["traced.peak_rss_mb"] = (rss, "MB")
        metrics = wl.layer_metrics()
        metrics["session.start_s"] = (session_s, "s")
        metrics["pinned_mb"] = (pinned, "MB")
        metrics.update(traced)
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip spark.stop() and interpreter teardown (seconds of JVM shutdown):
    # run.py kills this process group, the Spark JVM and its workers included
    os._exit(code)
