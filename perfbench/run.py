#!/usr/bin/env python3
"""Layer-attributed benchmark for the spark-graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a source checkout. One run is one fresh process
with one ``local[N]`` session (N = CPUs available, also exported as
``SPARK_GRAFT_CPUS``) built by the engine's own session factory. A
single closed-loop client runs the workload's items one after another,
each forced to completion: one cold pass, then measured warm passes:
``WARM_PASSES`` of them (in a traced run, whole ABBA blocks of untraced
and traced passes), and at least ``--seconds`` of them. Outputs are
checked every run (registry queries against their DuckDB oracles; the
warehouse pipeline against counts planted by the input generator).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (see README.md). The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

import ledger
import workloads as W
from oracle import Oracles, check

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "data_integration_and_visualization_uc3m_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 175


def process_start() -> float:
    """Wall-clock time at which this process was started."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Point everything the engine writes into the work directory and
    make the package importable by Python workers from any cwd."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local"), os.path.join(WORK, "derby")):
        os.makedirs(d, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    env["TMPDIR"] = tmp
    derby = os.path.join(WORK, "derby")
    env["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Dderby.system.home={derby} '
        f'-Dderby.stream.error.file={derby}/derby.log" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path.insert(0, ROOT)


def setup(t0: float):
    """Session ready and registry imported; times from process start."""
    from data_integration_and_visualization_uc3m_spark.session import get_spark

    a = time.time()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    b = time.time()
    from data_integration_and_visualization_uc3m_spark import queries as Q

    qs, oracles = Q.all_queries(), Q.all_oracles()
    c = time.time()
    return spark, qs, oracles, {
        "setup_s": c - t0, "session.get_spark_s": b - a, "queries.import_s": c - b,
    }


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def calibrate(spark) -> float:
    """Fixed CPU yardstick (bench.py's xor-reduce), median of 3: it puts
    host speed next to every record."""
    runs = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 20_000_000, 1, 16).selectExpr("bit_xor(xxhash64(id)) AS s").collect()
        runs.append(time.perf_counter() - t)
    return statistics.median(runs)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Bench:
    def __init__(self, args, spark, qs, oracles):
        import datagen  # numpy and pyarrow: imported after set-up is timed

        self.args, self.spark = args, spark
        self.attempted = 0
        self.failed = 0
        self.tracer = ledger.Tracer()
        self.probe = self.stream = None
        self.steal_share = 0.0
        self.last_df: dict = {}
        name, seed = args.workload, args.seed
        data_dir = datagen.registry_tables(WORK, W.SCALE)
        self.warehouse = None
        query_names = {"iterative_chains": W.ITERATIVE_CHAINS,
                       "warehouse_load": W.WAREHOUSE_QUERIES}[name]
        self.queries = [W.Item(q, lambda q=q: qs[q](spark, data_dir)) for q in query_names]
        # every registry query the benchmark runs must have an oracle
        expected = Oracles(WORK, data_dir)
        self.expected = {q: expected.expected(q, oracles[q]) for q in query_names}
        expected.close()
        if name == "warehouse_load":
            feeds = datagen.warehouse_feeds(seed, os.path.join(WORK, "feeds", str(seed)))
            token = f"{os.getpid()}"
            self.warehouse = W.Warehouse(spark, feeds, WORK, token)
        self.items = (self.warehouse.items() if self.warehouse else []) + self.queries

    def fail(self, what: str) -> None:
        self.failed += 1
        log(f"FAILED {what}")

    def run_pass(self, p: int, kind: str, traced: bool) -> dict:
        wh = self.warehouse
        if wh:
            wh.begin_pass(p)
        rec = {"pass": p, "kind": kind, "traced": traced, "items": {}}
        if traced:
            self.probe.skip_to_now()
            self.stream.attach()
            pass_span = self.tracer.add(f"{self.args.workload}/{p}", 0, None, time.time(), 0)
            rec["calls"] = []
        start = time.time()
        for item in self.items:
            group = f"{self.args.workload}/{item.name}#{p}"
            if traced:
                self.probe.set_group(group)
            self.attempted += 1
            t0 = time.time()
            df = None
            try:
                df = item.fn()
                t1 = time.time()
                if df is not None:
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
                rec["items"][item.name] = t2 - t0
                self.last_df[item.name] = df
            except Exception as ex:  # noqa: BLE001 - counted, run continues
                t1 = t2 = time.time()
                self.last_df.pop(item.name, None)
                self.fail(f"{group}: {type(ex).__name__}: {str(ex).splitlines()[0][:300]}")
            if traced:
                self.probe.clear_group()
                rec["calls"].append(self.trace_call(pass_span, p, item, group, df, t0, t1, t2))
        end = time.time()
        rec["wall"] = end - start
        log(f"pass {p} {kind}{' traced' if traced else ''}: {rec['wall']:.3f} s")
        if traced:
            self.stream.detach()
            pass_span.start, pass_span.end = start, time.time()
            rec["busy"] = sum(c["t2"] - c["t0"] for c in rec["calls"])
        if wh:
            self.attempted += 1
            for bad in wh.check():
                self.fail(f"{self.args.workload}#{p} check: {bad}")
                break
            wh.end_pass()
        return rec

    def trace_call(self, pass_span, p, item, group, df, t0, t1, t2) -> dict:
        tid = self.tracer.new_trace()
        base = f"{self.args.workload}/{p}/{item.name}"
        q = self.tracer.add(base, tid, pass_span.span_id, t0, t2)
        fn = self.tracer.add(f"{base}/fn", tid, q.span_id, t0, t1)
        act = self.tracer.add(f"{base}/action", tid, q.span_id, t1, t2)
        jobs = self.probe.new_jobs(group)
        for j in jobs:
            home = fn if j["start"] < t1 else act
            if j["end"] > home.end + ledger.CLOCK_SLACK_S:
                home = q if j["end"] <= q.end + ledger.CLOCK_SLACK_S else pass_span
            j["in_fn"] = home is fn
            self.tracer.add(f"{base}/job{j['job_id']}", tid, home.span_id, j["start"], j["end"],
                            stages=len(j["stages"]), in_group=j["in_group"])
        plan = 0.0
        if df is not None:
            try:
                plan = ledger.plan_seconds(df)
            except Exception:  # noqa: BLE001 - the action already failed
                pass
        return {"item": item, "t0": t0, "t1": t1, "t2": t2, "jobs": jobs, "plan_s": plan,
                "storage": self.probe.storage()}

    def run(self) -> list[dict]:
        """Cold pass, then measured warm passes. In a traced run the cold
        pass is traced and the warm passes go in whole ABBA blocks
        (untraced, traced, traced, untraced), so passes that keep
        getting faster favour neither side of the overhead figure."""
        trace, name = self.args.trace, self.args.workload
        if trace:
            self.probe = ledger.SparkProbe(self.spark)
            self.stream = ledger.StreamProbe(self.spark)
        passes = [self.run_pass(0, "cold", bool(trace))]
        start, k = time.time(), 0
        steal0, total0 = ledger.cpu_ticks()
        while True:
            traced = bool(trace) and k % 4 in (1, 2)
            passes.append(self.run_pass(len(passes), "warm", traced))
            k += 1
            enough = k >= W.WARM_PASSES[name] and not (trace and k % 4)
            if enough and time.time() - start >= self.args.seconds:
                break
        steal1, total1 = ledger.cpu_ticks()
        self.steal_share = (steal1 - steal0) / max(total1 - total0, 1)
        return passes

    def verify(self) -> None:
        """Check the results of the last pass against the oracles."""
        for item in self.queries:
            self.attempted += 1
            try:
                df = self.last_df.get(item.name)
                bad = check(item.fn() if df is None else df, self.expected[item.name])
            except Exception as ex:  # noqa: BLE001
                bad = f"{type(ex).__name__}: {str(ex).splitlines()[0][:300]}"
            if bad:
                self.fail(f"{item.name} vs oracle: {bad}")


def end_to_end(passes: list[dict]) -> dict:
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    names = list(passes[0]["items"])
    per_item = []
    for n in names:
        times = [p["items"][n] for p in warm if n in p["items"]]
        if times:
            per_item.append(statistics.median(times))
            log(f"item {n}: cold {passes[0]['items'][n]:.3f} s, warm median "
                f"{per_item[-1]:.3f} s (n={len(times)})")
    return {
        "cold_pass_s": (passes[0]["wall"], "s", 1),
        "warm_pass_s": (statistics.median(p["wall"] for p in warm), "s", len(warm)),
        "warm_query_geomean_s": (statistics.geometric_mean(per_item), "s", len(per_item)),
    }


def layer_row(p: dict, batches: list[dict]) -> dict:
    """Every layer figure of one traced pass."""
    r = dict.fromkeys(LAYER_FIGURES, 0.0)
    stages = []
    for c in p["calls"]:
        fn_s, act_s = c["t1"] - c["t0"], c["t2"] - c["t1"]
        r["queries.fn_s"] += fn_s
        r["sinks.action_s"] += act_s
        r["queries.plan_s"] += c["plan_s"]
        if c["item"].layer:
            r[c["item"].layer] += fn_s
        for j in c["jobs"]:
            r["spark.jobs"] += 1
            r["queries.fn_jobs"] += j["in_fn"]
            if c["item"].name == "validate":
                r["plans.validate_jobs"] += 1
            r["spark.jobs_other_group"] += not j["in_group"]
            r["spark.skipped_stages"] += j["skipped_stages"]
            r["spark.failed_tasks"] += j["failed_tasks"]
            stages += j["stages"]
        mine = [b for b in batches
                if c["t0"] - ledger.CLOCK_SLACK_S <= b["ts"] <= c["t1"]]
        if mine:
            r["streaming.batches"] += len(mine)
            t = sum(b["trigger_s"] for b in mine)
            r["streaming.trigger_s"] += t
            r["streaming.add_batch_s"] += sum(b["add_batch_s"] for b in mine)
            r["streaming.commit_s"] += sum(b["commit_s"] for b in mine)
            r["streaming.idle_s"] += fn_s - t
            r["streaming.state_rows_peak"] = max(
                r["streaming.state_rows_peak"], max(b["state_rows"] for b in mine))
            r["streaming.state_mb_peak"] = max(
                r["streaming.state_mb_peak"], max(b["state_bytes"] for b in mine) / 2**20)
    mb = 2**20
    r["spark.stages"] = len(stages)
    r["spark.tasks"] = sum(s["tasks"] for s in stages)
    r["spark.tasks_per_stage_min"] = min((s["tasks"] for s in stages), default=0)
    r["spark.executor_run_s"] = run_s = sum(s["run_s"] for s in stages)
    r["spark.executor_cpu_s"] = cpu_s = sum(s["cpu_s"] for s in stages)
    r["spark.gc_s"] = sum(s["gc_s"] for s in stages)
    r["spark.deser_s"] = sum(s["deser_s"] for s in stages)
    r["spark.shuffle_read_mb"] = sum(s["shuffle_read_bytes"] for s in stages) / mb
    r["spark.shuffle_write_mb"] = sum(s["shuffle_write_bytes"] for s in stages) / mb
    r["spark.spill_mb"] = sum(s["spill_bytes"] for s in stages) / mb
    r["sources.input_mb"] = sum(s["input_bytes"] for s in stages) / mb
    r["sources.input_rows"] = sum(s["input_rows"] for s in stages)
    wall, cores = p["busy"], cpus()
    r["spark.residual_s"] = wall - run_s / cores
    r["spark.cpu_base_s"] = wall * cores
    r["spark.cpu_util"] = cpu_s / (wall * cores)
    rdds, smb = max((c["storage"] for c in p["calls"]), default=(0, 0.0))
    r["operators.storage_rdds_live"], r["operators.storage_mb"] = rdds, smb
    return r


def per_layer(bench: Bench, passes: list[dict]) -> dict:
    """Median, over the traced warm passes, of each layer figure; the
    cold pass's own figures under ``cold.``; and the tracing overhead
    from the ABBA blocks of warm passes."""
    warm = [p for p in passes if p["kind"] == "warm"]
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    batches = bench.stream.batches
    rows = [layer_row(p, batches) for p in traced]
    out = {k: (statistics.median(r[k] for r in rows), LAYER_FIGURES[k], len(rows))
           for k in LAYER_FIGURES}
    cold = layer_row(passes[0], batches)
    for k in COLD_FIGURES:
        out[f"cold.{k}"] = (cold[k], LAYER_FIGURES[k], 1)
    t_sum = sum(p["wall"] for p in traced)
    u_sum = sum(p["wall"] for p in untraced)
    out["trace.pass_s"] = (statistics.median(p["wall"] for p in traced), "s", len(traced))
    out["trace.untraced_pass_s"] = (
        statistics.median(p["wall"] for p in untraced), "s", len(untraced))
    out["trace.overhead_share"] = (t_sum / u_sum - 1, "share", len(traced))
    return out


LAYER_FIGURES = {
    "queries.fn_s": "s", "queries.fn_jobs": "count", "queries.plan_s": "s",
    "sinks.action_s": "s", "sinks.jdbc_load_s": "s", "sinks.csv_egress_s": "s",
    "sources.read_s": "s", "plans.transform_s": "s", "plans.validate_s": "s",
    "plans.validate_jobs": "count", "sources.input_mb": "MB", "sources.input_rows": "count",
    "spark.jobs": "count", "spark.jobs_other_group": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.tasks_per_stage_min": "count",
    "spark.skipped_stages": "count", "spark.failed_tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.deser_s": "s", "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.residual_s": "s", "spark.cpu_util": "share",
    "spark.cpu_base_s": "s", "operators.storage_rdds_live": "count",
    "operators.storage_mb": "MB", "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.commit_s": "s",
    "streaming.state_rows_peak": "count", "streaming.state_mb_peak": "MB",
    "streaming.idle_s": "s",
}
# figures of the cold pass, reported apart: what cold_pass_s pays for
COLD_FIGURES = ("queries.fn_s", "queries.plan_s", "sinks.action_s", "spark.jobs",
                "spark.executor_run_s", "spark.residual_s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"perfbench: no {PACKAGE} package under {ROOT}; run from a source checkout")
        return 2
    if args.workload not in W.WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {W.WORKLOADS}")
        return 2

    def _deadline(*_):
        raise SystemExit("perfbench: run exceeded its deadline")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    t0 = process_start()
    configure_env()
    spark, qs, oracles, setup_times = setup(t0)
    bench = Bench(args, spark, qs, oracles)
    passes = bench.run()
    bench.verify()
    calib = calibrate(spark)
    rss = ledger.process_tree_hwm_mb(os.getpid())
    layers = per_layer(bench, passes) if args.trace else None
    stop(spark)

    if args.trace:
        metrics = dict(layers)
        metrics["session.get_spark_s"] = (setup_times["session.get_spark_s"], "s", 1)
        metrics["queries.import_s"] = (setup_times["queries.import_s"], "s", 1)
        metrics["host.calib_s"] = (calib, "s", 3)
        metrics["host.steal_share"] = (bench.steal_share, "share", 1)
        metrics["failed_share"] = (bench.failed / bench.attempted, "share", bench.attempted)
        metrics["peak_rss_mb"] = (rss, "MB", 1)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "metrics": {k: {"value": v, "unit": u, "samples": n}
                                   for k, (v, u, n) in metrics.items()},
                       "spans": bench.tracer.dump()}, f)
        print(f"spans and per-layer record: {os.path.relpath(path, ROOT)}")
    else:
        metrics = end_to_end(passes)
        metrics["setup_s"] = (setup_times["setup_s"], "s", 1)
        # host speed and interference, stamped on every record; not
        # end-to-end metrics
        print(f"{args.workload} host.calib_s {calib:.6g} s (n=3)")
        print(f"{args.workload} host.steal_share {bench.steal_share:.6g} share (n=1)")
    for k, (v, u, n) in metrics.items():
        print(f"{args.workload} {k} {v:.6g} {u} (n={n})")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, n) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
