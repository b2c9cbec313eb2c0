"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed, sets the engine up, measures for about S seconds, checks every
answer, and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones. The line before it is a JSON record of the run's environment and
diagnostics. Exits non-zero, printing no result, if the engine is not
there to run.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "etl_pipeline_project_auraverse_spark"
sys.path.insert(0, ROOT)

from perfbench import envsetup, stats  # noqa: E402

WORKLOADS = ("tpch_relational", "llm_ops", "llm_ops_all", "etl_upload", "etl_bulk")
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "queries.load_all_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages_run": "count",
    "spark.stages_skipped": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "driver.gap_s": "s",
    "cache.setup_memo_builds": "count",
    "cache.memo_builds": "count",
    "cache.persisted_rdds": "count",
    "pipeline.run_s": "s",
    "pipeline.extract_s": "s",
    "pipeline.transform_s": "s",
    "pipeline.schema_s": "s",
    "pipeline.sink_s": "s",
    "pipeline.jobs": "count",
    "server.lock_wait_s": "s",
    "server.self_s": "s",
    "server.response_bytes": "bytes",
}
UPLOAD_CLIENTS = 2
UPLOADS_PER_CLIENT = 16  # more than a run sends: clients stop on time
BULK_DOCUMENTS = 3


class Context:
    """What a workload needs from the run: its arguments, a private work
    directory, and the clock that separates set-up from measurement."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark_conf = envsetup.spark_conf(work)
        self.spark = None
        self.java = ""
        self.own_s = 0.0  # the benchmark's own set-up work: inputs, oracle
        self.ready_at = 0.0

    @contextmanager
    def own(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t0

    def ready(self) -> None:
        self.ready_at = time.time()

    @property
    def setup_s(self) -> float:
        return self.ready_at - PROCESS_START - self.own_s


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def end_to_end(latencies: list[float], completed: int, wall: float,
               setup_s: float, peak_rss: int) -> dict[str, float | None]:
    """The end-to-end figures; the latency figure is None with no
    completed operation."""
    return {
        "setup_s": setup_s,
        "op_p50_s": stats.median(latencies) if latencies else None,
        "ops_per_s": completed / wall,
        "peak_rss_mb": peak_rss / 2**20,
    }


def mean_layers(per_op: list[dict[str, float]]) -> dict[str, float]:
    """Per-operation mean of each layer figure."""
    keys = {k for d in per_op for k in d}
    return {k: sum(d.get(k, 0.0) for d in per_op) / len(per_op) for k in keys} if per_op else {}


def etl_layers(out: dict, ops) -> dict[str, float]:
    """Per-request layer figures of the measured ETL requests, from the
    server's spans and job records."""
    server = out["server"]
    spans = [dict(zip(("name", "start", "end", "parent", "op"), s)) for s in server["spans"]]
    measured = {r["op"] for r in server["requests"] if r["locked"][0] >= out["t_start"]}
    per_op: dict[int, dict[str, float]] = {op: {} for op in measured}
    for idx, sp in enumerate(spans):
        if sp["op"] not in measured:
            continue
        kids = [(c["start"], c["end"]) for c in spans if c["parent"] == idx]
        self_s = stats.gap((sp["start"], sp["end"]), kids)
        layer = per_op[sp["op"]]
        if sp["name"] == "server.run_etl":
            layer["server.lock_wait_s"] = self_s
        elif sp["name"] == "server.run_etl_locked":
            layer["server.self_s"] = self_s
        elif sp["name"].startswith("pipeline."):
            key = sp["name"] + "_s"
            layer[key] = layer.get(key, 0.0) + self_s
    for r in server["requests"]:
        if r["op"] not in measured:
            continue
        jobs = r["jobs"]
        layer = per_op[r["op"]]
        layer.update({
            "pipeline.jobs": float(len(jobs)),
            "spark.jobs": float(len(jobs)),
            "spark.tasks": float(sum(j[2] for j in jobs)),
            "spark.stages_run": float(sum(j[3] for j in jobs)),
            "spark.stages_skipped": float(sum(j[4] for j in jobs)),
            "spark.job_busy_s": stats.union_length([(j[0], j[1]) for j in jobs], clip=tuple(r["locked"])),
            "spark.executor_run_s": sum(j[5] for j in jobs),
            "spark.executor_cpu_s": sum(j[6] for j in jobs),
            "spark.shuffle_read_bytes": float(sum(j[7] for j in jobs)),
            "spark.shuffle_write_bytes": float(sum(j[8] for j in jobs)),
            "spark.input_bytes": float(sum(j[9] for j in jobs)),
            "driver.gap_s": r["driver_gap_s"],
            "cache.persisted_rdds": float(r["persisted_rdds"]),
            "cache.memo_builds": float(r["memo_builds"]),
        })
    layers = mean_layers(list(per_op.values()))
    layers["server.response_bytes"] = (
        sum(o.response_bytes for o in ops) / len(ops) if ops else 0.0)
    layers["session.start_s"] = out["session_start_s"]
    return layers


def run_workload(ctx: Context, workload: str) -> tuple[dict, dict]:
    """Run one workload; returns (figures, diagnostics)."""
    from perfbench import datagen

    steal0 = envsetup.steal_jiffies()
    diag: dict = {}
    if workload in ("tpch_relational", "llm_ops", "llm_ops_all"):
        from perfbench import query_wl
        from perfbench.trace import RssSampler

        names_of = {
            "tpch_relational": query_wl.tpch_names,
            "llm_ops": lambda registry: list(query_wl.LLM_OPS),
            "llm_ops_all": lambda registry: list(query_wl.LLM_OPS_ALL),
        }[workload]
        with RssSampler(os.getpid()) as rss:
            out = query_wl.run(ctx, names_of)
        peak, split = rss.peak, rss.peak_split
        ctx.java = envsetup.java_version(ctx.spark)
        ops = out["ops"]
        layers = mean_layers([o.layers for o in ops if not o.errored])
        layers.update(out["setup_layers"])
        diag.update(out["extra"])
        diag["failures"] = [(o.name, o.error or "wrong answer") for o in ops if not o.ok][:5]
        diag["latencies_s"] = [(o.name, round(o.end - o.start, 4)) for o in ops]
        spans = out["tracer"].spans if out["tracer"] is not None else []
    else:
        from perfbench import etl_wl

        with ctx.own():
            if workload == "etl_upload":
                schedules = datagen.upload_schedule(ctx.seed, UPLOAD_CLIENTS, UPLOADS_PER_CLIENT)
                min_ops = 1
            else:
                schedules = [datagen.bulk_schedule(ctx.seed, BULK_DOCUMENTS)]
                min_ops = BULK_DOCUMENTS
        out = etl_wl.run(ctx, schedules, min_ops)
        peak, split = out["peak_rss"], out["peak_split"]
        ops = out["ops"]
        layers = etl_layers(out, [o for o in ops if not o.errored]) if ctx.trace else {}
        spans = out["server"]["spans"]
        diag["records_per_s"] = sum(o.records for o in ops if o.ok) / out["wall"]
        diag["failures"] = [(o.kind, o.records, o.error) for o in ops if not o.ok][:5]
        diag["latencies_s"] = [(o.kind, round(o.end - o.start, 4)) for o in ops]

    outcomes = stats.Outcomes()
    for o in ops:
        outcomes.record(o.ok, errored=o.errored)
    latencies = [o.end - o.start for o in ops if not o.errored]
    figures = end_to_end(latencies, outcomes.completed, out["wall"], ctx.setup_s, peak)
    if latencies:
        # too few samples per run for a tail with ten beyond it to be
        # steady, so it is a diagnostic, not a gated metric (NOTES.md)
        t = stats.tail(latencies)
        diag["op_tail_s"] = {"value": t.value, "percentile": t.percentile,
                             "samples": t.samples, "beyond": t.beyond}
    diag.update({
        "attempted": outcomes.attempted,
        "errored": outcomes.errored,
        "wrong": outcomes.wrong,
        "failed_frac": outcomes.failed_frac,
        "measured_wall_s": out["wall"],
        "warm_failures": out["warm_failures"][:5],
        "steal_jiffies": envsetup.steal_jiffies() - steal0,
        "peak_rss_split_mb": {k: round(v / 2**20, 1) for k, v in split.items() if v > 2**24},
        "bench_own_setup_s": ctx.own_s,
    })
    if ctx.trace:
        with open(os.path.join(ctx.work, "spans.json"), "w") as f:
            json.dump([list(s) if isinstance(s, (list, tuple)) else
                       [s.name, s.start, s.end, s.parent, s.op] for s in spans], f)
    return {"e2e": figures, "layers": layers, "outcomes": outcomes,
            "warm_ok": not out["warm_failures"]}, diag


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    envsetup.configure(work)
    ctx = Context(args, work)
    with ctx.own():
        probe_before = envsetup.cpu_probe_ms()
    try:
        res, diag = run_workload(ctx, args.workload)
    finally:
        if ctx.spark is not None:
            envsetup.stop_session(ctx.spark)
    probe_after = envsetup.cpu_probe_ms()

    import pyspark

    outcomes = res["outcomes"]
    diag = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "env": {"cpus": envsetup.cpus(), "mem_total_mb": envsetup.mem_total_mb(),
                "driver_mem_mb": envsetup.driver_mem_mb(), "pyspark": pyspark.__version__,
                "java": ctx.java, "python": platform.python_version()},
        **diag,
        "cpu_probe_ms": [probe_before, probe_after],
    }
    if args.trace:
        diag["end_to_end"] = res["e2e"]  # tracing overhead = these minus an untraced run's
        values, units = {k: res["layers"].get(k, 0.0) for k in LAYER_UNITS}, LAYER_UNITS
    else:
        values, units = res["e2e"], E2E_UNITS
    print(json.dumps({"perfbench": diag}))
    print(json.dumps({
        "correct": outcomes.failed == 0 and res["warm_ok"],
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
