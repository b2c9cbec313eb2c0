"""Child process that serves the engine's ETL HTTP surface
(``server.EtlServer``) for the ETL workloads, so that an engine crash
cannot take the load generator down with it.

    python3 perfbench/etl_server.py --workdir W --ready R --result O [--trace]

Writes ``{"port", "session_start_s", "java"}`` to R once serving, serves until
its standard input closes, then writes per-request records to O. With
``--trace`` every request gets spans around the server and pipeline
entry points, and the Spark jobs it submitted (by submission time,
within its ``_run_etl_locked`` span; the server lock keeps those spans
from overlapping).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import envsetup  # noqa: E402


def _install_tracing(srv, spark, records: list):
    """Wrap the server and pipeline entry points; returns the tracer."""
    from etl_pipeline_project_auraverse_spark import pipeline, server
    from etl_pipeline_project_auraverse_spark.cache import persistent_rdd_ids
    from perfbench import stats
    from perfbench.trace import JobReader, Tracer

    tr = Tracer()
    jobs = JobReader(spark)
    jobs.skip_existing()
    seq = itertools.count(1)
    seq_lock = threading.Lock()
    memo_dir = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
        "memo_snapshots", spark.sparkContext.applicationId)

    def memo_count() -> int:
        try:
            return len(os.listdir(memo_dir))
        except FileNotFoundError:
            return 0

    cls = type(srv)
    run_etl, run_locked = cls._run_etl, cls._run_etl_locked

    def traced_run_etl(self, filename, payload):
        with seq_lock:
            op = next(seq)
        tr.set_op(op)
        try:
            with tr.span("server.run_etl"):
                return run_etl(self, filename, payload)
        finally:
            tr.set_op(None)

    def traced_locked(self, filename, payload):
        # runs under the server lock: no other request is submitting jobs
        memo_before = memo_count()
        with tr.span("server.run_etl_locked") as locked:
            out = run_locked(self, filename, payload)
        try:
            new = [j for j in jobs.new_jobs() if locked.start <= j.submitted <= locked.end]
            persisted = len(persistent_rdd_ids(spark))
        except Exception:  # the JVM is gone after an engine crash: nothing to read
            new, persisted = [], 0
        records.append({
            "op": locked.op,
            "locked": (locked.start, locked.end),
            "jobs": [(j.submitted, j.completed, j.tasks, j.stages_run, j.stages_skipped,
                      j.executor_run_s, j.executor_cpu_s, j.shuffle_read_bytes,
                      j.shuffle_write_bytes, j.input_bytes) for j in new],
            "driver_gap_s": stats.gap((locked.start, locked.end),
                                      [(j.submitted, j.completed) for j in new]),
            "persisted_rdds": persisted,
            "memo_builds": memo_count() - memo_before,
        })
        return out

    cls._run_etl = traced_run_etl
    cls._run_etl_locked = traced_locked
    tr.wrap(server, "run_etl_pipeline", "pipeline.run")
    tr.wrap(pipeline, "extract", "pipeline.extract")
    tr.wrap(pipeline, "transform", "pipeline.transform")
    tr.wrap(pipeline, "generate_schema", "pipeline.schema")
    tr.wrap(pipeline, "write_csv_single", "pipeline.sink")
    return tr


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--ready", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    envsetup.configure(args.workdir)

    from etl_pipeline_project_auraverse_spark.server import EtlServer
    from etl_pipeline_project_auraverse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench-etl", extra_conf=envsetup.spark_conf(args.workdir))
    session_start_s = time.perf_counter() - t0
    srv = EtlServer(os.path.join(args.workdir, "server"), spark=spark)
    records: list = []
    tr = _install_tracing(srv, spark, records) if args.trace else None
    srv.start()
    tmp = args.ready + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"port": srv.port, "session_start_s": session_start_s,
                   "java": envsetup.java_version(spark)}, f)
    os.replace(tmp, args.ready)

    sys.stdin.read()  # serve until the load generator closes our stdin

    srv.stop()
    spans = [] if tr is None else [
        (s.name, s.start, s.end, s.parent, s.op) for s in tr.spans]
    with open(args.result, "w") as f:
        json.dump({"spans": spans, "requests": records}, f)
    envsetup.stop_session(spark)


if __name__ == "__main__":
    main()
