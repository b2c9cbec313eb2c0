"""Query workloads: one closed-loop client runs registry queries through
the public surface, ``QUERIES[name](spark, data_dir).collect()``, in an
order the seed shuffles anew each pass, and checks every answer against
DuckDB running the query's oracle SQL over the same generated tables."""

from __future__ import annotations

import os
import random
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

from perfbench import datagen, oracle, stats
from perfbench.trace import JobReader, Tracer, catalyst_phases_ms

# The 17 LLM-pipeline queries: memo families (dedup, ANN, product
# quantization), driver collect loops (percentiles, weighted median,
# MAD, k-means), text scoring and slow residents (pagerank, sequence
# packing). ``llm_ops_all`` runs them all.
LLM_OPS_ALL = [
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_dedup_ngram_jaccard",
    "q_dedup_clusters",
    "q_ann_ivf_recall",
    "q_ann_pq_recall",
    "q_knn_bruteforce_cosine",
    "q_tfidf_top_terms",
    "q_text_quality_scores",
    "q_percentiles_by_returnflag",
    "q_weighted_median_price_by_flag",
    "q_mad_outlier_prices",
    "q_pagerank_copurchase",
    "q_kmeans_train_two_iter",
    "q_curation_pipeline_decisions",
    "q_repetition_stats",
    "q_sequence_packing",
]
# ``llm_ops`` runs eight of them so that a run fits the benchmark's time
# budget (NOTES.md, "Workloads"). q_kmeans_train_two_iter is left out
# because it misses its oracle on about one seed in five (NOTES.md,
# "Known defect"); ``llm_ops_all`` still runs and checks it.
LLM_OPS = [
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_ann_pq_recall",
    "q_percentiles_by_returnflag",
    "q_weighted_median_price_by_flag",
    "q_mad_outlier_prices",
    "q_pagerank_copurchase",
    "q_sequence_packing",
]


def tpch_names(registry) -> list[str]:
    """The 22 TPC-H-shape queries, ``q01_…`` to ``q22_…``."""
    return sorted(n for n in registry if len(n) > 4 and n[0] == "q" and n[1:3].isdigit() and n[3] == "_")


@dataclass
class OpRecord:
    name: str
    start: float  # epoch seconds
    end: float
    ok: bool
    error: str = ""  # set when the operation raised
    layers: dict[str, float] = field(default_factory=dict)

    @property
    def errored(self) -> bool:
        return bool(self.error)


def pass_orders(names: list[str], seed: int) -> Iterator[list[str]]:
    """The query order of each pass, warm-up pass first: a seeded
    shuffle per pass."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


class QueryRunner:
    """Runs one query operation and, when tracing, reads its layer split."""

    def __init__(self, spark, registry, data_dir: str, expected: dict[str, str]) -> None:
        self.spark = spark
        self.registry = registry
        self.data_dir = data_dir
        self.expected = expected
        self.tracer: Tracer | None = None
        self.jobs: JobReader | None = None
        self._op = 0
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        self.memo_dir = os.path.join(wh, "memo_snapshots", spark.sparkContext.applicationId)

    def start_tracing(self) -> None:
        """Trace every later operation; jobs run so far are not counted."""
        self.tracer = Tracer()
        self.jobs = JobReader(self.spark)
        self.jobs.skip_existing()

    def memo_count(self) -> int:
        try:
            return len(os.listdir(self.memo_dir))
        except FileNotFoundError:
            return 0

    def run(self, name: str) -> OpRecord:
        if self.tracer is None:
            return self._run_plain(name)
        return self._run_traced(name)

    def _check(self, name: str, df, rows) -> bool:
        return oracle.signature(df.columns, rows) == self.expected[name]

    def _run_plain(self, name: str) -> OpRecord:
        t0 = time.time()
        try:
            df = self.registry[name](self.spark, self.data_dir)
            rows = df.collect()
        except Exception as err:  # an engine failure is a failed operation
            return OpRecord(name, t0, time.time(), False, f"{type(err).__name__}: {err}"[:500])
        t1 = time.time()
        return OpRecord(name, t0, t1, self._check(name, df, rows))

    def _run_traced(self, name: str) -> OpRecord:
        from etl_pipeline_project_auraverse_spark.cache import persistent_rdd_ids

        tr = self.tracer
        self._op += 1
        tr.set_op(self._op)
        memo_before = self.memo_count()
        t0 = time.time()
        try:
            with tr.span("op"):
                with tr.span("queries.build"):
                    df = self.registry[name](self.spark, self.data_dir)
                build_end = time.time()
                with tr.span("collect"):
                    rows = df.collect()
        except Exception as err:
            tr.set_op(None)
            self.jobs.new_jobs()
            return OpRecord(name, t0, time.time(), False, f"{type(err).__name__}: {err}"[:500])
        t1 = time.time()
        tr.set_op(None)
        jobs = self.jobs.new_jobs()
        intervals = [(j.submitted, j.completed) for j in jobs]
        phases = catalyst_phases_ms(df)
        layers = {
            "queries.build_s": build_end - t0,
            "queries.build_jobs": float(sum(1 for j in jobs if j.submitted <= build_end)),
            "catalyst.analysis_ms": phases["analysis"],
            "catalyst.optimization_ms": phases["optimization"],
            "catalyst.planning_ms": phases["planning"],
            "spark.jobs": float(len(jobs)),
            "spark.stages_run": float(sum(j.stages_run for j in jobs)),
            "spark.stages_skipped": float(sum(j.stages_skipped for j in jobs)),
            "spark.tasks": float(sum(j.tasks for j in jobs)),
            "spark.job_busy_s": stats.union_length(intervals, clip=(t0, t1)),
            "spark.executor_run_s": sum(j.executor_run_s for j in jobs),
            "spark.executor_cpu_s": sum(j.executor_cpu_s for j in jobs),
            "spark.shuffle_read_bytes": float(sum(j.shuffle_read_bytes for j in jobs)),
            "spark.shuffle_write_bytes": float(sum(j.shuffle_write_bytes for j in jobs)),
            "spark.input_bytes": float(sum(j.input_bytes for j in jobs)),
            "driver.gap_s": stats.gap((t0, t1), intervals),
            "cache.memo_builds": float(self.memo_count() - memo_before),
            "cache.persisted_rdds": float(len(persistent_rdd_ids(self.spark))),
        }
        return OpRecord(name, t0, t1, self._check(name, df, rows), layers=layers)


def run(ctx, names_of) -> dict:
    """Set up, warm, then measure whole passes: one, then more while the
    last pass's length would still end inside ``ctx.seconds``.
    ``names_of(registry)`` picks the workload's queries."""
    from etl_pipeline_project_auraverse_spark import queries
    from etl_pipeline_project_auraverse_spark.session import get_spark

    with ctx.own():
        data_dir = os.path.join(ctx.work, "data")
        datagen.write_tables(datagen.make_tables(ctx.seed), data_dir)
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=ctx.spark_conf)
    t1 = time.perf_counter()
    ctx.spark = spark
    queries.load_all()
    t2 = time.perf_counter()
    names = names_of(queries.QUERIES)
    with ctx.own():
        expected = oracle.oracle_signatures(
            data_dir, datagen.TABLES, {n: queries.ORACLE[n] for n in names})
    runner = QueryRunner(spark, queries.QUERIES, data_dir, expected)
    memo_before = runner.memo_count()
    orders = pass_orders(names, ctx.seed)
    warm = [runner.run(name) for name in next(orders)]
    setup_layers = {
        "session.start_s": t1 - t0,
        "queries.load_all_s": t2 - t1,
        "cache.setup_memo_builds": float(runner.memo_count() - memo_before),
    }
    ctx.ready()

    if ctx.trace:
        runner.start_tracing()
    ops: list[OpRecord] = []
    t_start = time.time()
    passes, last = 0, 0.0
    while passes == 0 or time.time() - t_start + last <= ctx.seconds:
        t_pass = time.time()
        ops.extend(runner.run(name) for name in next(orders))
        passes, last = passes + 1, time.time() - t_pass
    return {
        "ops": ops,
        "wall": time.time() - t_start,
        "warm_failures": [(w.name, w.error or "wrong answer") for w in warm if not w.ok],
        "setup_layers": setup_layers,
        "extra": {"passes": passes, "queries": len(names)},
        "tracer": runner.tracer,
    }
