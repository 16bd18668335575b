"""The measured loops: untimed set-up, timed passes, and the traced run.

A batch pass is one full-suite ``run_validation_batch`` over the workload's
table, ending when verdicts and violations are materialised on the Spark driver.
Every pass is compared with the oracle outside its timed region; a mismatch
or an exception counts as a failed pass.
"""

from __future__ import annotations

import json
import statistics
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from gate import mismatches
from inputs import Inputs
from procstat import PeakRss, cpu_ticks, tree_cpu_s
from tracing import Tracer, task_skew

from htm_streamer_spark import EngineConfig, get_spark
from htm_streamer_spark.operators.drift import drift_scores, featurize_and_token_histogram
from htm_streamer_spark.operators.invariants import row_violations
from htm_streamer_spark.operators.stats import partition_stats
from htm_streamer_spark.operators.uniqueness import duplicate_violations
from htm_streamer_spark.plans import load_sequences, run_validation_batch
from htm_streamer_spark.plans.validation_plan import baseline_part_ids
from htm_streamer_spark.sources.table_io import ManifestCatalog, list_hive_partitions
from htm_streamer_spark.streaming.incremental import CheckpointStore, run_incremental

# Session sizing, fixed so that runs compare: local[CORES] on one JVM with an
# explicit driver heap (the package default of 48g exceeds small hosts).
CORES = 2
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
# passes measured per run even when --seconds would allow fewer; a traced
# iteration (pass plus layer probes) takes about twice as long as a pass.
# More passes would not steady the figures: their spread comes from the host
# changing speed between runs, and each pass costs ~5-8 s of the run budget.
MIN_PASSES = 2
MIN_TRACED_ITERATIONS = 2


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, problems: list[str], label: str) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors.append(f"{label}: {'; '.join(problems)}")


def start_session(run_dir: Path, event_log: Path | None):
    conf = {
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        # progress bars would interleave with the result lines
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_log),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench",
        cores=CORES,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        driver_memory=DRIVER_MEMORY,
        extra_conf=conf,
    )


def batch_pass(spark, inp: Inputs, cfg: EngineConfig) -> tuple[pd.DataFrame, pd.DataFrame]:
    res = run_validation_batch(spark, load_sequences(spark, str(inp.table)), cfg)
    return res.verdicts.toPandas(), res.violations.toPandas()


def checked(outcome: Outcome, label: str, inp: Inputs, fn) -> tuple[float, float]:
    """Run ``fn`` (a pass), gate its output, and return the pass's wall time
    and the process tree's CPU time; the gate itself is not timed."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    try:
        verdicts, violations = fn()
    except Exception:  # a failed pass is counted, the run goes on
        outcome.record([traceback.format_exc(limit=3)], label)
        return time.perf_counter() - t0, tree_cpu_s() - c0
    dt, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    outcome.record(mismatches(verdicts, violations, inp.verdicts, inp.violations), label)
    return dt, cpu


def quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def run_timed(run_dir: Path, inp: Inputs, seconds: float) -> tuple[dict, Outcome, dict]:
    cfg = EngineConfig()
    outcome = Outcome()
    rss = PeakRss().start()
    t0 = time.perf_counter()
    spark = start_session(run_dir, None)
    session_s = time.perf_counter() - t0
    warm_s, _ = checked(outcome, "warm-up", inp, lambda: batch_pass(spark, inp, cfg))
    setup_s = session_s + warm_s
    spark.catalog.clearCache()

    passes: list[float] = []
    cpu = 0.0
    steal0, total0 = cpu_ticks()
    start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - start < seconds:
        dt, dcpu = checked(outcome, f"pass {len(passes)}", inp, lambda: batch_pass(spark, inp, cfg))
        passes.append(dt)
        cpu += dcpu
        spark.catalog.clearCache()
    peak = rss.stop()
    steal1, total1 = cpu_ticks()

    p50 = statistics.median(passes)
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (inp.rows / p50, "1/s"),
        "pass_s_p50": (p50, "s"),
        "cpu_s_per_mrow": (cpu / (inp.rows * len(passes) / 1e6), "s/Mrow"),
        "peak_rss_mb": (peak / 2**20, "MB"),
    }
    detail = {
        "passes_s": passes,
        "pass_s_quartiles": quartiles(passes),
        # time the hypervisor gave the machine's vCPUs to others: a cause of
        # run-to-run spread that no setting here controls
        "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
    }
    return metrics, outcome, detail


class TracedCatalog(ManifestCatalog):
    """The engine's checkpoint catalog with spans around its write path and a
    count of the files its reads open."""

    def __init__(self, root: Path, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer
        self.files_read = 0
        self.files_written = 0
        self.bytes_written = 0

    def _data_files(self) -> dict[Path, int]:
        return {p: p.stat().st_size for p in (self.root / "data").rglob("*.parquet")}

    def stage_spark(self, table, df, *args, **kwargs):
        before = self._data_files()
        with self.tracer.span("table_io.stage", table=table):
            super().stage_spark(table, df, *args, **kwargs)
        new = {p: n for p, n in self._data_files().items() if p not in before}
        self.files_written += len(new)
        self.bytes_written += sum(new.values())

    def commit(self, props=None):
        with self.tracer.span("table_io.commit"):
            return super().commit(props)

    def read(self, spark, table, latest_only=False, as_of=None):
        self.files_read += len(self.files(table, latest_only, as_of=as_of))
        return super().read(spark, table, latest_only=latest_only, as_of=as_of)


def _catalog_outputs(spark, root: Path) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Verdicts and violations committed under ``root``, in oracle layout."""
    store = CheckpointStore(ManifestCatalog(root))
    v = store.verdicts(spark).toPandas()
    m = pd.json_normalize(v["metrics"].map(json.loads))
    verdicts = pd.DataFrame(
        {
            "part_id": v["part_id"],
            "verdict": v["status"],
            "n_violations": m["n_violations"],
            "psi": m["psi"],
            "kl": m["kl"],
        }
    )
    return verdicts, store.violations(spark).drop("run_id").toPandas()


def traced_iteration(spark, tracer: Tracer, inp: Inputs, cfg: EngineConfig, k: int):
    """One traced full-suite pass, then each operator layer called on its
    own over the same input, each forced through a noop sink."""
    c0 = tree_cpu_s()
    with tracer.span("pass", pass_id=k) as rec:
        with tracer.span("validation_plan.load_sequences", pass_id=k):
            df = load_sequences(spark, str(inp.table))
        with tracer.span("validation_plan.plan", pass_id=k):
            res = run_validation_batch(spark, df, cfg)
        with tracer.span("validation_plan.action", pass_id=k):
            out = res.verdicts.toPandas(), res.violations.toPandas()
    rec["process_cpu_s"] = tree_cpu_s() - c0
    spark.catalog.clearCache()

    def sink(frame) -> None:
        frame.write.format("noop").mode("overwrite").save()

    with tracer.span("probes", pass_id=k):
        # the kernel output is persisted by the operator, so the later
        # probes read it from the cache instead of decoding tokens again
        with tracer.span("array_funcs.kernel", pass_id=k):
            narrow, hist = featurize_and_token_histogram(df, cfg)
            sink(narrow)
        with tracer.span("invariants.row_violations", pass_id=k):
            sink(row_violations(narrow, cfg, featurized=True))
        with tracer.span("stats.partition_stats", pass_id=k):
            sink(partition_stats(narrow, cfg, featurized=True))
        with tracer.span("drift.scores", pass_id=k):
            base = baseline_part_ids(narrow, cfg)
            base_hist = (
                hist.filter(F.col("part_id").isin(base))
                .groupBy("bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
            rest = hist.filter(~F.col("part_id").isin(base))
            sink(drift_scores(rest, base_hist, cfg.tok_hist_buckets))
        with tracer.span("uniqueness.duplicate_violations", pass_id=k):
            sink(duplicate_violations(narrow, cfg))
    spark.catalog.clearCache()
    return out


def incremental_probe(spark, tracer: Tracer, inp: Inputs, cfg: EngineConfig, root: Path):
    """One single-shot ``run_incremental`` into an empty checkpoint, the
    state reads a resumed run makes, and a resumed run (a no-op)."""
    cat = TracedCatalog(root, tracer)
    with tracer.span("incremental.step", step=0):
        run_incremental(spark, str(inp.table), cat, cfg)
    verdicts, violations = _catalog_outputs(spark, root)
    store = CheckpointStore(ManifestCatalog(root))
    with tracer.span("incremental.done_partitions", step=1):
        store.done_partitions(spark)
    with tracer.span("incremental.baseline_read", step=1):
        b = store.baseline(spark, cfg)
        b["tok"].collect(), b["ntok"].collect()
    with tracer.span("table_io.list_partitions"):
        list_hive_partitions(spark, str(inp.table))
    resumed = TracedCatalog(root, tracer)
    with tracer.span("incremental.resume_step", step=1):
        run_incremental(spark, str(inp.table), resumed, cfg)
    ckpt_bytes = sum(p.stat().st_size for p in root.rglob("*") if p.is_file())
    io = {
        "files_written": cat.files_written,
        "bytes_written": cat.bytes_written,
        "manifest_bytes": (root / "manifest.json").stat().st_size,
        "files_read_per_step": resumed.files_read,
        "checkpoint_bytes_per_row": ckpt_bytes / inp.rows,
    }
    return (verdicts, violations), io


def run_traced(run_dir: Path, inp: Inputs, seconds: float):
    cfg = EngineConfig()
    outcome = Outcome()
    event_log = run_dir / "eventlog"
    tracer = Tracer()
    with tracer.span("session.start"):
        spark = start_session(run_dir, event_log)
    tracer.bind(spark)
    checked(outcome, "warm-up", inp, lambda: batch_pass(spark, inp, cfg))
    spark.catalog.clearCache()

    start = time.perf_counter()
    k = 0
    while k < MIN_TRACED_ITERATIONS or time.perf_counter() - start < seconds:
        checked(outcome, f"traced pass {k}", inp, lambda: traced_iteration(spark, tracer, inp, cfg, k))
        k += 1
    io: dict = {}

    def probe():
        out, stats = incremental_probe(spark, tracer, inp, cfg, run_dir / "checkpoint")
        io.update(stats)
        return out

    checked(outcome, "incremental", inp, probe)
    return tracer, outcome, io, event_log


def layer_metrics(tracer: Tracer, inp: Inputs, io: dict) -> dict:
    med = statistics.median

    def dur(name: str) -> float:
        return med(tracer.durations(name))

    def spark_of(name: str, key: str) -> float:
        return med(s["spark"][key] for s in tracer.by_name(name))

    passes = tracer.by_name("pass")
    uniq = tracer.by_name("uniqueness.duplicate_violations")
    dup_rows = int((inp.violations["check_id"] == "dup_doc_id").sum())
    m = {
        "session.start_s": (dur("session.start"), "s"),
        "validation_plan.load_sequences_s": (dur("validation_plan.load_sequences"), "s"),
        "validation_plan.plan_s": (dur("validation_plan.plan"), "s"),
        "validation_plan.action_s": (dur("validation_plan.action"), "s"),
        "validation_plan.jobs": (spark_of("pass", "jobs"), "count"),
        "validation_plan.stages": (spark_of("pass", "stages"), "count"),
        "validation_plan.tasks": (spark_of("pass", "tasks"), "count"),
        "validation_plan.input_bytes_per_table_byte": (
            spark_of("pass", "file_bytes") / inp.table_bytes,
            "ratio",
        ),
        "validation_plan.process_cpu_s": (med(s["process_cpu_s"] for s in passes), "s"),
        "array_funcs.kernel_s": (dur("array_funcs.kernel"), "s"),
        "array_funcs.python_bytes_sent": (spark_of("array_funcs.kernel", "python_bytes_sent"), "bytes"),
        "array_funcs.python_bytes_received": (
            spark_of("array_funcs.kernel", "python_bytes_received"),
            "bytes",
        ),
        "array_funcs.rows_to_python": (spark_of("array_funcs.kernel", "input_records"), "count"),
        "invariants.row_violations_s": (dur("invariants.row_violations"), "s"),
        "stats.partition_stats_s": (dur("stats.partition_stats"), "s"),
        "drift.scores_s": (dur("drift.scores"), "s"),
        "uniqueness.duplicate_violations_s": (dur("uniqueness.duplicate_violations"), "s"),
        "uniqueness.shuffle_write_bytes": (
            spark_of("uniqueness.duplicate_violations", "shuffle_write_bytes"),
            "bytes",
        ),
        "uniqueness.task_skew": (
            med(task_skew(tracer.subtree_stage_runs(s["id"])) for s in uniq),
            "ratio",
        ),
        "uniqueness.dup_rows_per_shuffled_row": (
            dup_rows / max(spark_of("uniqueness.duplicate_violations", "shuffle_write_records"), 1),
            "ratio",
        ),
        "incremental.step_s": (dur("incremental.step"), "s"),
        "incremental.done_partitions_s": (dur("incremental.done_partitions"), "s"),
        "incremental.baseline_read_s": (dur("incremental.baseline_read"), "s"),
        "table_io.list_partitions_s": (dur("table_io.list_partitions"), "s"),
        "table_io.stage_s": (sum(tracer.durations("table_io.stage")), "s"),
        "table_io.commit_s": (dur("table_io.commit"), "s"),
        "table_io.files_written": (io["files_written"], "count"),
        "table_io.bytes_written": (io["bytes_written"], "bytes"),
        "table_io.manifest_bytes": (io["manifest_bytes"], "bytes"),
        "table_io.files_read_per_step": (io["files_read_per_step"], "count"),
        "table_io.checkpoint_bytes_per_row": (io["checkpoint_bytes_per_row"], "bytes"),
        "trace.pass_s_p50": (med(s["end"] - s["start"] for s in passes), "s"),
    }
    for key in (
        "executor_run_s",
        "executor_cpu_s",
        "gc_s",
        "shuffle_read_bytes",
        "shuffle_write_bytes",
        "spill_bytes",
        "failed_tasks",
    ):
        unit = "s" if key.endswith("_s") else ("count" if key == "failed_tasks" else "bytes")
        m[f"spark.{key}"] = (spark_of("pass", key), unit)
    return m
