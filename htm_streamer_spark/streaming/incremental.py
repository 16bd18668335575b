"""Incremental (resumable) validation — the engine's streaming semantics.

The reference implements streaming as an external driver loop re-invoking
a stateless kernel with all state round-tripping the filesystem each row
(/root/reference/htm_streamer/pipeline/htm_stream_runner.py:77-92;
htm_stream.py:60-66). Here the arrival unit is a table **partition**, not
a row (SURVEY.md §2.9 ST1): each engine invocation processes every
partition not yet in the checkpoint — Structured Streaming's
``Trigger.AvailableNow`` shape without the streaming runtime.

Lifecycle (reference's 3-mode state machine, config/config.py:199-225):

- no committed baseline → *sampling/initializing*: fit + commit baseline
  histograms over the clean rows of the first K partitions that hold
  rows (empty partition dirs are skipped); those partitions get
  verdict ``probation`` (flat 0.5, anomalylikelihood.py:440-442) unless
  they hold violations (hard-fail override, model/htm_model.py:385-388).
- baseline committed → *running*: validate remaining partitions against
  the frozen baseline (learning cutoff, htm_stream.py:123,143-147).

Crash-safety: violations + verdict rows for a batch publish in ONE
atomic catalog commit, so a partition is either fully validated
(status recorded + violations visible) or untouched — re-running never
duplicates violation rows (SURVEY.md §7.3.4 idempotent resume).

:class:`CheckpointStore` is the only writer of the engine-state tables:
this module and the Structured Streaming binding (streaming/
structured.py) both stage the baseline through
:meth:`CheckpointStore.stage_baseline` and validate + commit a batch
through :meth:`CheckpointStore.commit_batch`.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htm_streamer_spark.config import EngineConfig, validate_config
from htm_streamer_spark.sources.table_io import list_hive_partitions
from htm_streamer_spark.plans.validation_plan import (
    baseline_part_ids,
    compute_baseline,
    load_sequences,
    run_validation_batch,
)

VERDICTS_TABLE = "verdicts"
VIOLATIONS_TABLE = "violations"
BASELINE_TOK = "baseline_tok"
BASELINE_NTOK = "baseline_ntok"


class CheckpointStore:
    """The catalog's engine-state tables (verdicts, violations and the
    baseline histograms): their typed reads and their only writer.

    Schema mirrors FIXTURES.md §4: verdict rows carry
    ``(run_id, part_id, status, metrics-json, committed_at)`` — the
    per-partition lineage + metrics the north rule requires, with
    ``committed_at`` the wall-clock write time. Every write goes through
    ``catalog.stage_spark`` and ``catalog.commit``.
    """

    def __init__(self, catalog):
        self.catalog = catalog

    def done_partitions(self, spark: SparkSession) -> set[int]:
        df = self.catalog.read(spark, VERDICTS_TABLE)
        if df is None:
            return set()
        return {r[0] for r in df.select("part_id").distinct().collect()}

    def verdicts(self, spark: SparkSession) -> DataFrame | None:
        return self.catalog.read(spark, VERDICTS_TABLE)

    def violations(self, spark: SparkSession) -> DataFrame | None:
        return self.catalog.read(spark, VIOLATIONS_TABLE)

    def baseline(self, spark: SparkSession, cfg: EngineConfig) -> dict | None:
        # latest-wins: a re-estimation commit fully replaces the baseline
        # (W3, reference refit cadence anomalylikelihood.py:444-455)
        tok = self.catalog.read(spark, BASELINE_TOK, latest_only=True)
        ntok = self.catalog.read(spark, BASELINE_NTOK, latest_only=True)
        if tok is None or ntok is None:
            return None
        part_ids = json.loads(self.catalog.prop("baseline_part_ids", "[]"))
        return {"tok": tok, "ntok": ntok, "part_ids": part_ids}

    def stage_baseline(self, baseline: dict) -> dict:
        """Stage the baseline histograms; returns the commit props that
        record its partitions."""
        self.catalog.stage_spark(BASELINE_TOK, baseline["tok"])
        self.catalog.stage_spark(BASELINE_NTOK, baseline["ntok"])
        return {"baseline_part_ids": json.dumps(baseline["part_ids"])}

    def commit_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        parts: list[int],
        cfg: EngineConfig,
        baseline: dict,
        run_id: str,
        props: dict,
    ) -> int:
        """Validate ``batch`` (the rows of partitions ``parts``) against
        ``baseline`` and publish its violations and one verdict row per
        partition, with ``props`` and anything staged before, in ONE
        catalog commit. Returns the new catalog version."""
        result = run_validation_batch(spark, batch, cfg, baseline=baseline)
        try:
            verdicts = result.verdicts
            # listing-based discovery surfaces partition dirs with zero
            # rows; without an explicit verdict they would re-enter todo
            # on every run and the engine would never reach noop. Detect
            # them with a column-pruned scan (hive column only — footer
            # metadata, no token bytes) and commit status 'empty'.
            nonempty = {r[0] for r in batch.select("part_id").distinct().collect()}
            empty_parts = [p for p in parts if p not in nonempty]
            if empty_parts:
                verdicts = verdicts.unionByName(
                    spark.createDataFrame(
                        [(p, "empty", 0, 0.0, 0.0) for p in empty_parts],
                        "part_id int, verdict string, n_violations long, psi double, kl double",
                    )
                )
            violations = result.violations.withColumn("run_id", F.lit(run_id))
            verdict_rows = verdicts.select(
                F.lit(run_id).alias("run_id"),
                "part_id",
                F.col("verdict").alias("status"),
                F.to_json(F.struct("n_violations", "psi", "kl")).alias("metrics"),
                F.lit(time.time()).alias("committed_at"),
            )
            self.catalog.stage_spark(VIOLATIONS_TABLE, violations)
            self.catalog.stage_spark(VERDICTS_TABLE, verdict_rows)
            return self.catalog.commit(props)
        finally:
            # after the commit has written every staged frame: a session
            # that drains a table batch by batch must not keep past
            # batches cached
            result.unpersist()


def run_incremental(
    spark: SparkSession,
    table_path: str,
    checkpoint,
    cfg: EngineConfig | None = None,
    run_id: str | None = None,
    max_partitions: int | None = None,
    repartition_width: int | None = None,
) -> dict:
    """One engine invocation: validate all not-yet-checkpointed
    partitions of ``table_path``. Returns a summary dict.

    ``max_partitions`` bounds the batch (reference analog: the prefix
    limit ``timesteps_stop``, htm_batch_runner.py:89) and is how resume
    tests simulate a partial run/crash.

    ``repartition_width`` — the north rule's explicit
    hash(doc_id) repartitioning: when set, the batch is
    ``repartition(width, doc_id)`` before validation. Use on a cluster
    when the input arrives in skewed/oversized files (task granularity
    then follows the hash, not the file layout). Leave None when the
    scan's own splits are healthy — the suite's aggregations shuffle on
    their own keys anyway, and an extra full shuffle of the token bytes
    is never free. (The doc_id uniqueness check ALWAYS hash-partitions
    on (doc_id, salt) then doc_id — that shuffle is inherent to it.)
    """
    cfg = validate_config(cfg or EngineConfig())
    run_id = run_id or uuid.uuid4().hex[:12]
    store = CheckpointStore(checkpoint)

    df = load_sequences(spark, table_path)
    done = store.done_partitions(spark)
    # partition discovery is a filesystem/catalog LISTING, not a Spark
    # job — a distinct-scan would read a column of every file at 10^12
    # rows. Fallback to the scan only for non-hive layouts.
    avail = list_hive_partitions(spark, table_path)
    if not avail:
        avail = sorted(r[0] for r in df.select("part_id").distinct().collect())
    todo = [p for p in avail if p not in done]
    baseline = store.baseline(spark, cfg)
    # before the baseline commit: the baseline is fitted from the first
    # K partitions that hold rows, as in a single-shot batch (the listing
    # also yields empty partition dirs)
    base_parts = (
        baseline_part_ids(df.filter(F.col("part_id").isin(todo)), cfg)
        if baseline is None and todo
        else []
    )
    if max_partitions is not None:
        limit = max_partitions
        if base_parts:
            # a first batch that stops short of the last baseline
            # partition would fit + freeze an undersized baseline and
            # split runs would diverge from a single-shot run — clamp it
            limit = max(limit, todo.index(base_parts[-1]) + 1)
        todo = todo[:limit]
    if not todo:
        return {"run_id": run_id, "validated": [], "mode": "noop"}

    # monotone-lineage check (reference analog: running mode requires
    # timestep > timestep_initialized, config/validation.py:98-104):
    # a partition must not already be validated — guaranteed by the
    # anti-set above; assert as the engine self-check (ST8).
    overlap = set(todo) & done
    if overlap:
        raise RuntimeError(f"lineage violation: partitions already validated: {sorted(overlap)}")

    # partition pruning: the isin filter prunes hive partitions at scan
    batch = df.filter(F.col("part_id").isin(todo))
    if repartition_width is not None:
        batch = batch.repartition(repartition_width, F.col("doc_id"))

    mode = "running"
    props = {}
    if baseline is None:
        mode = "sampling+initializing"
        baseline = compute_baseline(batch, cfg, base_parts)
        props = store.stage_baseline(baseline)
    version = store.commit_batch(spark, batch, todo, cfg, baseline, run_id, props)
    return {
        "run_id": run_id,
        "validated": todo,
        "mode": mode,
        "snapshot_version": version,
    }


def refresh_baseline(
    spark: SparkSession,
    table_path: str,
    checkpoint,
    cfg: EngineConfig | None = None,
    from_partitions: list[int] | None = None,
) -> dict:
    """Re-estimate the baseline histograms (W3 — the reference refits
    its Gaussian every ``reestimationPeriod`` rows,
    anomalylikelihood.py:444-455; here the analog is an explicit
    baseline refresh from recent clean partitions).

    Uses the most recent ``cfg.baseline_partitions`` partitions with a
    non-fail status unless ``from_partitions`` is given. The commit is
    atomic and latest-wins: the next run scores against the new
    baseline; history stays in the catalog for audit.
    """
    cfg = validate_config(cfg or EngineConfig())
    store = CheckpointStore(checkpoint)
    if from_partitions is None:
        verd = store.verdicts(spark)
        if verd is None:
            raise RuntimeError("no validated partitions yet — run run_incremental first")
        ok = (
            verd.filter(F.col("status") != "fail")
            .select("part_id")
            .distinct()
            .sort(F.desc("part_id"))
            .limit(cfg.baseline_partitions)
            .collect()
        )
        from_partitions = sorted(r[0] for r in ok)
        if not from_partitions:
            raise RuntimeError("no non-fail partitions available for re-estimation")
    df = load_sequences(spark, table_path).filter(F.col("part_id").isin(from_partitions))
    base = compute_baseline(df, cfg, from_partitions)
    version = checkpoint.commit(store.stage_baseline(base))
    return {"baseline_part_ids": from_partitions, "snapshot_version": version}
