"""Structured Streaming binding for the validation engine.

The reference's "stream mode" is an external loop re-invoking a kernel
per row with state on disk (/root/reference/htm_streamer/pipeline/
htm_stream_runner.py:77-92). The engine's primary incremental path is
batch-with-checkpoint (streaming/incremental.py — Trigger.AvailableNow
semantics without the streaming runtime, SURVEY.md §2.9 ST1). This
module is the true Structured Streaming binding for deployments that
want a running query.

Design: the arrival unit the engine validates is a PARTITION, but a
file-source micro-batch is a set of FILES — ``maxFilesPerTrigger`` can
split a multi-file partition across micro-batches, and validating the
fragments independently would emit duplicate per-partition verdicts
computed on partial data (the round-2 hole). So micro-batches do only
exactly-once FILE BOOKKEEPING, and validation happens at partition
completion:

1. each micro-batch is reduced to its distinct ``(part_id, file)``
   pairs — a column-pruned scan (hive column + input_file_name, no
   token bytes are read);
2. seen files accumulate in the catalog (atomically with the epoch
   guard); the expected file set per partition comes from the same
   filesystem listing the batch engine uses for discovery;
3. when a partition's seen set covers its listed set, the partition is
   validated by a partition-pruned batch re-read through the SAME
   validate-and-commit step as the incremental engine
   (``CheckpointStore.commit_batch``) — so its verdict, violations
   (including the cross-file duplicate check) and baseline contribution
   are byte-equal to a single-batch run, and each partition gets
   EXACTLY ONE verdict row.

Each partition's token bytes are therefore read once total (the
bookkeeping scan reads only footers + the hive column).

Row-shaped analogs of the reference's stream-mode behaviors:
- missing/late features → violation rows, never buffered (ST4);
- per-partition verdicts committed atomically (ST3);
- learning cutoff = baseline frozen after first commit (ST6);
- sampling mode spans micro-batches (ST2): pre-baseline complete
  partitions get probation verdicts; the baseline commits only once
  ``cfg.baseline_partitions`` partitions with rows are COMPLETE, fitted
  from the first K by part_id — identical to the single-batch fit.

The epoch replay guard is keyed on the checkpoint identity: epoch ids
are monotone only per checkpoint location, so a restart against a NEW
checkpoint (epoch ids reset to 0) must not be silently swallowed by a
guard left over from the old one (round-2 ADVICE).
"""

from __future__ import annotations

import json
import posixpath
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htm_streamer_spark.config import SEQUENCES_SCHEMA, EngineConfig
from htm_streamer_spark.plans.validation_plan import compute_baseline, load_sequences
from htm_streamer_spark.sources.table_io import list_hive_partition_files
from htm_streamer_spark.streaming.incremental import CheckpointStore, run_incremental


def read_sequences_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 64
) -> DataFrame:
    """Streaming scan of the hive-partitioned sequences directory with
    the declared (never inferred) schema."""
    schema = SEQUENCES_SCHEMA
    return (
        spark.readStream.schema(
            # part_id comes from the directory layout
            ",".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in schema.fields
                if f.name != "part_id"
            )
            + ", part_id int"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def validate_stream(
    spark: SparkSession,
    path: str,
    catalog,
    cfg: EngineConfig | None = None,
    checkpoint_location: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 64,
):
    """Start a streaming validation query; returns the StreamingQuery.

    Each micro-batch commits its file bookkeeping plus the verdicts +
    violations of every partition that COMPLETED in it, through the
    catalog in one atomic snapshot — exactly-once at the engine level
    via foreachBatch (the standard idempotent-sink pattern).
    """
    cfg = cfg or EngineConfig()
    store = CheckpointStore(catalog)
    # epoch ids are monotone per checkpoint location only; an ephemeral
    # (temp-checkpoint) query gets a fresh key so a stale guard never
    # swallows its batches
    guard_key = checkpoint_location or f"ephemeral-{uuid.uuid4().hex}"

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # idempotent replay guard: if the catalog commit succeeded but
        # the Spark streaming checkpoint write did not, the micro-batch
        # is replayed with the SAME epoch_id — a second commit would
        # double-count files. Guard only against epochs of THIS
        # checkpoint identity.
        if catalog.prop("epoch_guard_key") == guard_key and epoch_id <= int(
            catalog.prop("last_committed_epoch", "-1")
        ):
            return
        props = {
            "epoch_guard_key": guard_key,
            "last_committed_epoch": str(int(epoch_id)),
        }

        # -- 1. file bookkeeping (column-pruned: no data columns read)
        batch_files = batch_df.select(
            "part_id", F.input_file_name().alias("_f")
        ).distinct().collect()
        seen: dict[str, list[str]] = json.loads(
            catalog.prop("stream_seen_files", "{}")
        )
        for r in batch_files:
            names = seen.setdefault(str(r[0]), [])
            base = posixpath.basename(urlparse(r[1]).path)
            if base not in names:
                names.append(base)

        # -- 2. completion: seen set covers the listed set
        expected = list_hive_partition_files(spark, path)
        done = store.done_partitions(spark)
        candidates = set(seen) | {str(p) for p, fs in expected.items() if not fs}
        complete = sorted(
            int(p)
            for p in candidates
            if int(p) not in done
            and set(seen.get(p, [])) >= set(expected.get(int(p), []))
        )
        # bound the prop: drop bookkeeping for partitions once verdicted
        props["stream_seen_files"] = json.dumps(
            {
                p: sorted(fs)
                for p, fs in seen.items()
                if int(p) not in done and int(p) not in complete
            },
            sort_keys=True,
        )
        if not complete:
            catalog.commit(props)
            return

        # -- 3. validate completed partitions on a partition-pruned
        # re-read (single-batch-equal by construction)
        full = load_sequences(spark, path)
        baseline = store.baseline(spark, cfg)
        if baseline is None:
            # SAMPLING MODE ACROSS MICRO-BATCHES (ST2): freeze the
            # baseline only once K partitions with rows are complete,
            # fitted from the first K by part_id — identical to a single
            # batch run over those partitions. Until then every complete
            # partition is probation (the reference's sampling-phase
            # flat 0.5), via an empty-histogram baseline whose part_ids
            # mark them all as baseline members.
            pending = sorted(
                set(json.loads(catalog.prop("pending_baseline_parts", "[]")))
                # only partitions the stream delivered rows from: an
                # empty partition dir completes at once but has no rows
                | {p for p in complete if str(p) in seen}
            )
            if len(pending) >= cfg.baseline_partitions:
                base_parts = pending[: cfg.baseline_partitions]
                baseline = compute_baseline(
                    full.filter(F.col("part_id").isin(base_parts)), cfg, base_parts
                )
                props.update(store.stage_baseline(baseline))
                props["pending_baseline_parts"] = "[]"
            else:
                props["pending_baseline_parts"] = json.dumps(pending)
                empty_hist = spark.createDataFrame([], "bucket int, cnt long")
                baseline = {"tok": empty_hist, "ntok": empty_hist, "part_ids": complete}

        batch = full.filter(F.col("part_id").isin(complete))
        store.commit_batch(
            spark, batch, complete, cfg, baseline, f"stream-epoch-{epoch_id}", props
        )

    stream = read_sequences_stream(spark, path, max_files_per_trigger)
    writer = stream.writeStream.foreachBatch(process_batch).outputMode("update")
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def finalize_stream(spark: SparkSession, path: str, catalog, cfg=None) -> dict:
    """Sweep after an availableNow query terminates: any listed
    partition still without a verdict (its files were all empty, so the
    stream never delivered a row from it) is validated through the
    batch-incremental path against the same catalog — empty partitions
    get an explicit 'empty' verdict so the table reaches a stable,
    fully-verdicted state. No-op when everything already completed."""
    return run_incremental(spark, path, catalog, cfg)
