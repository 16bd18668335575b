"""Structured Streaming binding: availableNow over the sequences dir →
same verdicts as the batch engine."""

from __future__ import annotations

import time

import pytest

from htm_streamer_spark.config import EngineConfig
from htm_streamer_spark.sources.table_io import ManifestCatalog
from htm_streamer_spark.streaming.incremental import CheckpointStore
from htm_streamer_spark.streaming.structured import validate_stream


@pytest.mark.slow
def test_stream_available_now_validates_all(spark, tiny_dir, cfg, tmp_path):
    catalog = ManifestCatalog(tmp_path / "stream_ckpt")
    started = time.time()
    q = validate_stream(
        spark,
        tiny_dir,
        catalog,
        cfg,
        checkpoint_location=str(tmp_path / "spark_ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    finished = time.time()
    store = CheckpointStore(catalog)
    verdicts = store.verdicts(spark).toPandas()
    # every partition got EXACTLY ONE verdict row
    assert sorted(verdicts["part_id"]) == list(range(10))
    # committed_at is the write time (FIXTURES.md §4), not the epoch id
    assert verdicts["committed_at"].between(started, finished).all()
    viol = store.violations(spark)
    assert viol.count() > 0


@pytest.mark.slow
def test_partition_split_across_micro_batches(spark, cfg, tmp_path):
    """VERDICT r2 item 2: a hive partition whose file count exceeds
    maxFilesPerTrigger is split across micro-batches. The engine must
    still produce exactly one verdict row per part_id, with verdicts
    AND baseline equal to a single-batch run — validation fires only at
    partition completion, on a partition-pruned re-read."""
    import shutil

    from pyspark.sql import functions as F

    from htm_streamer_spark.fixtures.generator import write_sequences_parquet
    from htm_streamer_spark.plans.validation_plan import load_sequences
    from htm_streamer_spark.streaming.incremental import run_incremental

    src = tmp_path / "seq_split"
    write_sequences_parquet(src, n_partitions=5, rows_per_partition=800, hot_key_copies=40)
    # shatter part 2 (a baseline member) and part 4 (running mode) into
    # ~100 / 40 small files each
    for pid, n_files in ((2, 100), (4, 40)):
        pdir = src / f"part_id={pid}"
        shattered = tmp_path / f"shatter_{pid}"
        spark.read.parquet(str(pdir)).repartition(n_files).write.parquet(str(shattered))
        shutil.rmtree(pdir)
        shutil.move(str(shattered), str(pdir))

    catalog = ManifestCatalog(tmp_path / "split_ckpt")
    q = validate_stream(
        spark,
        str(src),
        catalog,
        cfg,
        checkpoint_location=str(tmp_path / "split_spark_ckpt"),
        available_now=True,
        max_files_per_trigger=16,
    )
    q.awaitTermination(600)
    store = CheckpointStore(catalog)
    got = store.verdicts(spark).toPandas().sort_values("part_id").reset_index(drop=True)
    # exactly one verdict row per partition — never one per fragment
    assert sorted(got["part_id"]) == list(range(5))

    # single-shot batch run over the same table on a fresh catalog
    ref_catalog = ManifestCatalog(tmp_path / "split_ref")
    run_incremental(spark, str(src), ref_catalog, cfg)
    ref_store = CheckpointStore(ref_catalog)
    want = (
        ref_store.verdicts(spark).toPandas().sort_values("part_id").reset_index(drop=True)
    )
    assert list(got["status"]) == list(want["status"])
    assert list(got["metrics"]) == list(want["metrics"])  # n_violations, psi, kl

    # committed baseline histograms equal the single-shot fit
    got_base = store.baseline(spark, cfg)
    want_base = ref_store.baseline(spark, cfg)
    assert got_base["part_ids"] == want_base["part_ids"]
    for key in ("tok", "ntok"):
        g = {r["bucket"]: r["cnt"] for r in got_base[key].collect()}
        w = {r["bucket"]: r["cnt"] for r in want_base[key].collect()}
        assert g == w, key

    # violations equal too (the cross-file duplicate check needs the
    # whole partition at once — fragment-wise validation would miss
    # dup pairs split across micro-batches)
    gv = store.violations(spark).groupBy("check_id").count().collect()
    wv = ref_store.violations(spark).groupBy("check_id").count().collect()
    assert {r[0]: r[1] for r in gv} == {r[0]: r[1] for r in wv}


def test_replayed_epoch_is_noop(spark, tiny_dir, cfg, tmp_path):
    """ADVICE regression: if the catalog commit lands but the streaming
    checkpoint write does not, Spark replays the micro-batch with the
    same epoch_id — the second commit must be a no-op, not duplicate
    verdict/violation rows."""
    from htm_streamer_spark.plans.validation_plan import load_sequences
    from htm_streamer_spark.streaming import structured

    catalog = ManifestCatalog(tmp_path / "replay_ckpt")
    batch = load_sequences(spark, tiny_dir)
    store = CheckpointStore(catalog)

    # capture validate_stream's foreachBatch callback without starting a
    # real query, then drive it directly as Spark would
    def make_cb():
        holder = {}

        class FakeWriter:
            def foreachBatch(self, fn):
                holder["fn"] = fn
                return self

            def outputMode(self, *_):
                return self

            def option(self, *_):
                return self

            def trigger(self, **_):
                return self

            def start(self):
                return None

        class FakeStream:
            @property
            def writeStream(self):
                return FakeWriter()

        import unittest.mock as mock

        with mock.patch.object(structured, "read_sequences_stream", return_value=FakeStream()):
            structured.validate_stream(spark, tiny_dir, catalog, cfg)
        return holder["fn"]

    cb = make_cb()
    cb(batch, 0)
    v_after_first = store.verdicts(spark).count()
    version_after_first = catalog.version()
    assert v_after_first > 0

    cb(batch, 0)  # replay of the SAME epoch → must no-op
    assert store.verdicts(spark).count() == v_after_first
    assert catalog.version() == version_after_first

    cb(batch, 1)  # a NEW epoch still commits
    assert catalog.version() != version_after_first


@pytest.mark.slow
def test_finalize_stream_sweeps_empty_file_partition(spark, cfg, tmp_path):
    """A partition whose only file holds ZERO rows never appears in any
    micro-batch (the file source only delivers rows), so the stream
    cannot complete it; finalize_stream sweeps it to an explicit
    'empty' verdict through the batch-incremental path."""
    from htm_streamer_spark.fixtures.generator import write_sequences_parquet
    from htm_streamer_spark.plans.validation_plan import load_sequences
    from htm_streamer_spark.streaming.structured import finalize_stream

    src = tmp_path / "seq_emptyfile"
    write_sequences_parquet(src, n_partitions=5, rows_per_partition=500)
    # part 5: one parquet file with the right schema and zero rows
    empty = load_sequences(spark, str(src)).limit(0).drop("part_id")
    empty.coalesce(1).write.parquet(str(tmp_path / "zero"))
    (src / "part_id=5").mkdir()
    import shutil

    for f in (tmp_path / "zero").glob("*.parquet"):
        shutil.copy(f, src / "part_id=5" / f.name)

    catalog = ManifestCatalog(tmp_path / "emptyfile_ckpt")
    q = validate_stream(
        spark,
        str(src),
        catalog,
        cfg,
        checkpoint_location=str(tmp_path / "emptyfile_spark_ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    store = CheckpointStore(catalog)
    v = store.verdicts(spark).toPandas()
    assert sorted(v["part_id"]) == list(range(5))  # part 5 still pending

    finalize_stream(spark, str(src), catalog, cfg)
    v2 = store.verdicts(spark).toPandas()
    assert sorted(v2["part_id"]) == list(range(6))
    assert v2.loc[v2["part_id"] == 5, "status"].tolist() == ["empty"]


def test_new_checkpoint_resets_epoch_guard(spark, tiny_dir, cfg, tmp_path):
    """ADVICE regression: epoch ids are monotone only per checkpoint
    location. Restarting with a NEW checkpoint resets epoch_id to 0 —
    the replay guard must not silently drop those batches (data loss)."""
    from pyspark.sql import functions as F

    from htm_streamer_spark.plans.validation_plan import load_sequences
    from htm_streamer_spark.streaming import structured

    catalog = ManifestCatalog(tmp_path / "guard_ckpt")
    full = load_sequences(spark, tiny_dir)
    store = CheckpointStore(catalog)

    def make_cb(checkpoint_location):
        holder = {}

        class FakeWriter:
            def foreachBatch(self, fn):
                holder["fn"] = fn
                return self

            def outputMode(self, *_):
                return self

            def option(self, *_):
                return self

            def trigger(self, **_):
                return self

            def start(self):
                return None

        class FakeStream:
            @property
            def writeStream(self):
                return FakeWriter()

        import unittest.mock as mock

        with mock.patch.object(structured, "read_sequences_stream", return_value=FakeStream()):
            structured.validate_stream(
                spark, tiny_dir, catalog, cfg, checkpoint_location=checkpoint_location
            )
        return holder["fn"]

    # first query (checkpoint A) commits up to epoch 5
    cb_a = make_cb(str(tmp_path / "ckpt_a"))
    cb_a(full.filter(F.col("part_id").isin([0, 1, 2, 3])), 5)
    n_after_a = store.verdicts(spark).count()
    assert n_after_a > 0

    # replay within the same checkpoint still no-ops
    v = catalog.version()
    cb_a(full.filter(F.col("part_id").isin([0, 1, 2, 3])), 5)
    assert catalog.version() == v

    # restart with checkpoint B: epoch ids reset to 0 — batches must be
    # processed, not swallowed by checkpoint A's high-water mark
    cb_b = make_cb(str(tmp_path / "ckpt_b"))
    cb_b(full.filter(F.col("part_id").isin([4, 5])), 0)
    assert store.verdicts(spark).count() > n_after_a
    assert {4, 5} <= set(r[0] for r in store.verdicts(spark).select("part_id").collect())


def test_sampling_mode_spans_micro_batches(spark, tiny_dir, cfg, tmp_path):
    """A first micro-batch smaller than cfg.baseline_partitions must NOT
    freeze an undersized baseline: pending histograms accumulate across
    batches and the committed baseline equals the one a single batch run
    over the same first K partitions would fit."""
    import json

    from pyspark.sql import functions as F

    from htm_streamer_spark.plans.validation_plan import compute_baseline, load_sequences
    from htm_streamer_spark.streaming import structured

    catalog = ManifestCatalog(tmp_path / "sampling_ckpt")
    full = load_sequences(spark, tiny_dir)

    def make_cb():
        holder = {}

        class FakeWriter:
            def foreachBatch(self, fn):
                holder["fn"] = fn
                return self

            def outputMode(self, *_):
                return self

            def option(self, *_):
                return self

            def trigger(self, **_):
                return self

            def start(self):
                return None

        class FakeStream:
            @property
            def writeStream(self):
                return FakeWriter()

        import unittest.mock as mock

        with mock.patch.object(structured, "read_sequences_stream", return_value=FakeStream()):
            structured.validate_stream(spark, tiny_dir, catalog, cfg)
        return holder["fn"]

    cb = make_cb()
    store = CheckpointStore(catalog)
    n_cached = spark.sparkContext._jsc.sc().getPersistentRDDs().size
    cached_before = n_cached()
    # micro-batches of 2 partitions each; K = 4
    cb(full.filter(F.col("part_id").isin([0, 1])), 0)
    assert store.baseline(spark, cfg) is None  # still sampling
    assert json.loads(catalog.prop("pending_baseline_parts")) == [0, 1]
    v = store.verdicts(spark).toPandas()
    assert set(v["status"]) <= {"probation", "fail"}  # no drift verdicts yet

    cb(full.filter(F.col("part_id").isin([2, 3])), 1)
    base = store.baseline(spark, cfg)
    assert base is not None and base["part_ids"] == [0, 1, 2, 3]

    # committed baseline == single-shot fit over partitions 0..3
    want = compute_baseline(full.filter(F.col("part_id").isin([0, 1, 2, 3])), cfg, [0, 1, 2, 3])
    got_tok = {(r["bucket"]): r["cnt"] for r in base["tok"].collect()}
    want_tok = {(r["bucket"]): r["cnt"] for r in want["tok"].collect()}
    assert got_tok == want_tok

    # a later batch runs in 'running' mode against the frozen baseline
    cb(full.filter(F.col("part_id").isin([4, 5, 6, 7, 8, 9])), 2)
    v = store.verdicts(spark).toPandas()
    assert set(v["part_id"]) == set(range(10))
    # no micro-batch leaves its validation frames cached
    assert n_cached() == cached_before


@pytest.mark.slow
def test_stream_empty_early_partition_does_not_shift_baseline(spark, clean_gap_dir, cfg, tmp_path):
    """An empty partition dir completes in the first micro-batch but has
    no rows: it gets an 'empty' verdict and no baseline slot, so the
    stream fits the same baseline as a single-shot batch run."""
    from htm_streamer_spark.streaming.incremental import run_incremental

    catalog = ManifestCatalog(tmp_path / "gap_ckpt")
    q = validate_stream(
        spark,
        clean_gap_dir,
        catalog,
        cfg,
        checkpoint_location=str(tmp_path / "gap_spark_ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    ref_catalog = ManifestCatalog(tmp_path / "gap_ref")
    run_incremental(spark, clean_gap_dir, ref_catalog, cfg)

    store, ref_store = CheckpointStore(catalog), CheckpointStore(ref_catalog)
    assert store.baseline(spark, cfg)["part_ids"] == [0, 2, 3, 4]
    assert ref_store.baseline(spark, cfg)["part_ids"] == [0, 2, 3, 4]
    cols = ["part_id", "status", "metrics"]
    got = store.verdicts(spark).toPandas()[cols].sort_values("part_id")
    want = ref_store.verdicts(spark).toPandas()[cols].sort_values("part_id")
    assert got.values.tolist() == want.values.tolist()
