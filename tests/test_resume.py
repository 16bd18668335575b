"""Resume semantics (SURVEY.md §5.2 item 4): kill after K partitions,
re-run, assert no partition re-validated and the union of results is
identical to a single-shot run. Mirrors the reference's crash-resume
(state saved every timestep, htm_stream.py:135-155)."""

from __future__ import annotations

import pandas as pd
import pytest

from htm_streamer_spark.config import EngineConfig
from htm_streamer_spark.sources.table_io import ManifestCatalog
from htm_streamer_spark.streaming.incremental import CheckpointStore, run_incremental


@pytest.fixture()
def catalog(tmp_path):
    return ManifestCatalog(tmp_path / "ckpt")


def _verdicts_pdf(spark, catalog):
    df = CheckpointStore(catalog).verdicts(spark)
    return (
        df.select("part_id", "status", "metrics")
        .toPandas()
        .sort_values("part_id")
        .reset_index(drop=True)
    )


def test_split_run_equals_single_run(spark, tiny_dir, cfg, tmp_path):
    cat1 = ManifestCatalog(tmp_path / "c1")
    cat2 = ManifestCatalog(tmp_path / "c2")

    # single shot
    s = run_incremental(spark, tiny_dir, cat1, cfg)
    assert s["mode"] == "sampling+initializing"
    assert s["validated"] == list(range(10))

    # "crash" after 6 partitions, then resume
    r1 = run_incremental(spark, tiny_dir, cat2, cfg, max_partitions=6)
    assert r1["validated"] == list(range(6))
    r2 = run_incremental(spark, tiny_dir, cat2, cfg)
    assert r2["validated"] == [6, 7, 8, 9]
    assert r2["mode"] == "running"  # baseline already committed

    pd.testing.assert_frame_equal(_verdicts_pdf(spark, cat1), _verdicts_pdf(spark, cat2))

    v1 = CheckpointStore(cat1).violations(spark).drop("run_id").toPandas()
    v2 = CheckpointStore(cat2).violations(spark).drop("run_id").toPandas()
    key = ["part_id", "doc_id", "check_id"]
    pd.testing.assert_frame_equal(
        v1.sort_values(key).reset_index(drop=True),
        v2.sort_values(key).reset_index(drop=True),
    )


def test_rerun_is_noop(spark, tiny_dir, cfg, catalog):
    run_incremental(spark, tiny_dir, catalog, cfg)
    before = catalog.version()
    again = run_incremental(spark, tiny_dir, catalog, cfg)
    assert again["mode"] == "noop"
    assert again["validated"] == []
    assert catalog.version() == before  # nothing committed


def test_crash_before_commit_leaves_no_trace(spark, tiny_dir, cfg, catalog):
    # simulate a crash between staging and commit: stage then abort
    from htm_streamer_spark.plans.validation_plan import load_sequences

    df = load_sequences(spark, tiny_dir)
    catalog.stage_spark("verdicts", df.limit(1).selectExpr(
        "'x' as run_id", "part_id", "'pass' as status", "'{}' as metrics", "0.0 as committed_at"
    ))
    catalog.abort()
    assert CheckpointStore(catalog).done_partitions(spark) == set()
    # a full run afterwards validates everything
    s = run_incremental(spark, tiny_dir, catalog, cfg)
    assert s["validated"] == list(range(10))


def test_truncate_resets(spark, tiny_dir, cfg, catalog):
    run_incremental(spark, tiny_dir, catalog, cfg)
    catalog.truncate()
    assert CheckpointStore(catalog).done_partitions(spark) == set()
    assert CheckpointStore(catalog).baseline(spark, cfg) is None


def test_refresh_baseline_latest_wins(spark, clean_dir, cfg, catalog):
    from htm_streamer_spark.streaming.incremental import refresh_baseline

    run_incremental(spark, clean_dir, catalog, cfg)
    store = CheckpointStore(catalog)
    b0 = store.baseline(spark, cfg)
    assert b0["part_ids"] == [0, 1, 2, 3]
    out = refresh_baseline(spark, clean_dir, catalog, cfg)
    assert len(out["baseline_part_ids"]) == cfg.baseline_partitions
    b1 = store.baseline(spark, cfg)
    # latest-wins: refreshed ids replace the originals, and the
    # histogram is a single coherent copy (sum equals clean-row count)
    assert b1["part_ids"] == out["baseline_part_ids"]
    total0 = b0["ntok"].groupBy().sum("cnt").collect()[0][0]
    total1 = b1["ntok"].groupBy().sum("cnt").collect()[0][0]
    assert total1 == total0  # same rows/partition in the clean fixture


def test_undersized_first_batch_clamps_to_baseline_width(spark, tiny_dir, cfg, tmp_path):
    """ADVICE regression: a first run with max_partitions < K must NOT
    freeze an undersized baseline — the first batch clamps up to
    cfg.baseline_partitions so split runs still equal a single shot."""
    cat1 = ManifestCatalog(tmp_path / "c1")
    cat2 = ManifestCatalog(tmp_path / "c2")
    run_incremental(spark, tiny_dir, cat1, cfg)  # single shot, K=4 baseline

    r1 = run_incremental(spark, tiny_dir, cat2, cfg, max_partitions=2)
    assert r1["validated"] == list(range(cfg.baseline_partitions))  # clamped
    r2 = run_incremental(spark, tiny_dir, cat2, cfg)
    assert r2["mode"] == "running"

    store1, store2 = CheckpointStore(cat1), CheckpointStore(cat2)
    assert store1.baseline(spark, cfg)["part_ids"] == store2.baseline(spark, cfg)["part_ids"]
    pd.testing.assert_frame_equal(_verdicts_pdf(spark, cat1), _verdicts_pdf(spark, cat2))


def test_repartition_width_same_results(spark, tiny_dir, cfg, tmp_path):
    """Explicit repartition(width, hash(doc_id)) must not change any
    verdict/violation — it only re-shapes task granularity."""
    cat1 = ManifestCatalog(tmp_path / "r1")
    cat2 = ManifestCatalog(tmp_path / "r2")
    run_incremental(spark, tiny_dir, cat1, cfg)
    run_incremental(spark, tiny_dir, cat2, cfg, repartition_width=16)
    pd.testing.assert_frame_equal(_verdicts_pdf(spark, cat1), _verdicts_pdf(spark, cat2))


def test_empty_partition_gets_explicit_verdict_and_noop(spark, tiny_dir, cfg, tmp_path):
    """ADVICE regression: listing-based discovery surfaces partition
    dirs with zero rows; without an explicit verdict they re-enter todo
    on every run and the engine never reaches noop."""
    import shutil

    src = tmp_path / "seq_with_empty"
    shutil.copytree(tiny_dir, src)
    (src / "part_id=99").mkdir()  # a partition dir with no data files

    cat = ManifestCatalog(tmp_path / "empty_cat")
    r1 = run_incremental(spark, str(src), cat, cfg)
    assert 99 in r1["validated"]
    v = _verdicts_pdf(spark, cat)
    assert v.loc[v["part_id"] == 99, "status"].tolist() == ["empty"]

    r2 = run_incremental(spark, str(src), cat, cfg)
    assert r2["mode"] == "noop" and r2["validated"] == []


def test_run_releases_cached_frames(spark, tiny_dir, cfg, catalog):
    """A session that drains a table call by call must not keep every
    past batch cached: one call leaves the persistent-RDD count as it
    found it, in sampling mode and in running mode. (The session is
    shared with other tests, so compare counts instead of asserting
    none.)"""

    def n_persistent() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = n_persistent()
    r1 = run_incremental(spark, tiny_dir, catalog, cfg, max_partitions=4)
    assert r1["mode"] == "sampling+initializing"
    assert n_persistent() == before
    r2 = run_incremental(spark, tiny_dir, catalog, cfg, max_partitions=2)
    assert r2["mode"] == "running"
    assert n_persistent() == before


def test_empty_early_partition_does_not_shift_baseline(spark, clean_gap_dir, cfg, tmp_path):
    """The baseline is the first K partitions that hold rows, as in a
    single-shot batch: an empty partition dir among the first K must not
    take a baseline slot, in a single-shot run or in a split one."""
    import json

    from htm_streamer_spark.plans.validation_plan import load_sequences, run_validation_batch

    res = run_validation_batch(spark, load_sequences(spark, clean_gap_dir), cfg)
    want = res.verdicts.toPandas().set_index("part_id").sort_index()
    res.unpersist()
    assert want.loc[[0, 2, 3, 4], "verdict"].tolist() == ["probation"] * 4

    for name, first_batch in (("single", None), ("split", 2)):
        cat = ManifestCatalog(tmp_path / name)
        run_incremental(spark, clean_gap_dir, cat, cfg, max_partitions=first_batch)
        run_incremental(spark, clean_gap_dir, cat, cfg)
        assert CheckpointStore(cat).baseline(spark, cfg)["part_ids"] == [0, 2, 3, 4]
        got = _verdicts_pdf(spark, cat).set_index("part_id")
        assert got.loc[1, "status"] == "empty"
        got = got.drop(index=1)
        assert got["status"].tolist() == want["verdict"].tolist()
        metrics = pd.DataFrame(got["metrics"].map(json.loads).tolist(), index=got.index)
        assert metrics["n_violations"].tolist() == want["n_violations"].tolist()
        for col in ("psi", "kl"):
            assert metrics[col].tolist() == pytest.approx(want[col].tolist())
