"""Shared fixtures: one SparkSession per test run + generated tables."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from htm_streamer_spark.config import EngineConfig
from htm_streamer_spark.fixtures.generator import (
    generate_sequences,
    write_sequences_parquet,
)
from htm_streamer_spark.session import get_spark

TINY = dict(n_partitions=10, rows_per_partition=1000, hot_key_copies=50)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="htm_streamer_spark_tests", cores=8, driver_memory="8g")
    yield s


@pytest.fixture(scope="session")
def tiny_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("data") / "sequences_tiny"
    write_sequences_parquet(out, **TINY)
    return str(out)


@pytest.fixture(scope="session")
def clean_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("data") / "sequences_clean"
    write_sequences_parquet(
        out, n_partitions=8, rows_per_partition=500, corrupt=False, drift_partitions=0
    )
    return str(out)


@pytest.fixture(scope="session")
def clean_gap_dir(clean_dir, tmp_path_factory):
    """The clean table with partition 1 emptied: its directory stays and
    holds no data files, so a listing still yields it."""
    import shutil

    out = tmp_path_factory.mktemp("data") / "sequences_clean_gap"
    shutil.copytree(clean_dir, out)
    shutil.rmtree(out / "part_id=1")
    (out / "part_id=1").mkdir()
    return str(out)


@pytest.fixture(scope="session")
def tiny_pandas() -> pd.DataFrame:
    """The same tiny table as a pandas frame (oracle input)."""
    cols = generate_sequences(**TINY)
    return pd.DataFrame(
        {
            "doc_id": cols["doc_id"],
            "tokens": cols["tokens"],
            "n_tok": np.where(cols["n_tok_null"], np.nan, cols["n_tok"]),
            "source": cols["source"],
            "part_id": cols["part_id"],
            "injected": cols["injected"],
        }
    )


@pytest.fixture(scope="session")
def cfg() -> EngineConfig:
    return EngineConfig()
