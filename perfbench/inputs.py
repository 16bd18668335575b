"""Seeded benchmark inputs and their oracle answers, cached per (workload, seed).

Rows come from the package's deterministic generator
(``fixtures.generate_sequences``), so every value is a pure function of the
seed. The tables are written here with a vectorised Arrow writer instead of
``write_sequences_parquet``, whose per-row ``tolist`` conversion costs tens of
seconds at benchmark scale. The oracle answers (``oracle_violations`` /
``oracle_verdicts``) are computed once per input and stored beside it, so
neither generation nor the oracle lands in a timed metric.
"""

from __future__ import annotations

import json
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from htm_streamer_spark.config import EngineConfig
from htm_streamer_spark.fixtures import generate_sequences, oracle_verdicts, oracle_violations

# Input sets kept on disk at once; older ones are deleted so repeated runs
# with fresh seeds do not grow the cache without bound.
CACHE_KEEP = 4


@dataclass(frozen=True)
class Shape:
    n_partitions: int
    rows_per_partition: int
    max_tokens: int | None  # None keeps the generator's 1..512 lengths
    hot_key_copies: int  # copies of one doc_id: the skewed uniqueness key
    drift_partitions: int = 2

    @property
    def rows(self) -> int:
        return self.n_partitions * self.rows_per_partition


# Sizes are set by the run budget: at these sizes a warm pass costs ~5-6 s,
# mostly fixed per-job overhead, and a run must also fit the ~22 s cold
# set-up, so inputs are kept small enough to generate and check in seconds.
SHAPES = {
    # ~256 tokens per row (1..512): the token decode / Arrow kernel share;
    # the hot key is 2.5% of the rows
    "batch_long": Shape(20, 2_500, max_tokens=None, hot_key_copies=1_250),
    # <=8 tokens per row (mean ~4.5) and twice the rows: per-row work and the
    # uniqueness shuffle, with the kernel doing little; the hot key is 1%
    "batch_short_skewed": Shape(20, 5_000, max_tokens=8, hot_key_copies=1_000),
}


@dataclass
class Inputs:
    table: Path  # hive-partitioned parquet, part_id=N/ directories
    rows: int
    table_bytes: int
    violations: pd.DataFrame  # oracle, sorted (part_id, doc_id, check_id)
    verdicts: pd.DataFrame  # oracle, one row per part_id


def _cap_tokens(cols: dict, max_tokens: int) -> None:
    """Cut every token array to 1..max_tokens tokens (empty stays empty),
    keeping each row's corruption: the first token (range corruption) is
    kept and an n_tok mismatch keeps its offset from the true length."""
    tokens = cols["tokens"]
    old = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=len(tokens))
    new = np.where(old > 0, (old - 1) % max_tokens + 1, 0)
    cols["tokens"] = [t[:n] for t, n in zip(tokens, new)]
    cols["n_tok"] = cols["n_tok"] - old + new


def _arrow_table(cols: dict) -> pa.Table:
    tokens = cols["tokens"]
    lengths = np.fromiter((len(t) for t in tokens), dtype=np.int32, count=len(tokens))
    offsets = np.zeros(len(tokens) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    flat = np.concatenate(tokens).astype(np.int32) if len(tokens) else np.zeros(0, np.int32)
    return pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], type=pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
            "n_tok": pa.array(
                cols["n_tok"].astype(np.int32), type=pa.int32(), mask=cols["n_tok_null"]
            ),
            "source": pa.array(cols["source"], type=pa.string()),
            "ts": pa.array(cols["ts"] * 1_000_000, type=pa.timestamp("us", tz="UTC")),
        }
    )


def oracle_frame(cols: dict) -> pd.DataFrame:
    """Generated columns in the layout the oracle reads."""
    return pd.DataFrame(
        {
            "doc_id": cols["doc_id"],
            # lists, not arrays: the oracle's per-row min/max run on them
            # several times faster than on numpy scalars
            "tokens": [t.tolist() for t in cols["tokens"]],
            "n_tok": np.where(cols["n_tok_null"], np.nan, cols["n_tok"]),
            "source": cols["source"],
            "part_id": cols["part_id"],
        }
    )


def _write_table(cols: dict, shape: Shape, out: Path) -> None:
    tbl = _arrow_table(cols)
    rpp = shape.rows_per_partition
    for pid in range(shape.n_partitions):
        pdir = out / f"part_id={pid}"
        pdir.mkdir(parents=True)
        pq.write_table(tbl.slice(pid * rpp, rpp), pdir / "part-0.parquet")


def _table_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


def _evict(cache: Path, keep: Path) -> None:
    done = sorted(
        (d for d in cache.iterdir() if (d / "_DONE").exists() and d != keep),
        key=lambda d: (d / "_DONE").stat().st_mtime,
    )
    for d in done[: max(0, len(done) - (CACHE_KEEP - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def _dir(cache: Path, name: str, seed: int) -> Path:
    return cache / f"{name}-s{seed}"


def prepare(cache: Path, name: str, seed: int, cfg: EngineConfig) -> None:
    """Generate the table and oracle answers for ``(name, seed)`` unless a
    complete copy is cached, then evict the oldest other input sets."""
    shape = SHAPES[name]
    d = _dir(cache, name, seed)
    if not (d / "_DONE").exists():
        shutil.rmtree(d, ignore_errors=True)
        tmp = cache / f".{name}-s{seed}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        cols = generate_sequences(
            shape.n_partitions,
            shape.rows_per_partition,
            seed=seed,
            drift_partitions=shape.drift_partitions,
            hot_key_copies=shape.hot_key_copies,
        )
        if shape.max_tokens is not None:
            _cap_tokens(cols, shape.max_tokens)
        _write_table(cols, shape, tmp / "table")
        pdf = oracle_frame(cols)
        oracle_violations(pdf, cfg).to_parquet(tmp / "violations.parquet")
        oracle_verdicts(pdf, cfg).to_parquet(tmp / "verdicts.parquet")
        (tmp / "meta.json").write_text(
            json.dumps({"rows": shape.rows, "table_bytes": _table_bytes(tmp / "table")})
        )
        (tmp / "_DONE").touch()
        tmp.rename(d)
    _evict(cache, keep=d)


def load(cache: Path, name: str, seed: int) -> Inputs:
    d = _dir(cache, name, seed)
    meta = json.loads((d / "meta.json").read_text())
    return Inputs(
        table=d / "table",
        rows=meta["rows"],
        table_bytes=meta["table_bytes"],
        violations=pd.read_parquet(d / "violations.parquet"),
        verdicts=pd.read_parquet(d / "verdicts.parquet"),
    )


if __name__ == "__main__":
    # run as a child process so the generator's and the oracle's memory is
    # returned before the measured process tree starts
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--cache", type=Path, required=True)
    ap.add_argument("--workload", choices=sorted(SHAPES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    prepare(a.cache, a.workload, a.seed, EngineConfig())
