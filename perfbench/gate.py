"""Row-for-row comparison of engine output with the pandas oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd

VIOLATION_KEY = ["part_id", "doc_id", "check_id"]
VIOLATION_COLS = ["doc_id", "part_id", "check_id", "payload"]
# psi/kl are float sums whose order differs between Spark and numpy
SCORE_TOL = 1e-9


def _canon_violations(df: pd.DataFrame) -> pd.DataFrame:
    out = df[VIOLATION_COLS].astype({"part_id": "int64"})
    return out.sort_values(VIOLATION_KEY).reset_index(drop=True)


def mismatches(
    verdicts: pd.DataFrame,
    violations: pd.DataFrame,
    want_verdicts: pd.DataFrame,
    want_violations: pd.DataFrame,
) -> list[str]:
    """Differences between the engine's verdicts/violations and the oracle's;
    an empty list means they agree. Verdict, n_violations and every
    violation row must match exactly; psi/kl within ``SCORE_TOL``."""
    out: list[str] = []
    got_v = _canon_violations(violations)
    want_v = _canon_violations(want_violations)
    if not got_v.equals(want_v):
        merged = got_v.merge(want_v, how="outer", indicator=True)
        extra = int((merged["_merge"] == "left_only").sum())
        missing = int((merged["_merge"] == "right_only").sum())
        out.append(f"violations: {extra} unexpected, {missing} missing rows")

    key = ["part_id", "verdict", "n_violations"]
    got = verdicts.astype({"part_id": "int64", "n_violations": "int64"})
    got = got.sort_values("part_id").reset_index(drop=True)
    want = want_verdicts.astype({"part_id": "int64", "n_violations": "int64"})
    want = want.sort_values("part_id").reset_index(drop=True)
    if not got[key].equals(want[key]):
        out.append("verdicts: part_id/verdict/n_violations differ")
    elif not all(
        np.allclose(got[c], want[c], rtol=SCORE_TOL, atol=SCORE_TOL) for c in ("psi", "kl")
    ):
        out.append("verdicts: psi/kl differ")
    return out
