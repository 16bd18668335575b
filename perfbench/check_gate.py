"""Self-check of the oracle gate: unchanged engine-shaped output passes, and
each kind of perturbed output is reported as a mismatch.

    python3 perfbench/check_gate.py

Exits 0 when every case behaves as expected, 1 otherwise.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from gate import mismatches  # noqa: E402
from inputs import oracle_frame  # noqa: E402
from htm_streamer_spark import EngineConfig  # noqa: E402
from htm_streamer_spark.fixtures import generate_sequences, oracle_verdicts, oracle_violations  # noqa: E402


def main() -> int:
    cols = generate_sequences(n_partitions=6, rows_per_partition=300, seed=7, hot_key_copies=20)
    pdf = oracle_frame(cols)
    cfg = EngineConfig(baseline_partitions=2)
    want_verdicts = oracle_verdicts(pdf, cfg)
    want_violations = oracle_violations(pdf, cfg)

    def drop_row(v, x):
        return v, x.drop(index=x.index[0])

    def change_payload(v, x):
        x = x.copy()
        x.loc[x.index[0], "payload"] = x.loc[x.index[0], "payload"].replace("}", ',"x":1}')
        return v, x

    def flip_verdict(v, x):
        v = v.copy()
        v.loc[v.index[-1], "verdict"] = "pass" if v.loc[v.index[-1], "verdict"] != "pass" else "fail"
        return v, x

    def nudge_psi(v, x):
        v = v.copy()
        v.loc[v.index[-1], "psi"] += 1e-6
        return v, x

    def shuffle_rows(v, x):  # order must not matter
        return v.sample(frac=1, random_state=1), x.sample(frac=1, random_state=1)

    cases = [
        ("unchanged", lambda v, x: (v, x), False),
        ("row order", shuffle_rows, False),
        ("dropped violation", drop_row, True),
        ("changed payload", change_payload, True),
        ("flipped verdict", flip_verdict, True),
        ("psi off by 1e-6", nudge_psi, True),
    ]
    ok = True
    for name, perturb, expect_mismatch in cases:
        got = mismatches(*perturb(want_verdicts, want_violations), want_verdicts, want_violations)
        good = bool(got) == expect_mismatch
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {name}: {got or 'no mismatch'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
