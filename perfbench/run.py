"""Benchmark of the htm_streamer_spark validation engine.

    python3 perfbench/run.py --workload batch_long --seed 42 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and cached
under ``.perfbench_work/inputs``; each run's Spark scratch, checkpoint and
event log live under ``.perfbench_work/run-<pid>`` and are deleted when the
run ends. With ``--trace 0`` the run times full-suite passes and prints the
end-to-end metrics; with ``--trace 1`` it traces calls into each layer, reads
Spark task metrics from the event log, writes the spans to
``.perfbench_work/traces/`` and prints the per-layer metrics. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"


def _stop_spark() -> None:
    """Stop the active session, shut the JVM down and wait until the JVM and
    its Python workers have exited."""
    from pyspark import SparkContext

    from procstat import tree_pids

    children = set(tree_pids()) - {os.getpid()}
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = {p for p in children if Path(f"/proc/{p}").exists()}
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _print_metrics(metrics: dict) -> dict:
    out = {}
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "htm_streamer_spark" / "__init__.py").is_file():
        print(f"perfbench: no htm_streamer_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import inputs

    if args.workload not in inputs.SHAPES:
        ap.error(f"--workload must be one of {sorted(inputs.SHAPES)}")

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # keep Spark's and Python's scratch files inside the run directory
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    tempfile.tempdir = None
    cache = WORK / "inputs"
    subprocess.run(
        [sys.executable, str(HERE / "inputs.py"), "--cache", str(cache),
         "--workload", args.workload, "--seed", str(args.seed)],
        check=True,
        env={**os.environ, "PYTHONPATH": str(ROOT)},
    )

    import workloads

    inp = inputs.load(cache, args.workload, args.seed)
    try:
        if args.trace:
            trace_file = WORK / "traces" / f"{args.workload}-s{args.seed}-{int(time.time())}.json"
            tracer, outcome, io, event_log = workloads.run_traced(run_dir, inp, args.seconds)
            _stop_spark()  # closes the event log
            tracer.attach_spark_metrics(event_log)
            metrics = workloads.layer_metrics(tracer, inp, io)
            tracer.write(
                trace_file,
                {"workload": args.workload, "seed": args.seed, "rows": inp.rows,
                 "table_bytes": inp.table_bytes, "table_io": io},
            )
            print(f"trace {trace_file.relative_to(ROOT)}")
        else:
            metrics, outcome, detail = workloads.run_timed(run_dir, inp, args.seconds)
            q = detail["pass_s_quartiles"]
            print("passes_s " + " ".join(f"{x:.4f}" for x in detail["passes_s"]))
            print(f"passes {len(detail['passes_s'])} pass_s q1/q2/q3 "
                  f"{q[0]:.4f}/{q[1]:.4f}/{q[2]:.4f}")
            print(f"cpu_steal_share {detail['steal_share']:.4f}")
    finally:
        _stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)

    for err in outcome.errors:
        print(f"FAILED {err}")
    print(f"error_rate {outcome.failed / outcome.attempted:.6g} "
          f"({outcome.failed}/{outcome.attempted} passes)")
    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": _print_metrics(metrics),
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
