"""Run one workload of the serving benchmark once.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. Each run gets a fresh directory
under ``.perfbench_runs/`` and a fresh server process; both are gone when
the run ends. Every end-to-end metric is printed by name and unit, then
the last line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the gated end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A traced run runs the workload
twice from the same seed, on the plain server and on the traced
launcher; ``trace.overhead_pct`` compares their read_p50_ms. The exit
status is 1 when any op failed or any answer was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# every end-to-end metric and its unit; GATED are the ones BENCHMARK.json
# bounds: both serve workloads measure them and they hold steady over
# seeds (README.md gives the spreads of the others)
UNITS = {
    "setup_s": "s", "load_rows_per_s": "rows/s", "read_p50_ms": "ms", "read_p95_ms": "ms",
    "read_qps": "stmt/s", "ingest_ack_p50_ms": "ms", "ingest_ack_p95_ms": "ms", "dml_p50_ms": "ms",
    "space_amp": "ratio", "batch_wall_s": "s", "error_frac": "ratio", "peak_rss_mb": "MB",
}
GATED = ["setup_s", "read_p50_ms"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve_read", "serve_mixed", "batch_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0, help="length of the measured window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="batch_ops: directory of the registry's parquet tables (default $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "timefusion_spark", "server.py")):
        print(f"no timefusion_spark source under {ROOT}: run from the root of a checkout", file=sys.stderr)
        return 2
    if args.workload == "batch_ops" and not (args.data_dir and os.path.isdir(args.data_dir)):
        print("batch_ops needs --data-dir (or $SPARK_GRAFT_SF_DIR) naming the registry's tables", file=sys.stderr)
        return 2

    from perfbench import batch, serve

    layer_units = batch.LAYER_UNITS if args.workload == "batch_ops" else serve.LAYER_UNITS
    load1, load5, load15 = os.getloadavg()
    print(f"box load at start (1/5/15 min): {load1:.2f} {load5:.2f} {load15:.2f}")
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    try:
        if args.workload == "batch_ops":
            # in-process: its layer figures come from the harness's own
            # clocks and the status store, so there is no traced pass
            res = batch.run_batch_ops(args.seed, args.seconds, run_dir, args.data_dir)
            tallies = [res["tally"]]
        elif args.trace:
            fn = serve.run_serve_read if args.workload == "serve_read" else serve.run_serve_mixed
            plain = fn(args.seed, args.seconds, False, _sub(run_dir, "plain"))
            res = fn(args.seed, args.seconds, True, _sub(run_dir, "traced"))
            base, traced = plain["e2e"]["read_p50_ms"], res["e2e"]["read_p50_ms"]
            res["layers"]["trace.overhead_pct"] = (traced / base - 1) * 100
            tallies = [plain["tally"], res["tally"]]
        else:
            fn = serve.run_serve_read if args.workload == "serve_read" else serve.run_serve_mixed
            res = fn(args.seed, args.seconds, False, run_dir)
            tallies = [res["tally"]]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass  # another run's directory is still there
    attempted = sum(t.attempted for t in tallies)
    failed = sum(t.failed for t in tallies)
    e2e = dict(res["e2e"], error_frac=failed / attempted)
    for name, unit in UNITS.items():
        val = f"{e2e[name]:.6g}" if name in e2e else "-  (not measured on this workload)"
        print(f"{name:20s} {val} {unit}")
    print("samples: " + ", ".join(f"{k}={v:.6g}" for k, v in res["samples"].items()))
    for t in tallies:
        for err in t.errors:
            print(f"FAILED: {err}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in GATED if k in e2e}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def _sub(run_dir: str, name: str) -> str:
    path = os.path.join(run_dir, name)
    os.makedirs(path)
    return path


if __name__ == "__main__":
    raise SystemExit(main())
