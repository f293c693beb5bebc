#!/usr/bin/env python3
"""Benchmark of the feature engine, end to end and layer by layer.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1
    python3 perfbench/run.py --diff RECORD_A RECORD_B

Workloads (see workloads.py):

* ``flagship``: ``vectorized_flagship`` over a ~46K-turn corpus into the
  noop sink, repeated in one long-lived session. The Arrow/pandas kernel
  and one shuffle do the work; no write, almost no plan construction.
* ``pipeline_job``: ``jobs/run_pipeline.py`` launched in its own process
  over a ~16K-turn corpus into a fresh output dir. The only path through
  the declarative cascade, the validation gate and the export with
  manifests; pays JVM start on every launch.

``--trace 0`` prints the end-to-end metrics (medians, with units and sample
counts). ``--trace 1`` also runs the workload traced: spans around the
calls into each engine module plus Spark's event log, each Spark job
credited to the module that started it. It prints the per-layer metrics.
Either way the workload's output is checked once, untimed, and the run's
record is written to ``.perfbench/records/``; ``--diff`` compares two
records, or two directories of them (medians per workload).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the ``end_to_end`` or ``per_layer`` names of
BENCHMARK.json). The exit code is 0 only if every operation and check
passed.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))  # the engine package, from the checkout

from box import RECORDS, WorkDir, box_state  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYERS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def run_workload(args) -> int:
    try:
        import feature_extractor_mbo_lob_spark  # noqa: F401

        from workloads import WORKLOADS, stop_jvm
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "box": box_state()}
    with WorkDir(f"{args.workload}-{args.seed}") as work:
        try:
            rec = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace), work)
            record.update(rec.as_dict())
        except Exception:
            record.update({"e2e": {}, "layers": {}, "checks": {}, "attempted": 1,
                           "failed": 1, "notes": [traceback.format_exc()], "phases": {}})
        finally:
            stop_jvm()
        if args.trace:
            record["layers"] = {**dict.fromkeys(LAYERS, 0), **record["layers"],
                                "fs.leftover_files": work.leftover_files()}
    record["correct"] = record["failed"] == 0 and all(record["checks"].values())
    record["e2e"]["fail_frac"] = {"value": record["failed"] / record["attempted"],
                                  "unit": "ratio", "n": record["attempted"]}
    RECORDS.mkdir(parents=True, exist_ok=True)
    path = RECORDS / f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}.json"
    path.write_text(json.dumps(record, indent=1))

    for note in record["notes"]:
        print(note, file=sys.stderr)
    for name, ok in record["checks"].items():
        print(f"check {name}: {'ok' if ok else 'FAILED'}")
    for name, m in record["e2e"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']} (median, n={m['n']})")
    for name in sorted(record["layers"]):
        print(f"{args.workload} layer {name} = {record['layers'][name]:.6g}")
    print(f"# record: {path}")

    wanted = LAYERS if args.trace else E2E
    values = record["layers"] if args.trace else {k: m["value"] for k, m in record["e2e"].items()}
    metrics = {k: {"value": values[k], "unit": u} for k, u in wanted.items() if k in values}
    ok = record["correct"] and len(metrics) == len(wanted)
    print(json.dumps({"correct": ok, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0 if ok else 1


def run_all(args) -> int:
    """Each workload in its own interpreter, one after the other."""
    results, code = {}, 0
    for name in ("flagship", "pipeline_job"):
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        sys.stdout.write(proc.stdout)
        code = code or proc.returncode
        results[name] = json.loads(proc.stdout.strip().splitlines()[-1]) if proc.stdout.strip() else None
    done = [r for r in results.values() if r]
    print(json.dumps({
        "correct": len(done) == len(results) and all(r["correct"] for r in done),
        "attempted": sum(r["attempted"] for r in done),
        "failed": sum(r["failed"] for r in done),
        "metrics": {f"{w}.{k}": m for w, r in results.items() if r for k, m in r["metrics"].items()},
    }))
    return code


def _load_records(path: Path) -> dict[tuple, list[dict]]:
    files = sorted(path.glob("*.json")) if path.is_dir() else [path]
    out: dict[tuple, list[dict]] = {}
    for f in files:
        r = json.loads(f.read_text())
        out.setdefault((r["workload"], r["trace"]), []).append(r)
    return out


def _medians(records: list[dict]) -> dict[str, float]:
    vals: dict[str, list[float]] = {}
    for r in records:
        for k, m in r["e2e"].items():
            vals.setdefault(k, []).append(m["value"])
        for k, v in r["layers"].items():
            vals.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in vals.items()}


def diff(a_path: Path, b_path: Path) -> int:
    """Per-metric deltas of B against A (the base), one row per workload."""
    a, b = _load_records(a_path), _load_records(b_path)
    print(f"base A = {a_path}\nB = {b_path}\nratio = B / A; delta = B - A")
    print(f"{'metric':34} {'workload':13} {'trace':>5} {'A':>12} {'B':>12} {'B/A':>8} {'delta':>12}")
    for key in sorted(set(a) & set(b)):
        ma, mb = _medians(a[key]), _medians(b[key])
        for name in sorted(set(ma) & set(mb), key=lambda n: (n not in E2E, n)):
            va, vb = ma[name], mb[name]
            ratio = f"{vb / va:8.3f}" if va else "     n/a"
            print(f"{name:34} {key[0]:13} {key[1]:>5} {va:12.6g} {vb:12.6g} {ratio} {vb - va:12.6g}")
    missing = sorted(set(a) ^ set(b))
    if missing:
        print(f"only in one side (workload, trace): {missing}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["flagship", "pipeline_job", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--diff", nargs=2, type=Path, metavar=("A", "B"))
    args = ap.parse_args()
    if args.diff:
        return diff(*args.diff)
    if not args.workload:
        ap.error("--workload or --diff is required")
    return run_all(args) if args.workload == "all" else run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
