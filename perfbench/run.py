"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pairwise --seed 1 --seconds 20 --trace 0

Launch from the repository root: Spark's Python workers import
``arcon_spark`` (and the benchmark operator) from the launch directory.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (every end-to-end metric with
``--trace 0``, every per-layer metric with ``--trace 1``). The full run
record, spans included, goes to ``.perfbench_out/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.getcwd()
WORKLOADS = ("pairwise", "stream_operator")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("arcon_spark", "bench.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing} in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench.harness import Run, log

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.prepare()
    try:
        if args.workload == "pairwise":
            from perfbench import pairwise as wl
        else:
            from perfbench import stream_operator as wl
        metrics = wl.run(run)
        run.record["metrics"] = metrics
        path = run.write_record()
        log(f"record {os.path.relpath(path, ROOT)}")
    finally:
        run.cleanup()

    spec = _spec()
    if args.trace:
        wanted = spec["per_layer"]
        values = run.layers
    else:
        wanted = spec["end_to_end"]
        values = metrics
    out = {}
    for m in wanted:
        if m["name"] not in values:
            raise KeyError(f"workload {args.workload} did not measure {m['name']}")
        out[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    for name, v in sorted(values.items()):
        if isinstance(v, float):
            log(f"{name} = {v:.6g}")
    result = {
        "correct": run.outcomes.failed == 0,
        "attempted": run.outcomes.attempted,
        "failed": run.outcomes.failed,
        "metrics": out,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
