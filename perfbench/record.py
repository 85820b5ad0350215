"""Record one untraced and one traced run per workload and write their
numbers to ``perfbench/results/<workload>.json``: the end-to-end
metrics of the untraced run, the per-layer metrics and span self
times of the traced run, and the tracing overhead (traced ``wall_s``
minus untraced ``wall_s``, same seed).

    python3 perfbench/record.py [--seed N] [--seconds S] [workload ...]

Run from the repository root, with nothing else running.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = os.path.join(HERE, "results", f".{workload}-trace{trace}.json")
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--trace-out", out,
    ]
    subprocess.run(cmd, cwd=REPO, check=True, stdout=subprocess.DEVNULL)
    with open(out) as fh:
        rec = json.load(fh)
    os.remove(out)
    return rec


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for name in names:
        plain = _run(name, args.seed, args.seconds, 0)
        traced = _run(name, args.seed, args.seconds, 1)
        wall0 = plain["end_to_end"]["wall_s"]["value"]
        wall1 = traced["end_to_end"]["wall_s"]["value"]
        rec = {
            "workload": name,
            "seed": args.seed,
            "seconds": args.seconds,
            "host": {"cores": plain["cores"], "cpu": _cpu_model()},
            "end_to_end": plain["end_to_end"],
            "op_tail": plain["op_tail"],
            "checks": plain["checks"],
            "per_layer": traced["per_layer"],
            "tracing_overhead": {
                "untraced_wall_s": wall0,
                "traced_wall_s": wall1,
                "overhead_s": wall1 - wall0,
                "overhead_frac": (wall1 - wall0) / wall0,
            },
            "span_self_times": traced["span_self_times"],
        }
        path = os.path.join(HERE, "results", f"{name}.json")
        with open(path, "w") as fh:
            json.dump(rec, fh, indent=1)
            fh.write("\n")
        print(
            f"{name}: wall {wall0:.2f}s untraced, {wall1:.2f}s traced -> {path}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
