#!/usr/bin/env python3
"""Steadiness and tracing-overhead checks for the benchmark.

    python3 trbench/steady.py --workload reuse_etl --seeds 1-10
    python3 trbench/steady.py --workload reuse_etl --seeds 3 --overhead

The first form runs the workload once per seed and prints, per
end-to-end metric, the median, the quartiles and the spread (third
minus first quartile over the median, as ``statistics.quantiles(n=4)``
gives them) next to the metric's bound in BENCHMARK.json; a spread above
a third of its bound is flagged. The wall times and JIT time of the info
line follow, ungated. The second runs each seed untraced and traced and
prints the tracing overhead (traced minus untraced ``op_cpu_ms`` and
wall-clock ``op_median_ms``). Both run the command of BENCHMARK.json.
Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: ungated values of the info line whose spread is printed next to the
#: gated metrics
INFO = ("setup_wall_s", "op_median_ms", "op_jit_cpu_ms")


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    p = subprocess.run(
        bench["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {workload} seed {seed} (exit {p.returncode})")
    lines = p.stdout.strip().splitlines()
    return dict(json.loads(lines[-1]), info=json.loads(lines[-2]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    if args.overhead:
        for s in seeds(args.seeds):
            plain = run_once(bench, args.workload, s, 0)
            run_once(bench, args.workload, s, 1)
            path = os.path.join(ROOT, ".trbench", "traces", f"{args.workload}-s{s}.summary.json")
            with open(path) as fh:
                traced = json.load(fh)
            for name, a, b in (
                ("op_cpu_ms", plain["metrics"]["op_cpu_ms"]["value"],
                 traced["end_to_end"]["op_cpu_ms"]),
                ("op_median_ms (wall)", plain["info"]["env"]["op_median_ms"],
                 traced["env"]["op_median_ms"]),
            ):
                print(f"seed {s}: {name} untraced {a:.1f}, traced {b:.1f}, "
                      f"overhead {b - a:+.1f} ms ({(b - a) / a:+.1%})")
        return

    values: dict[str, list[float]] = {}
    outputs = {}
    for s in seeds(args.seeds):
        res = run_once(bench, args.workload, s, 0)
        outputs[s] = res["info"]["outputs"]
        if not res["correct"]:
            raise SystemExit(f"incorrect result at seed {s}: {res}")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        for k in INFO:
            values.setdefault(k, []).append(res["info"]["env"][k])
        print(f"seed {s}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    gated = {m["name"]: m for m in bench["end_to_end"]}
    for name in list(gated) + list(INFO):
        q1, med, q3 = statistics.quantiles(values[name], n=4)
        spread = (q3 - q1) / med
        m = gated.get(name)
        flag = "" if not m or spread < m["bound"] / 3 else "  <-- above bound/3"
        print(f"{name:>14}: median {med:.4g}, q1 {q1:.4g}, q3 {q3:.4g}, spread {spread:.3f}"
              + (f" (bound {m['bound']}){flag}" if m else " (not gated)"))
    print(json.dumps({"workload": args.workload, "values": values, "outputs": outputs}))


if __name__ == "__main__":
    main()
