"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads role_quantiles sketch_warehouse --seeds 1-10 --trace 0

For every workload and end-to-end metric it prints the median over the seeds
and the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, next to
the metric's bound.  ``--out FILE`` also writes every run's result and the
summary as JSON.  Runs are sequential; each is one call of run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402

HOST_FACTS = (
    "nproc", "cores", "steal_pct", "seed", "input_rows", "input_bytes", "rows_per_pass",
    "read_write_ratio", "session_start_s", "passes", "pass_s", "op_s", "reported", "run_wall_s",
)


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / abs(med) if med else float("inf")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    args = p.parse_args()
    runs, summary = [], {}
    for w in args.workloads:
        for seed in args.seeds:
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                capture_output=True, text=True, timeout=600,
            )
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            host = {}
            if result:
                # the run record holds the host facts: nproc, steal, input sizes
                rec_path = lines[0].rsplit(" record ", 1)[1]
                with open(rec_path) as f:
                    rec = json.load(f)
                host = {k: rec[k] for k in HOST_FACTS}
            runs.append({"workload": w, "seed": seed, "wall_s": wall, "exit": proc.returncode,
                         "result": result, "host": host, "report": lines[:-1]})
            brief = {k: round(v["value"], 4) for k, v in (result or {}).get("metrics", {}).items()}
            print(f"{w} seed {seed}: exit {proc.returncode} wall {wall:.1f}s "
                  f"correct {result and result['correct']} {brief}", flush=True)
        ok = [r["result"] for r in runs if r["workload"] == w and r["result"]]
        names = [n for n, *_ in spec.END_TO_END] if not args.trace else [n for n, *_ in spec.PER_LAYER]
        bounds = {n: b for n, _, _, b in spec.END_TO_END}
        summary[w] = {}
        for n in names:
            vals = [r["metrics"][n]["value"] for r in ok if n in r["metrics"]]
            if len(vals) >= 2:
                med, sp = spread(vals)
                summary[w][n] = {"median": med, "iqr_share": sp, "bound": bounds.get(n), "values": vals}
                if not args.trace:
                    print(f"  {w} {n}: median {med:.6g} spread {sp:.4f} bound {bounds.get(n)}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
