"""Steadiness report: runs each workload repeatedly (one seed per run)
and prints, per end-to-end metric, the median, quartiles and IQR/median
against the bound in BENCHMARK.json, plus the warm-up curves, set-up
times, GC time and the tracing overhead of one traced run.

    python3 graftbench/steadiness.py --runs 10 [--workloads a,b] [--seed0 1]
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    done = subprocess.run(cmd, capture_output=True, text=True)
    lines = done.stdout.strip().splitlines()
    if done.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {done.returncode}\n"
                           + done.stderr[-2000:])
    return json.loads(lines[-2][len("info "):]), json.loads(lines[-1])


def flat(xs):
    """Rounded values of a list that may nest one level (ingest cycles)."""
    return [round(y) for x in xs for y in (x if isinstance(x, list) else [x])]


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def report(workload, runs, traced, bounds):
    """Prints the spread of every end-to-end metric over `runs` and the
    figures behind it; `traced` is the info of one traced run."""
    print(f"\n== {workload}: {len(runs)} runs, seeds "
          f"{runs[0][0]['seed']}..{runs[-1][0]['seed']}")
    for name, bound in bounds.items():
        vals = [r[1]["metrics"][name]["value"] for r in runs]
        med, q1, q3, rel = spread(vals)
        unit = runs[0][1]["metrics"][name]["unit"]
        flag = "ok" if rel < bound / 3 else ("WIDE" if rel >= bound else "near")
        print(f"  {name:16s} median {med:12.4f} {unit:4s} q1 {q1:12.4f} "
              f"q3 {q3:12.4f} iqr/median {rel:6.3f} bound {bound:.2f} {flag}")
    fails = sum(r[1]["failed"] for r in runs)
    print(f"  operations: {sum(r[1]['attempted'] for r in runs)} attempted, "
          f"{fails} failed")
    print("  warm-up rep ms per run:",
          [[round(x) for x in r[0]["warmup_ms"]] for r in runs])
    print("  produce ms per rep, per run:", [flat(r[0]["produce_ms"]) for r in runs])
    print("  gc ms per run:", [r[0]["gc_ms"] for r in runs])
    print("  run wall s:", [round(r[0]["run_s"], 1) for r in runs])
    print("  JVM uptime s at the end of each phase, first run:",
          {k: round(v, 1) for k, v in runs[0][0]["phases_s"].items()})
    print("  set-up s per run:", [[round(x, 3) for x in r[0]["setup_s"]]
                                  for r in runs])
    if workload == "ingest_serve":
        print("  cycle ms per run:", [flat(r[0]["cycle_ms"]) for r in runs])
        print("  compaction rounds per run:",
              sorted({tuple(r[0]["compact_rounds"]) for r in runs}))

    base = statistics.median(r[0]["op_ms"] for r in runs)
    print(f"  tracing overhead: traced op {traced['op_ms']:.1f} ms vs "
          f"untraced median {base:.1f} ms ({traced['op_ms'] / base - 1:+.1%})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(
        w["name"] for w in BENCH["workloads"]))
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    for w in a.workloads.split(","):
        runs = [run(w, a.seed0 + i, a.seconds, 0) for i in range(a.runs)]
        report(w, runs, run(w, a.seed0, a.seconds, 1)[0], bounds)


if __name__ == "__main__":
    main()
