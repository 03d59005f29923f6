"""graft's benchmark: one workload per run, one JVM on local[nproc].

    python3 graftbench/run.py --workload ingest_serve --seed 1 \\
        --seconds 8 --trace 0

Builds graft from source on first use (see build.py), runs the benchmark
program, checks its outputs against the input model, and prints as the
last stdout line one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). The line
before it, starting with "info ", carries the raw figures the steadiness
report reads.
"""

import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import build
import metrics

WORKLOADS = ("ingest_serve", "corpus_clean")
RUN_LIMIT_S = 170  # the whole run, build excluded, ends within this

# as spark-submit passes them on JDK 17
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    try:
        cp = build.classpath()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    work = build.HERE / ".work" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "raw.json"
    # no perf-data file under /tmp: the run writes only inside the checkout
    cmd = [build.java(), *OPENS, "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(work / "w"), "--out", str(out)]
    t0 = time.monotonic()
    try:
        # the program's own output goes to stderr: stdout ends in the result
        done = subprocess.run(cmd, cwd=work, stdout=sys.stderr,
                              stderr=sys.stderr, timeout=RUN_LIMIT_S)
        if done.returncode != 0:
            sys.exit(f"benchmark program exited {done.returncode}")
        raw = json.loads(out.read_text())
    except subprocess.TimeoutExpired:
        sys.exit(f"benchmark program ran past {RUN_LIMIT_S}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "run_s": time.monotonic() - t0,
        "end_to_end": metrics.end_to_end(raw),
        "op_ms": metrics.op_ms(raw),
        "warmup_ms": raw["stage"]["warmup_ms"],
        "setup_s": raw["setup_s"],
        "gc_ms": raw["jvm"]["gc_ms"],
        "phases_s": raw["phases_s"],
        "failures": raw["failures"],
    }
    st = raw["stage"]
    if a.workload == "ingest_serve":
        info["compact_rounds"] = st["compact_rounds"]
        info["cycle_ms"] = [c["wall_ms"] for c in st["cycles"]]
        info["produce_ms"] = [c["publish_ms"] for c in st["cycles"]]
        info["query_ms"] = [c["point_ms"] for c in st["cycles"]]
    else:
        info["produce_ms"], info["query_ms"] = st["clean_ms"], st["clusters_ms"]
    print("info " + json.dumps(info))
    print(json.dumps(metrics.result(raw, a.trace == 1)))


if __name__ == "__main__":
    main()
