"""Benchmark command: builds the program with the benchmark's Scala code,
times one workload, checks the outputs, and prints the result as the last
line.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 30 --trace 0

Run from the repository root. Every repetition is one fresh JVM that sets up,
times one build and checks its output, as each run of `graft.pipeline.Main`
is one JVM; repetitions continue until `--seconds` have passed, and the
result reports medians over them. `--trace 1` makes one traced repetition
instead and reports the per-layer metrics. Units come from BENCHMARK.json, and
the run fails when the metrics differ from the ones it lists. Everything is
written under `.bench_build/`; each repetition's work directory is removed.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

# a run must end within this many seconds after its build
DEADLINE_S = 175
HEAP = "3g"
# what Spark on JDK 17 needs when started outside spark-submit (as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
UNCOVERED_STAGE = 4  # PerfBench's exit code for a stage outside the layer map


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def repetition(args, root, classpath, trace, deadline):
    """Runs one `perfbench.PerfBench` JVM; returns its output line, or None if it failed."""
    base = root / ".bench_build" / "perfbench"
    work = base / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log_path = base / f"{args.workload}-{args.seed}-trace{int(trace)}.log"
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", classpath, "perfbench.PerfBench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--trace", "1" if trace else "0", "--work", str(work),
           "--cores", str(len(os.sched_getaffinity(0)))]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
            except BaseException:  # timeout, SIGTERM or Ctrl-C: stop the JVM first
                proc.kill()
                proc.wait()
                raise
    except subprocess.TimeoutExpired:
        fail(f"timed out; JVM log: {log_path}", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode == UNCOVERED_STAGE:
        fail(f"a build emitted a stage the layer map does not cover; JVM log: {log_path}")
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print("\n".join(log_path.read_text().splitlines()[-30:]), file=sys.stderr)
        print(f"perfbench: repetition failed (exit {proc.returncode}); JVM log: {log_path}",
              file=sys.stderr)
        return None
    return json.loads(lines[-1])


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    root = pathlib.Path.cwd()
    spec_file = root / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found; run from the repository root", 2)
    spec = json.loads(spec_file.read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"workload {args.workload!r} is not in BENCHMARK.json", 2)

    classpath = build.build(root)
    start = time.monotonic()  # the first run's build is not held to the deadline
    deadline = start + DEADLINE_S

    # untimed set-up, one timed build and its check per JVM, for --seconds;
    # a traced run times one traced build
    outs = []
    while not outs or (not args.trace and time.monotonic() - start < args.seconds):
        outs.append(repetition(args, root, classpath, args.trace, deadline))

    done = [o for o in outs if o]
    if not done:
        fail("no repetition finished")
    passed = sum(o["ok"] for o in done)
    attempted = len(outs)
    failed = attempted - passed

    def med(k):
        return statistics.median(o["sample"][k] for o in done)

    if args.trace:
        metrics = done[0]["layers"]
    else:
        metrics = {k: med(k) for k in ("setup_s", "wall_s", "cpu_s", "triple_precision",
                                       "triple_recall", "link_precision", "link_recall")}
        metrics["triples_per_s"] = statistics.median(
            o["sample"]["triples"] / o["sample"]["wall_s"] for o in done)
        metrics["ok_rate"] = passed / attempted
    if set(metrics) != set(units):
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(units) - set(metrics))}, "
             f"unlisted {sorted(set(metrics) - set(units))}")

    # every sample with its GC and host steal seconds, so an outlier explains
    # itself, and its catalog's table digests, which two builds of the same
    # workload and seed must share (compare them between two versions of the
    # program)
    print(json.dumps({"samples": [dict(o["sample"], digest=o["digest"]) for o in done]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
