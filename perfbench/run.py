#!/usr/bin/env python3
"""graft benchmark: one seeded workload, timed or traced.

    python3 perfbench/run.py --workload index --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the library from source (see
`build.py`), generates the inputs from the seed (`gen.py`), runs the
workload in one JVM at local[4] (`src/perfbench/Harness.scala`), checks
every output (the pipeline's with `tools/check_oracle.py`), and prints
the metrics: a human-readable report, then as the last line one JSON
object with `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics with `--trace 0`, per-layer metrics with `--trace 1`).
`--workload all` runs both workloads in turn and prints every named
end-to-end metric. Exits non-zero on any failure or correctness
mismatch. See README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["index", "pipeline"]
CPUS = 4            # local[4]; the index workload also builds at local[1]
PARTS = 8           # shuffle partitions, equal at every level
HEAP = "4g"         # explicit: the sbt build would default to 32g
# corpus size: the sf0.1 size (5,000 docs) for the index, sf0.02 for
# the pipeline so that its cold first pass and oracle compare fit a run
DOCS = {"index": 5000, "pipeline": 1000}
ORACLE = "tools/check_oracle.py"


def plan(workload, seconds):
    """What `gen.py` generates for a run of `seconds`. The index
    workload's exact-query loop runs for half of `seconds`, at no less
    than ~250 ms a query on a 4-core machine, and a round takes over
    10 s; both are sized with room to spare, since the harness stops at
    the deadline, not when the inputs run out."""
    if workload != "index":
        return {}
    return {"rounds": 2 + math.ceil(seconds / 5),
            "exact_queries": 10 + math.ceil(seconds * 4),
            "maint_queries": 20, "append_docs": 1000, "delete_docs": 1000}


def jvm_timeout(seconds):
    """Seconds the harness JVM may take: 150 at the default 10, so that
    the whole run ends within 180 s."""
    return 120 + 3 * seconds

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def levers():
    """Engine levers set in the environment: both sides of a comparison
    must measure the default paths."""
    return sorted(k for k in os.environ
                  if k.startswith("GRAFT_") or k.startswith("SPARK_GRAFT_"))


def run_jvm(root, classes, work, workload, seconds, trace, deadline):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the JVM would write it under /tmp
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-Xss8m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(root, classes), "perfbench.Harness",
            f"workload={workload}", f"seconds={seconds}", f"trace={trace}",
            f"work={work}", f"out={out}", f"cpus={CPUS}", f"parts={PARTS}",
            "queries=" + ",".join(metrics.PIPELINE_QUERIES)]
    # index scratch dirs stay inside the run directory
    env = dict(os.environ, GRAFT_SCRATCH_DIR=tmp)
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log,
                            stderr=subprocess.STDOUT)
    try:
        proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise RuntimeError("harness JVM timed out")
    finally:
        # also when this process is interrupted or terminated
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"harness JVM exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def parse_oracle(output, returncode):
    """{query: None if it matches, else the reason} from the `OK <q>` and
    `FAIL <q>: <why>` lines of `tools/check_oracle.py`; a non-zero exit
    with no FAIL line (the script itself failed) is one more failure."""
    res = {}
    for line in output.splitlines():
        if line.startswith("OK "):
            res[line.split()[1].rstrip(":")] = None
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            res[name.strip()] = why or "failed"
    if returncode != 0 and not any(res.values()):
        res["check_oracle.py"] = f"exited with {returncode}"
    return res


def check_oracle(root, work, deadline):
    """The repository's DuckDB compare over the pipeline's outputs, run
    through `oracle.py` (DuckDB 1.0 can abort at interpreter exit). A
    query with an oracle but no OK or FAIL line is a failure too."""
    p = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "oracle.py"),
         os.path.join(root, ORACLE), os.path.join(work, "data"),
         os.path.join(work, "oracle")], cwd=root, capture_output=True,
        text=True, timeout=max(10, deadline - time.time()))
    res = parse_oracle(p.stdout, p.returncode)
    sql = os.path.join(work, "oracle", "oracle_sql.json")
    if not os.path.exists(sql):
        res["oracle_sql.json"] = "not written"
        return res
    with open(sql) as f:
        for q in json.load(f):
            res.setdefault(q, "no result line")
    return res


def run_one(root, classes, workload, seed, seconds, trace):
    start = time.time()
    work = os.path.join(root, ".bench_build", "runs",
                        f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen.write_inputs(work, seed, DOCS[workload], plan(workload, seconds))
        deadline = start + jvm_timeout(seconds)
        raw = run_jvm(root, classes, work, workload, seconds, trace, deadline)
        if workload == "pipeline":
            raw["oracle"] = check_oracle(root, work, deadline + 20)
        return raw
    except subprocess.TimeoutExpired:
        raise RuntimeError("oracle compare timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None):
    # SIGTERM unwinds like Ctrl-C, so the harness JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    if levers():
        print("refusing to run with engine levers set: " + ", ".join(levers()),
              file=sys.stderr)
        return 2
    root = os.getcwd()
    try:
        classes = build.build(root)
    except (RuntimeError, subprocess.CalledProcessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 3

    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for w in names:
        try:
            raw = run_one(root, classes, w, a.seed, a.seconds, a.trace)
        except RuntimeError as e:
            print(f"{w}: {e}", file=sys.stderr)
            return 4
        results[w] = metrics.summarize(raw)
    for line in metrics.report(results, a.trace):
        print(line)
    if a.workload == "all":
        return 0 if all(r["correct"] for r in results.values()) else 1
    r = results[a.workload]
    print(json.dumps(metrics.result_line(r, a.trace)))
    return 0 if r["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
