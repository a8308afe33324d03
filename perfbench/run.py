#!/usr/bin/env python3
"""Benchmark of the slow-log engine: ingest, QAN reports, curation and a
board sample.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the harness with sbt (offline) into
perfbench/.build; later runs reuse that build while the sources are
unchanged. The harness runs in one JVM on one local Spark session with as
many cores as the machine has. Its inputs are generated from --seed.
Untraced runs (--trace 0) print the end-to-end metrics, traced runs
(--trace 1) the per-layer metrics, both as the last line of standard
output: one JSON object with keys correct, attempted, failed and metrics.
Human-readable headline figures come on the lines before it. A traced
run also writes its spans to perfbench/out/spans-<workload>-<seed>.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("ingest", "qan_reports", "curate", "board")
DEADLINE_S = 150  # the board check runs after the JVM, within the 180 s a run may take
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def build():
    """Builds with sbt unless the last build used the same sources; returns
    the runtime classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return open(cp_file).read().split("\n")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (sbt exit {rc}); log in {log}")
    shutil.copy(os.path.join(HERE, "target", "runtime-classpath.txt"), cp_file)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return open(cp_file).read().split("\n")


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


def run_jvm(classpath, args, work, result, spans):
    """Runs the harness JVM; it gets DEADLINE_S from its launch, since the
    build before it may take longer on a first run."""
    log = os.path.join(work, "jvm.log")
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
              f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", ":".join(classpath), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--result", result, "--spans", spans])
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.stderr.write(open(log).read()[-4000:])
            die("the harness ran past its deadline")
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(log).read()[-6000:])
        die(f"the harness failed (exit {rc})")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no engine sources next to {HERE}; run from a checkout of the repository", 2)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json is missing", 2)
    spec = json.load(open(spec_path))
    classpath = build()

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.jsonl")
    result = os.path.join(work, "result.json")
    try:
        run_jvm(classpath, args, work, result, spans)
        res = json.load(open(result))
        problems, notes = list(res["problems"]), []
        if args.workload == "board":
            sys.path.insert(0, HERE)
            import check_board
            board_problems, notes = check_board.check(os.path.join(work, "board-check"))
            problems += board_problems
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, m in res["headline"].items():
        print(f"{name:<22} {m['value']:>14.6g} {m['unit']}")
    for note in notes:
        print(f"NOTE: {note}")
    for prob in problems:
        print(f"FAILED CHECK: {prob}")
    if args.trace:
        print(f"spans written to {os.path.relpath(spans, ROOT)}")
        metrics = {m["name"]: res["per_layer"].get(m["name"], {"value": 0.0, "unit": m["unit"]})
                   for m in spec["per_layer"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in res["end_to_end"]]
        if missing:
            die(f"the harness reported no {', '.join(missing)}")
        metrics = {m["name"]: res["end_to_end"][m["name"]] for m in spec["end_to_end"]}
    attempted = max(1, int(res["attempted"]))
    failed = min(attempted, len(problems))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
