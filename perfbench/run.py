#!/usr/bin/env python3
"""Runs one benchmark run of one workload and prints its result line.

    python3 perfbench/run.py --workload export_parquet --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark program from source with sbt (perfbench/build.sbt) into
perfbench/target; later runs reuse the build while the sources are
unchanged. Everything the run writes goes under .bench_build/ in the
checkout: inputs and outputs under .bench_build/work/ (deleted when the run
ends), JVM logs under .bench_build/logs/, and a side file per run under
.bench_build/results/ with job times, listener counters, host calibration
stamps and, for traced runs, every span.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` its per-layer metrics.
`--workload all` runs every workload in turn and prints one line each.
`--smoke` runs at toy size (10k rows, the sf0.001 catalog fixture).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "build.stamp")
WORKLOADS = ["export_parquet", "export_jdbc", "catalog_mix"]
FULL = {"rows": 150000, "fixture": "sf0.01", "setups": 2, "heap": "3g"}
SMOKE = {"rows": 10000, "fixture": "sf0.001", "setups": 1, "heap": "2g"}
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built(deadline):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at src/main/scala; run from the root of a dbeamspark checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build and the run take Spark's jars from $SPARK_HOME/jars")
    digest = source_hash()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                                env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(proc, deadline - time.time())
    if code != 0:
        sys.stderr.write(tail(log))
        fail(f"build failed (exit {code}); log in {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def wait(proc, timeout):
    """Waits for the process group; kills it if the timeout runs out."""
    try:
        return proc.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)  # stray children of the group
        except ProcessLookupError:
            pass


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def run_one(args, size, spec, deadline):
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", tag + ".log")
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = (["java", f"-Xms{size['heap']}", f"-Xmx{size['heap']}", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.stream.error.file={work}/derby.log",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{spark_jars}", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--results", os.path.join(BUILD, "results"),
              "--fixture", os.path.join(HERE, "fixture", size["fixture"]), "--rows", str(size["rows"]),
              "--setups", str(size["setups"])])
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, start_new_session=True, text=True)
            try:
                out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                wait(proc, 0)
                fail(f"{args.workload}: run did not finish in time; log in {log}")
            wait(proc, 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(tail(log))
        fail(f"{args.workload}: JVM exited {proc.returncode} without a result; log in {log}")
    raw = json.loads(lines[-1])
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if raw["values"].get(m["name"]) is None]
    if missing:
        fail(f"{args.workload}: metrics not measured: {', '.join(missing)}")
    if raw.get("calib_suspect"):
        print(f"perfbench: {args.workload}: calib_suspect: host speed drifted more than 1.3x "
              "during the run; retake it rather than compare it", file=sys.stderr)
    return {"correct": raw["correct"], "attempted": raw["attempted"], "failed": raw["failed"],
            "metrics": {m["name"]: {"value": raw["values"][m["name"]], "unit": m["unit"]} for m in wanted}}


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="toy sizes, one set-up")
    args = p.parse_args()
    start = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    ensure_built(start + BUILD_LIMIT_S)
    size = SMOKE if args.smoke else FULL
    names = WORKLOADS if args.workload == "all" else [args.workload]
    for name in names:
        one = argparse.Namespace(**{**vars(args), "workload": name})
        result = run_one(one, size, spec, time.time() + RUN_LIMIT_S)
        print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
