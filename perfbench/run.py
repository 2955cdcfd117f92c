#!/usr/bin/env python3
"""Benchmark of the graft engine: seeded closed-loop workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first call builds the engine's
sources together with the benchmark (perfbench/build.sbt); later calls
reuse the build while the sources are unchanged. Every run gets a fresh
temporary directory and output root inside perfbench/, deleted
afterwards. The last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics; see perfbench/README.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
# the workloads BENCHMARK.json lists (what `--workload all` runs), then the
# two parts of corpus_cdc, runnable on their own for focused measurements
CONTRACT_WORKLOADS = ["etl_cycle", "corpus_cdc"]
WORKLOADS = CONTRACT_WORKLOADS + ["corpus_curate", "cdc_replicate"]
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ENGINE_SRC, "scala"), os.path.join(ENGINE_SRC, "resources"),
            os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(src_hash):
    """Compiles if needed; returns the runtime classpath."""
    stamp = os.path.join(BENCH, "target", "perfbench.classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            old_hash, cp = f.read().split("\n", 1)
        if old_hash == src_hash:
            return cp.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out", 4)
    lines = out.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and "classes" in l]
    if out.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 4)
    cp = cps[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(src_hash + "\n" + cp + "\n")
    return cp


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def java_cmd(cp, run_dir, extra):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *opens,
            "-cp", cp, "perfbench.Main", *extra]


def run_jvm(cmd, run_dir, timeout_s):
    """Runs the JVM in its own process group; returns (code, stdout lines).
    On timeout the whole group is killed and waited for."""
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log, text=True,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, [], log_path
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return p.returncode, out.splitlines(), log_path


def stderr_tail(log_path, n=30):
    with open(log_path, errors="replace") as f:
        sys.stderr.write("".join(f.readlines()[-n:]))


def valid_result(obj):
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        return False
    if not isinstance(obj["attempted"], int) or obj["attempted"] < 1 or not isinstance(obj["failed"], int):
        return False
    return all(set(m) == {"value", "unit"} and isinstance(m["value"], (int, float))
               for m in obj["metrics"].values())


def contract_metrics(result, trace):
    """The result's metrics narrowed to BENCHMARK.json's list: a timed run
    reports every end-to-end metric, a traced run every per-layer metric,
    where a layer the workload does not reach reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    got = result["metrics"]
    if trace:
        return {m["name"]: got.get(m["name"], {"value": 0.0, "unit": m["unit"]}) for m in spec["per_layer"]}
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in got]
    if missing:
        fail(f"result lacks end-to-end metrics {missing}", 1)
    return {m["name"]: got[m["name"]] for m in spec["end_to_end"]}


def run_workload(name, args, cp, src_hash, deadline):
    run_dir = os.path.join(BENCH, ".run", f"{name}-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    results = os.path.join(BENCH, ".results")
    os.makedirs(results, exist_ok=True)
    try:
        extra = ["--workload", name, "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace), "--run-dir", run_dir, "--commit", git_commit(),
                 "--source-hash", src_hash,
                 "--spans-out", os.path.join(results, f"{name}.spans.jsonl")]
        code, lines, log_path = run_jvm(java_cmd(cp, run_dir, extra), run_dir,
                                        max(10, deadline - time.time()))
        if code is None:
            stderr_tail(log_path)
            fail(f"{name}: run timed out and was killed", 3)
        if code != 0 or not lines:
            stderr_tail(log_path)
            fail(f"{name}: benchmark JVM exited with {code}", 1)
        for line in lines[:-1]:
            print(line)
        try:
            result = json.loads(lines[-1])
        except ValueError:
            stderr_tail(log_path)
            fail(f"{name}: last line is not a JSON result: {lines[-1][:200]}", 1)
        if not valid_result(result):
            fail(f"{name}: malformed result {lines[-1][:200]}", 1)
        result["metrics"] = contract_metrics(result, args.trace)
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"no engine sources under {ENGINE_SRC}: run from the root of a full checkout")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must point at the Spark installation")

    src_hash = source_hash()
    cp = build(src_hash)
    deadline = time.time() + RUN_TIMEOUT_S
    if args.selftest:
        run_dir = os.path.join(BENCH, ".run", f"selftest-{os.getpid()}")
        os.makedirs(os.path.join(run_dir, "tmp"))
        try:
            code, lines, log_path = run_jvm(java_cmd(cp, run_dir, ["--selftest"]), run_dir, 60)
            print("\n".join(lines))
            if code != 0:
                stderr_tail(log_path)
                fail("selftest failed", 1)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        return

    names = CONTRACT_WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    for name in names:
        results[name] = run_workload(name, args, cp, src_hash,
                                     deadline if len(names) == 1 else time.time() + RUN_TIMEOUT_S)
    if len(names) == 1:
        print(json.dumps(results[names[0]]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()},
        }))


if __name__ == "__main__":
    main()
