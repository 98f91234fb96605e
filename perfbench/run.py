#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload stream_pipeline --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. It compiles the repository and the
benchmark (cached in $CARGO_TARGET_DIR, default .bench_build), runs the
workload in one JVM, prints every metric it measured as a `metric` line,
and ends with one JSON line: `correct`, `attempted`, `failed` and the
metrics BENCHMARK.json declares, end-to-end ones with `--trace 0` and
per-layer ones with `--trace 1`. Workload settings live in
perfbench/workloads.json, reference digests in perfbench/references.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

JVM_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def load_json(path):
    with open(path) as fh:
        return json.load(fh)


def java(classes, jars, build_dir, main, args, timeout, log):
    """Run one JVM with a temporary directory of its own, removed after."""
    tmp = tempfile.mkdtemp(prefix="jvm-", dir=build_dir)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("the run did not finish within %d s" % timeout)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    ap.add_argument("--record-references", action="store_true",
                    help="rewrite the workload's reference digests for this seed's dataset")
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        fail("BENCHMARK.json not found at the checkout root")
    bench = load_json(bench_path)
    config = os.path.join(HERE, "workloads.json")
    workloads = load_json(config)["workloads"]
    if not a.selftest:
        if a.workload not in workloads:
            fail("unknown workload %r; known: %s" % (a.workload, ", ".join(sorted(workloads))))
        if "dropped" in workloads[a.workload]:
            fail("workload %s is not run: %s" % (a.workload, workloads[a.workload]["dropped"]))

    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(build_dir):
        build_dir = os.path.join(ROOT, build_dir)
    bench_dir = os.path.join(build_dir, "perfbench")
    os.makedirs(bench_dir, exist_ok=True)
    log_path = os.path.join(bench_dir, "jvm.log")
    with open(log_path, "w") as log:
        try:
            classes, jars = build.build(bench_dir, log)
        except (build.BuildError, subprocess.TimeoutExpired) as e:
            fail("build failed: %s (see %s)" % (e, log_path))
        if a.selftest:
            code, out = java(classes, jars, bench_dir, "perfbench.SelfTest", [], JVM_LIMIT_S, log)
            sys.stdout.write(out)
            sys.exit(code)
        names = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--config", config,
                "--refs", os.path.join(HERE, "references.json"),
                "--work", os.path.join(bench_dir, "work"), "--out", os.path.join(bench_dir, "runs"),
                "--metrics", ",".join(names)]
        if a.record_references:
            args.append("--record-refs")
        code, out = java(classes, jars, bench_dir, "perfbench.Main", args, JVM_LIMIT_S, log)

    lines = out.rstrip("\n").split("\n") if out.strip() else []
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if result is None:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        print(tail, file=sys.stderr)
        fail("the run failed (exit code %d); log: %s" % (code, log_path))
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        fail("metrics missing from the result: %s" % ", ".join(missing))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
