#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine plus the harness from
source (first run only; later runs reuse the build while no source
changed), generates the workload's inputs from the seed, runs the
workload in one JVM, checks the answers, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones,
and the spans and listener records are kept under `perfbench/out/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD_DIR, "perfbench.classpath")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
WORKLOADS = ("tfidf_corpus", "neardup_batch", "serve_mixed")
JVM_TIMEOUT_S = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die_with_parent():
    """Child processes get SIGKILL if this process dies first, so a run
    that is itself killed leaves no sbt or JVM behind (Linux prctl)."""
    import ctypes
    import signal
    ctypes.CDLL(None).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine sources and the harness with sbt, once per
    source state, and record the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found; "
                         "run from the repository root")
    digest = source_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    home = os.path.expanduser("~")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={home}/.sbt/repositories",
        "-Dsbt.offline=true", "-Xmx2g"]))
    t0 = time.time()
    cp = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840,
        preexec_fn=die_with_parent)
    lines = [ln for ln in cp.stdout.splitlines() if ln.strip()]
    if cp.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(cp.stdout[-4000:] + cp.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(args, data, work, out):
    with open(CLASSPATH) as f:
        classpath = f.read()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms1g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--data", data, "--work", work,
              "--out", out, "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(cores())])
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=work, preexec_fn=die_with_parent)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: workload timed out")
    if code != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: workload JVM exited with {code}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build()
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(out, exist_ok=True)
    try:
        inputs = gen.generate(data, args.workload, args.seed)
        raw = run_jvm(args, data, work, out)
        mismatches = list(raw["mismatches"])
        checked = raw["checked"]
        sql = raw["extra"].get("oracle_sql", {})
        if sql:
            mismatches += oracle.compare(data, os.path.join(out, "check"), sql)
        report = metrics.end_to_end(raw, inputs, mismatches, checked)
        details = dict(report["details"], end_to_end=report["metrics"])
        if args.trace:
            layers = metrics.per_layer(raw)
            report["metrics"] = layers["metrics"]
            keep = os.path.join(HERE, "out")
            os.makedirs(keep, exist_ok=True)
            with open(os.path.join(keep, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"inputs": inputs, "layers": layers,
                           "trace": raw["trace"]}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass
    # human-readable detail first; the result is the last line
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "inputs": inputs, "details": details}))
    print(json.dumps({k: report[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
