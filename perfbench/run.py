#!/usr/bin/env python3
"""The repository benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from source (sbt, offline) into
.bench_build/, starts one JVM that sets up the workload and measures it
(perfbench/src/main/scala), compares query outputs with their DuckDB
twins, and prints one JSON object as the last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md.
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

WORKLOADS = ("cop_queries", "corpus_queries", "corpus_jobs", "stream_ingest")
DEFAULT_FIXTURES = "/root/testdata/sf0.1"
DEADLINE_S = 170.0
# corpus replica factor and update-batch size of the corpus workloads, and
# how many times set-up generates the inputs (the median counts)
CORPUS_FACTOR = 2
UPDATE_ROWS = 400
GEN_REPEATS = 3
# cop_queries runs many short, different plans, so its measured passes sit
# on the steep part of the JIT warm-up curve; compiling after a tenth of
# the default invocation counts moves that work into the cold pass. Over
# five seeds it cut the spread of suite_s from 17 % to 7.5 %; on
# corpus_queries and stream_ingest it widened the spread (more compiler
# threads competing with tasks), so they run with the JVM's defaults.
JVM_FLAGS = {"cop_queries": ["-XX:CompileThresholdScaling=0.1"]}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in sorted(os.walk(d)):
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile engine + harness with sbt (offline) unless the classpath for
    the current sources is already there. Returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join(opts + ["-Xmx3g"]))
    log("building engine + harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def heap():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal"))
        return f"{max(2, min(4, kb // (1024 * 1024) // 4))}g"
    except (OSError, StopIteration):
        return "4g"


def run_jvm(cp, args, work, out, data, batch, tiny, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += JVM_FLAGS.get(args.workload, [])
    cmd += [f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", out]
    if batch:
        cmd += ["--batch", batch]
    if tiny:
        cmd += ["--scale", "tiny"]
    # the JVM's own output goes to stderr: stdout carries only the result
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         env=dict(os.environ, TMPDIR=tmp))
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("perfbench: the harness JVM ran out of time")
    if rc != 0:
        raise SystemExit(f"perfbench: the harness JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test scale: a few ops on small inputs")
    args = ap.parse_args(argv)
    t0 = time.time()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log(f"no engine sources under {root}/src/main/scala: run from the "
            "root of a checkout")
        return 2
    fixtures = os.environ.get("PERFBENCH_FIXTURES", DEFAULT_FIXTURES)
    if not os.path.isfile(os.path.join(fixtures, "documents.parquet")):
        log(f"fixture directory {fixtures} not found")
        return 2

    build_dir = os.path.join(root, ".bench_build")
    cp = build(root, build_dir)
    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload in ("corpus_queries", "corpus_jobs"):
            data, batch, gen_s, inputs = gen.generate(
                args.workload, args.seed, fixtures, work,
                1 if args.tiny else CORPUS_FACTOR, UPDATE_ROWS, GEN_REPEATS)
        else:
            data, batch, gen_s = fixtures, None, []
            inputs = gen.fixture_records(fixtures) \
                if args.workload == "cop_queries" else []
        out = os.path.join(work, "result.json")
        res = run_jvm(cp, args, work, out, data, batch, args.tiny,
                      timeout=max(30.0, DEADLINE_S - (time.time() - t0) - 15))
        res["inputs"] += inputs
        res["setup"]["gen_s"] += gen_s
        checks = []
        if res["oracle"]:
            import oracle
            checks = oracle.compare(res["oracle"], os.path.join(work, "tmp"))
        for name, ok, detail, _ in checks:
            log(f"oracle {name}: {detail}" if ok else
                f"ORACLE MISMATCH {name}: {detail}")
        for c in res["checks"]:
            if not c["ok"]:
                log(f"CHECK FAILED {c['name']}: {c['detail']}")
        log(f"setup {res['setup']}, {res['passes']} passes: "
            + " ".join(f"{w:.2f}" for w in res["pass_wall_s"])
            + f"; host steal during the passes {res['steal_ms']:.0f} ms")
        per_op = {}
        for smp in res["samples"]:
            per_op.setdefault(smp["op"], []).append(smp["wall_s"])
        log("op walls: " + ", ".join(
            f"{k} {'/'.join(f'{w:.2f}' for w in v)}" for k, v in sorted(per_op.items())))
        for i in res["inputs"]:
            log(f"input {i['name']}: {i['rows']} rows, {i['bytes']} bytes, "
                f"hash {i['hash']}")
        if args.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            span_file = os.path.join(
                traces, f"{args.workload}-{args.seed}.spans.json")
            with open(span_file, "w") as f:
                json.dump(res["trace"]["spans"], f)
            log(f"spans written to {span_file}")
        result = metrics.result(res, checks, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
