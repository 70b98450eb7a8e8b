#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload etl_stream --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline; classes under `perfbench/target/`,
classpath and source stamp under `.bench_build/`); later runs reuse that
build while the sources are unchanged. The run itself is one
JVM (`graftbench.Main`) with the engine session at local[nproc - 1]:
Spark's driver thread gets the remaining core.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: with `--trace 0` every
end-to-end metric of BENCHMARK.json, with `--trace 1` every per-layer
metric. The lines above it give the full report (checks, traffic
dimensions, every measured value). Traced runs also write their spans to
`.bench_build/traces/` and repeat their end-to-end values as `trace.*`
metrics: minus an untraced run of the same seed, they give the tracing
overhead.
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
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# a run must end within 180 s at the benchmark's own run length; longer
# hand-made runs get proportionally longer
RUN_TIMEOUT_BASE_S = 170
BUILD_TIMEOUT_S = 840
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(ROOT, "src", "main", "resources"),
             os.path.join(HERE, "src"),
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


def build(build_dir):
    """Compile engine + harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    stamp = source_stamp()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false"]
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repo_cfg):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repo_cfg}"]
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join(opts + ["-Xmx2g"]))
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines()
          if l.startswith("/") and "scala-library" in l]
    if not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp[-1]


def cpu_ticks():
    """(steal, total) jiffies over all cores from /proc/stat, or None
    where the kernel does not expose them."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (v[7], sum(v[:8])) if len(v) >= 8 else None


def run_jvm(cp, args, build_dir):
    """Run one workload in its own JVM; return the parsed BENCH_RESULT."""
    work = os.path.join(build_dir, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = ["java"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}/spark-local",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", os.path.join(work, "w")]
    if args.trace:
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        cmd += ["--spans", os.path.join(
            traces, f"{args.workload}-seed{args.seed}.jsonl")]
    timeout = RUN_TIMEOUT_BASE_S + max(0.0, args.seconds - 10) * 8
    ticks0 = cpu_ticks()
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{args.workload} did not finish within {timeout:.0f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("BENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-6000:])
        fail(f"{args.workload} exited with {proc.returncode}")
    res = json.loads(lines[-1][len("BENCH_RESULT "):])
    # host-drift witness: the share of this VM's CPU time the hypervisor
    # gave to other guests while the run was going
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        res["metrics"]["host.steal_share"] = \
            (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    return res


def result_line(res, spec, trace):
    """The contract line: exactly the metrics BENCHMARK.json names."""
    names = spec["per_layer"] if trace else spec["end_to_end"]
    measured = res["metrics"]
    metrics = {}
    correct = bool(res["correct"])
    for m in names:
        v = measured.get(m["name"])
        if v is None:
            if not trace:
                # an end-to-end metric the run could not measure
                correct = False
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": correct, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def smoke(cp, spec, build_dir):
    """Self-test: one short traced run per workload must pass every
    correctness check and emit every end-to-end metric, non-zero; every
    per-layer metric must come from at least one workload."""
    ok = True
    seen = set()
    for w in spec["workloads"]:
        args = argparse.Namespace(workload=w["name"], seed=1, seconds=2,
                                  trace=1)
        res = run_jvm(cp, args, build_dir)
        m = res["metrics"]
        seen |= set(m)
        zero = [x["name"] for x in spec["end_to_end"] if not m.get(x["name"])]
        good = res["correct"] and res["failed"] == 0 and not zero
        ok &= good
        print(f"{w['name']}: {'PASS' if good else 'FAIL'} "
              f"checks={res['checks']} failed={res['failed']} "
              f"missing_or_zero={zero}")
    missing = [x["name"] for x in spec["per_layer"] if x["name"] not in seen]
    print(f"per-layer metrics never emitted: {missing}")
    return ok and not missing


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    build_dir = os.path.join(ROOT, ".bench_build")
    cp = build(build_dir)
    if args.smoke:
        sys.exit(0 if smoke(cp, spec, build_dir) else 1)
    if not args.workload:
        fail("--workload is required")
    res = run_jvm(cp, args, build_dir)
    for k in ("workload", "seed", "trace", "correct", "attempted", "failed",
              "checks", "traffic"):
        print(f"{k}: {json.dumps(res.get(k))}")
    for k, v in sorted(res["metrics"].items()):
        print(f"  {k} = {v}")
    print(json.dumps(result_line(res, spec, bool(args.trace))))


if __name__ == "__main__":
    main()
