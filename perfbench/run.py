#!/usr/bin/env python3
"""Benchmark runner for the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the JVM harness with
sbt on first use (cached under .bench_build/), generates the workload's
inputs from the seed, runs the workload in one JVM, checks its outputs and
prints one JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
The line before it is the run's metadata (`{"meta": ...}`), also kept with
the full record under .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import spec  # noqa: E402

JVM_TIMEOUT_S = 165
# Batch input size, as a share of sf0.1 row counts: what lets a run of the
# 18-query mix fit the time a comparison of two commits can give it
# (README.md, Batch inputs).
BATCH_SCALE = 0.1

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation of the first spark-submit on PATH that sits
    beside a `jars` directory (a pip-installed one does not)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    fail("set SPARK_HOME to the Spark installation to build against")


def build():
    """Compile the engine plus harness once per source state; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found: run from the root of a checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java are required")
    stamp = os.path.join(BUILD, "build.json")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("hash") == want:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SPARK_HOME"):
        env["SPARK_HOME"] = spark_home()
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(p.stdout + p.stderr)
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if ln.strip().endswith(".jar") and ":" in ln
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        fail(f"build failed, see {BUILD}/build.log")
    with open(stamp, "w") as fh:
        json.dump({"hash": want, "classpath": cps[-1]}, fh)
    return cps[-1]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10
                              ).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def inputs(workload, seed, seconds):
    """Generate (or reuse) the seeded inputs; returns their directory."""
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:10]
    if workload == "batch":
        d = os.path.join(BUILD, "data",
                         f"tables-s{seed}-x{BATCH_SCALE}-{version}")
        make = lambda tmp: gen.generate(seed, BATCH_SCALE, tmp)  # noqa: E731
    else:
        d = os.path.join(BUILD, "data", f"stream-s{seed}-t{seconds}-{version}")
        make = lambda tmp: gen.stream_log(seed, seconds, tmp)  # noqa: E731
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def run_jvm(cp, workload, data, out, seconds, trace, cores):
    # A fixed heap on transparent huge pages: with 4 KiB pages about one
    # run in four read 1.5 times slower (README.md, JVM settings). The
    # metaspace starts large enough for the generated code of every set-up
    # session, so no full collection for it lands in the timed window.
    mem = "3g"
    cmd = ["java", f"-Xmx{mem}", f"-Xms{mem}", "-XX:+UseTransparentHugePages",
           "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(out, 'tmp')}",
           f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
           "-Dlog4j2.level=ERROR"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", workload, data, out,
            str(seconds), str(trace), str(cores),
            ",".join(spec.BATCH if workload == "batch" else [])]
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"the engine JVM timed out, see {out}/jvm.log")
    if p.returncode != 0:
        fail(f"the engine JVM failed ({p.returncode}), see {out}/jvm.log")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def result_line(values, per_layer, trace, attempted, failed):
    """The last line of a run: the end-to-end metrics untraced, the
    per-layer ones traced (a layer or query the workload does not run
    reads 0)."""
    if trace:
        metrics = {m["name"]: {"value": float(per_layer.get(m["name"]) or 0.0),
                               "unit": m["unit"]} for m in spec.PER_LAYER}
    else:
        metrics = {m["name"]: {"value": float(values[m["name"]]),
                               "unit": m["unit"]} for m in spec.END_TO_END}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int,
                    default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    cp = build()
    data = inputs(a.workload, a.seed, a.seconds)
    out = os.path.join(BUILD, "runs",
                       f"{a.workload}-s{a.seed}-t{a.trace}-c{a.cores}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = run_jvm(cp, a.workload, data, out, a.seconds, a.trace, a.cores)
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)

    if a.workload == "batch":
        attempted, failed, problems, wrong = check.batch(res, out, data)
        correct_runs = sum(x["window_runs"] for q, x in
                           res["executions"].items() if q not in wrong)
        qs = res["query_s"]
        samples = len(qs)
        values = {
            "setup_s": statistics.median(res["setup_s_samples"]),
            "latency_ms_p50": 1000 * spec.quantile(qs, 0.5),
            "latency_ms_p99": 1000 * spec.quantile(qs, 0.99),
            "throughput": correct_runs / res["window_s"],
        }
    else:
        attempted, failed, problems = check.stream(res)
        samples = len(res["latency_ms"])
        values = {
            "setup_s": statistics.median(res["setup_s_samples"]),
            "latency_ms_p50": spec.quantile(res["latency_ms"], 0.5),
            "latency_ms_p99": spec.quantile(res["latency_ms"], 0.99),
            "throughput": res["sustainable_eps"],
        }
    values["peak_rss_mb"] = res["peak_rss_mb"]

    line = result_line(values, res.get("per_layer", {}), a.trace,
                       attempted, failed)
    meta = dict(res.get("meta", {}), nproc=os.cpu_count(), seed=a.seed,
                workload=a.workload, trace=a.trace, git_commit=git_commit(),
                failed_ratio=failed / max(attempted, 1), problems=problems[:50],
                latency_samples=samples,
                time=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    with open(os.path.join(BUILD, "results", f"{os.path.basename(out)}-"
                           f"{stamp}.json"), "w") as fh:
        json.dump(dict(line, meta=meta, values=values), fh, indent=1)
    print(json.dumps({"meta": meta}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
