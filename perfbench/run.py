#!/usr/bin/env python3
"""Benchmark entry point, run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source with sbt on first use (the classpath is
kept under .bench_build/), runs one workload in a fresh JVM
(perfbench.Main), computes the statistics (stats.py) from the raw
operations the JVM reports, and prints the result as the last line of
standard output. With --trace 0 the metrics are BENCHMARK.json's
end_to_end list; with --trace 1 its per_layer list.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 160

# Spark 4 on JDK 17 outside spark-submit needs these opens (the program's
# own build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPTS = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
    "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]

# Which op phase the end-to-end latencies come from.
PRIMARY = {"api": "open", "batch_queries": "query"}
ROUTES = ["point", "point_range", "region", "stats", "metric_monthly",
          "metric_climatology", "metric_percentiles", "metric_trend",
          "metric_trend_sig", "metric_anomaly"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_digest():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"),
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
    """Compile the program and the benchmark driver; return the classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    digest = sources_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "digest.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(sbt_opts))
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.splitlines()
    cps = [l.strip() for l in lines if os.pathsep in l and ".jar" in l
           and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = cps[-1]
    # Class-data archive of one short training run: later JVMs map the
    # loaded classes instead of parsing and verifying them again, which
    # takes seconds off every run's set-up.
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "work", f"train-{os.getpid()}")
    try:
        launch(cp, ["--workload", "api", "--seed", "0", "--seconds", "1",
                    "--trace", "0"], work,
               [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def launch(cp, args, work, jvm_extra=()):
    """Run perfbench.Main with `args` in a fresh JVM; (report, launch wall
    time)."""
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *JVM_OPTS, *jvm_extra, f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "perfbench.Main", *args, "--work", work]
    log_path = os.path.join(work, "jvm.log")
    launched = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run {' '.join(args)} exceeded {RUN_TIMEOUT_S} s")
    reps = [l[len("PERFBENCH "):] for l in out.splitlines()
            if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not reps:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run {' '.join(args)} exited with {proc.returncode}")
    return json.loads(reps[-1]), launched


def ops_of(rep):
    keys = ("phase", "cls", "intended", "start", "end", "ok")
    return [dict(zip(keys, o)) for o in rep["ops"]]


def end_to_end(rep, launched):
    """End-to-end values plus the context printed beside them."""
    w = rep["workload"]
    sc = rep["scalars"]
    ops = ops_of(rep)
    prim = [o for o in ops if o["phase"] == PRIMARY[w]]
    lat = [stats.latency(o) for o in prim]
    tail_v, tail_pct, tail_n = stats.tail(lat)
    if w == "api":
        closed = [o for o in ops if o["phase"] == "closed"]
        work = stats.closed_rate(closed, sc["closed_from_s"])
    else:
        work = sc["work_per_s"]
    opened = [o for o in ops if o["phase"] == "open"]
    values = {
        "setup_s": sc["mark.warmup"] - launched,
        "p50_s": stats.p50(lat),
        "tail_s": tail_v,
        "work_per_s": work,
    }
    failed = sum(1 for o in ops if not o["ok"])
    marks = sorted((t, k[len("mark."):]) for k, t in sc.items() if k.startswith("mark."))
    context = {
        "setup_split_s": {step: round(t - prev, 3) for (t, step), prev
                          in zip(marks, [launched] + [t for t, _ in marks])},
        "tail_s": {"percentile": round(tail_pct, 2), "beyond": tail_n,
                   "samples": len(lat)},
        "fail_ratio": failed / len(ops),
        "limit_miss_ratio": sum(1 for x in lat if x >= stats.LIMIT_S) / len(lat),
        "heap_live_mb": sc["heap_live_mb"],
        "host.steal_s": sc["steal_s"],
        "jvm.gc_s": sc["gc_s"],
        "loadgen.lag_p99_s": (stats.nearest_rank(stats.generator_lag(opened), 0.99)
                              if opened else 0.0),
    }
    return values, context, ops


def per_layer(rep, ops, context):
    """Per-layer values: the JVM's own layer timings plus what derives from
    the raw ops and the listener counters. Counters are per operation of
    the timed phase that computed something: on api the cold requests,
    every one a cache miss; on batch_queries every query run."""
    w = rep["workload"]
    sc = rep["scalars"]
    v = dict(rep["layers"])
    prim = [o for o in ops if o["phase"] == PRIMARY[w]]
    n = sc["counted_ops"]
    for cls in sorted({o["cls"] for o in prim}):
        lat = [stats.latency(o) for o in prim if o["cls"] == cls]
        key = f"serve.route.{cls}.p50_s" if cls in ROUTES else f"queries.{cls}.p50_s"
        v[key] = stats.p50(lat)
    if "spark_jobs" in sc:
        v["spark.jobs_per_op"] = sc["spark_jobs"] / n
        v["spark.stages_per_op"] = sc["spark_stages"] / n
        v["spark.tasks_per_op"] = sc["spark_tasks"] / n
        v["spark.task_cpu_s_per_op"] = sc["spark_task_cpu_ns"] / 1e9 / n
        v["spark.input_mb_per_op"] = sc["spark_input_bytes"] / 1048576 / n
        v["spark.shuffle_mb_per_op"] = (sc["spark_shuffle_read_bytes"]
                                        + sc["spark_shuffle_write_bytes"]) / 1048576 / n
        v["spark.spill_mb"] = sc["spark_spill_bytes"] / 1048576
    hot = [stats.latency(o) for o in ops if o["phase"] == "hot"]
    if hot:
        v["serve.hot_tail_s"], pct, beyond = stats.tail(hot)
        context["serve.hot_tail_s"] = {"percentile": round(pct, 2), "beyond": beyond,
                                       "samples": len(hot)}
    v["jvm.alloc_mb_per_op"] = sc["alloc_mb"] / n
    v["jvm.gc_s"] = sc["gc_s"]
    v["host.steal_s"] = sc["steal_s"]
    v["loadgen.lag_p99_s"] = context["loadgen.lag_p99_s"]
    v["loadgen.backlog_max"] = stats.backlog_max([o for o in ops if o["phase"] == "open"])
    return v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    cp = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        archive = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
        rep, launched = launch(cp, ["--workload", args.workload, "--seed", str(args.seed),
                                    "--seconds", str(args.seconds),
                                    "--trace", str(args.trace)], work, archive)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values, context, ops = end_to_end(rep, launched)
    context["notes"] = rep["notes"]
    context["check_failures"] = rep["check_failures"]
    last = os.path.join(BUILD, f"last_untraced_{args.workload}.json")
    if args.trace:
        metrics = spec["per_layer"]
        layer = per_layer(rep, ops, context)
        measured = {m["name"]: layer.get(m["name"], 0.0) for m in metrics}
        context["unmeasured_here"] = sorted(m["name"] for m in metrics
                                            if m["name"] not in layer)
        context["traced_end_to_end"] = values
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            context["trace_overhead"] = {
                k: (values[k] / base[k] - 1.0) if base.get(k) else None
                for k in values}
        else:
            context["trace_overhead"] = "no untraced run of this workload yet"
    else:
        metrics = spec["end_to_end"]
        measured = values
        with open(last, "w") as f:
            json.dump(values, f)
    line = stats.metric_line(measured, {m["name"]: m["unit"] for m in metrics})
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and not rep["check_failures"]
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": failed, "metrics": line}))


if __name__ == "__main__":
    main()
