#!/usr/bin/env python3
"""Run one benchmark workload against the program built from source.

    python3 perfbench/run.py --workload serve|ingest|curate --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness with sbt into `.bench_build/`; later runs reuse that build while
the sources are unchanged. Each run generates its inputs from the seed,
measures the workload in one fresh JVM with one `GraftSession` session,
checks the answers against DuckDB, and prints as its last line one JSON
object: `correct`, `attempted`, `failed` and `metrics` (every end-to-end
metric in BENCHMARK.json, or with `--trace 1` every per-layer metric).
Lines before it start with `#` and carry the run's inputs and details.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")

sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

# serve: the pinned open-loop arrival rate, requests per second. It was
# calibrated once on a 4-core host at about 40% of the rate the pool
# sustains, so the queue stays short.
RATE_PER_S = 1.0
# ingest: the window's backlog is sized for this many seconds per
# micro-batch, so every run of a given length drains the same files and
# grows the corpus the same way. A batch takes 1.3 to 2 s on a 4-core
# host, and the backlog's first two take up to twice that: at 15 s the
# 10 batches keep both of those above the 75th percentile.
PLANNED_BATCH_S = 1.5
HEAP = "3g"
RUN_LIMIT_S = 170

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory the program's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        die("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def source_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, names in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project")
                             or d != HARNESS)
            for n in sorted(names):
                if n.endswith((".scala", ".sbt", ".properties", ".java")):
                    p = os.path.join(d, n)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("program sources (build.sbt, src/main/scala) not found")
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars(),
               PERFBENCH_TARGET=os.path.join(BUILD, "target"))
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser(
                       "~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=840)
        log.write(p.stdout)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        die(f"build failed, see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=float), q * 100))


def run_jvm(cp, args, work, deadline):
    launched = int(time.time() * 1000)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:+UseCodeCacheFlushing", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/tmp"]
           + [x for m in JAVA_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args
           + ["--launched-ms", str(launched)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("the measured JVM ran past the run's time limit")
    if code != 0:
        die(f"the measured JVM exited with {code}; see {work}/jvm.log")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["serve", "ingest", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = declared()
    cp = build()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    # staged item files: 4 for warm-up, the backlog, 2 for the traced
    # run's short ingest phase
    backlog = max(2, round(a.seconds / PLANNED_BATCH_S))
    info = gen.generate(a.seed, inputs, 4 + backlog + 2)
    n_req = int(round(RATE_PER_S * a.seconds))
    info["requests"] = gen.write_requests(a.seed, inputs, n_req, a.seconds)
    cores = len(os.sched_getaffinity(0))

    result_path = os.path.join(work, "result.json")
    t_jvm = time.time()
    run_jvm(cp, ["--workload", a.workload, "--trace", str(a.trace),
                 "--seconds", str(a.seconds), "--inputs", inputs,
                 "--work", work, "--cores", str(cores),
                 "--out", result_path], work, deadline)
    with open(result_path) as f:
        res = json.load(f)

    # answer checks, outside every timed window
    t_check = time.time()
    failures = list(res["errors"])
    failed = res["failed"]
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = oracle.connect(os.path.join(inputs, "tables"))
    checks = {}
    serve_answers = os.path.join(work, "serve_answers.jsonl")
    if os.path.exists(serve_answers):
        n, bad = oracle.check_serve(con, sql, serve_answers)
        checks["serve_responses_checked"] = n
        failed += len(bad)
        failures += bad
    curate_answers = os.path.join(work, "curate_answers.jsonl")
    if os.path.exists(curate_answers):
        n, bad = oracle.check_curate(con, sql, curate_answers)
        checks["curate_ops_checked"] = n
        # every run of an op whose reference rows are wrong is wrong too
        runs = res["info"].get("passes", 1) + res["info"].get("warmup_passes", 0)
        failed += len(bad) * (runs if a.workload == "curate" else 1)
        failures += bad
    con.close()

    samples = res["samples_ms"]
    values = {"setup_s": res["setup_s"], "live_heap_mb": res["live_heap_mb"],
              "p50_ms": pct(samples, 0.5), "p75_ms": pct(samples, 0.75)}
    layers = dict(res["layers"])
    if a.trace:
        layers["traced.p50_ms"] = values["p50_ms"]
        layers["traced.p75_ms"] = values["p75_ms"]
        layers["traced.setup_s"] = values["setup_s"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = layers if a.trace else values
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        die(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in wanted}

    timing = {"generate_s": t_jvm - t_start, "jvm_s": t_check - t_jvm,
              "check_s": time.time() - t_check}
    print("# inputs " + json.dumps(info, sort_keys=True))
    print("# timing " + json.dumps(timing, sort_keys=True))
    print("# run " + json.dumps({"workload": a.workload, "trace": a.trace,
                                 "seconds": a.seconds, "cores": cores,
                                 "samples": len(samples),
                                 "samples_ms": [round(x, 1) for x in samples],
                                 "info": res["info"],
                                 "checks": checks, "failures": failures[:20]},
                                sort_keys=True))
    if a.trace:
        print("# spans " + json.dumps(res["spans"], sort_keys=True))
        print("# job_sites " + json.dumps(res["job_sites"]))
        print("# end_to_end_under_trace " + json.dumps(values, sort_keys=True))
    for sub in ("inputs", "tmp", "spark-local", "ingest", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not failures,
                      "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
