#!/usr/bin/env python3
"""graft benchmark: small-batch Postgres ETL and the audit dashboard
(whose set-up is the bulk JSONL-to-Parquet ETL), measured end to end
and layer by layer.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root (any directory works; paths resolve from
this file). The steps:

 1. build the library and the harness (perfbench/build.sbt) with sbt
    when their sources changed since the last build;
 2. generate the workload's inputs from the seed (gen.py);
 3. run the JVM harness (perfbench.Main): timed set-up steps and a
    warm-up, then one client in a closed loop for S seconds;
 4. check every operation's output against the generator's ground
    truth (check.py);
 5. print one JSON line: correct, attempted, failed and the metrics —
    the end-to-end metrics with --trace 0, the per-layer metrics with
    --trace 1 (the traced run also writes its spans under
    .bench_build/perfbench/traces/).

Exits 0 only when every check passed. `python3 perfbench/check.py
--selftest` checks the generator and the checker themselves.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(REPO, ".bench_build", "perfbench")
FIRST_RUN_BUDGET_S = 880   # a run that has to build
RUN_BUDGET_S = 175         # any other run
JVM_HEAP = "2g"


def load_spec():
    """BENCHMARK.json at the repository root: the workloads, and the
    metrics the result line must carry, with their units."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


# JDK 17 module opens Spark needs outside spark-submit (the same list
# as the repository's build.sbt).
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


def source_stamp():
    """Hash of everything the build reads: both build definitions and
    both source trees."""
    h = hashlib.sha256()
    files = []
    for base in (REPO, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            files.append(os.path.join(base, name))
        for root, dirs, fs in os.walk(os.path.join(base, "src", "main")):
            dirs.sort()
            files += [os.path.join(root, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read(), False
    log("building (sbt perfbench/compile) ...")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, deadline=deadline)
    with open(os.path.join(BUILD, "build.log")) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (exit {code})")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip(), True


def run_bounded(argv, cwd, env, stdout, deadline):
    """Run a child in its own process group; past the deadline, stop it
    (TERM first, so shutdown hooks stop anything it started, then
    KILL) and wait for it."""
    p = subprocess.Popen(argv, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log(f"{argv[0]} ran past its deadline; stopping it")
        os.killpg(p.pid, signal.SIGTERM)
        try:
            p.wait(timeout=20)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def end_to_end(truth, result, gen_s):
    w = truth["workload"]
    ops = result["ops"]
    reps = result["setup_reps"]
    # Set-up steps are summarized as their count times their median, so
    # one slow step does not swing the figure.
    setup_s = (gen_s + result["session_s"] + result["boot_s"] + result["warmup_s"]
               + len(reps) * statistics.median(r["s"] for r in reps))
    op_ms = [o["ms"] for o in ops]
    if w == "audit_dashboard":
        per_pass = len(gen.QUERIES)
        passes = [sum(op_ms[i:i + per_pass])
                  for i in range(0, len(op_ms) - per_pass + 1, per_pass)]
        docs_per_s = statistics.median(r["load_docs"] / r["load_s"] for r in reps)
        batch_ms, query_ms = passes or [sum(op_ms)], op_ms
    else:
        docs_per_s = sum(o["docs"] for o in ops) / (sum(op_ms) / 1e3)
        batch_ms, query_ms = op_ms, [o["query_ms"] for o in ops]
    values = {
        "setup_s": setup_s,
        "etl_docs_per_s": docs_per_s,
        "batch_p50_ms": pct(batch_ms, 0.5),
        "batch_p90_ms": pct(batch_ms, 0.9),
        "query_p50_ms": pct(query_ms, 0.5),
        "query_p90_ms": pct(query_ms, 0.9),
        "queries_per_s": len(query_ms) / (sum(query_ms) / 1e3),
        "stored_bytes_per_input_byte": result["stored_bytes"] / result["stored_input_bytes"],
        "peak_heap_mb": result["peak_heap_mb"],
    }
    steps = " ".join(f"{r['s']:.2f}" for r in reps)
    batches = " ".join(f"{x:.0f}" for x in batch_ms)
    log(f"{w}: {len(ops)} operations, {len(batch_ms)} batches, "
        f"{len(query_ms)} queries measured; set-up: generate {gen_s:.2f}s, "
        f"session {result['session_s']:.2f}s, boot {result['boot_s']:.2f}s, "
        f"steps {steps}s, warm-up {result['warmup_s']:.2f}s; batch ms {batches}")
    return values


def main():
    spec = load_spec()
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: the graft sources (build.sbt, src/main/scala) "
                         "are not next to perfbench/; run from a full checkout")
    classpath, built = build(start + FIRST_RUN_BUDGET_S - 60)
    deadline = start + (FIRST_RUN_BUDGET_S if built else RUN_BUDGET_S) - 5

    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.perf_counter()
        truth = gen.generate(a.seed, a.workload, work)
        gen_s = time.perf_counter() - t0

        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        result_file = os.path.join(work, "result.json")
        cores = len(os.sched_getaffinity(0))
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
        # A fixed-size heap and the throughput collector: the loop's
        # latencies settle sooner than with the default G1 heap growing.
        argv = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
                 "-Duser.timezone=UTC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
                + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                + ["-cp", classpath, "perfbench.Main",
                   "--workload", a.workload, "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--work", work, "--result", result_file,
                   "--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")])
        jvm_log = os.path.join(work, "jvm.log")
        t0 = time.time()
        with open(jvm_log, "w") as out:
            code = run_bounded(argv, cwd=work, env=env, stdout=out, deadline=deadline)
        jvm_s = time.time() - t0
        if code != 0 or not os.path.exists(result_file):
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            raise SystemExit(f"perfbench: harness failed (exit {code})")
        with open(result_file) as f:
            result = json.load(f)

        attempted, failed, problems = check.check_run(truth, result)
        for p in problems[:20]:
            log(f"MISMATCH {p}")
        values, kind = ((result["layers"], "per_layer") if a.trace
                        else (end_to_end(truth, result, gen_s), "end_to_end"))
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec[kind]}
        log(f"{attempted} checked, {failed} failed; wall {time.time() - start:.1f}s "
            f"(harness {jvm_s:.1f}s)")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
