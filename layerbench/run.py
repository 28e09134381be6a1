#!/usr/bin/env python3
"""Benchmark command: one workload, one seed, one measured window.

    python3 layerbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the harness from
source (once per source state, into .bench_build and layerbench/target),
generates the workload's inputs from the seed, pins the host posture
(local[nproc], heap from MemTotal, one client thread), runs the harness JVM,
checks every output, writes a result file under .bench_build/results, and
prints every metric by name with its unit. The last stdout line is the JSON
summary; the exit code is 0 only when every output was correct.

Workloads (see layerbench/BENCHMARK.md for why each exists):
  reference_pipeline  open-loop producer of {"count": k} files -> file-source
                      stream -> Timeseries.generate + mean-by-name + std -> sink
  query_mix           closed loop, one client, oracled batch queries
  llm_curation        minhash dedup, IVF search and the curation chain over a
                      corpus with planted truth
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

SETUPS = 3                      # set-up cycles per run; setup_s is their median
MIX = [                         # query_mix; the first is the set-up query
    "q_tpch_q1", "q_tpch_q3",                        # TPC-H
    "q_join_semi_anti", "q_join_dpp",                # relational (dpp is staged)
    "q_agg_basic",                                   # aggregate
    "q_window_lag",                                  # window
    "q_scalar_string",                               # scalar
    "q_ts_resample",                                 # time series
]
CHAIN = ["q_dedup_minhash", "q_similarity_ivf", "q_pipeline_curation"]
CORPUS_DOCS, CORPUS_VECS = 2000, 1000
DEDUP_FLOOR, SEARCH_FLOOR = 0.95, 0.95
BLOCK = 5                       # reference_pipeline: files per stratified block
PACED_INTERVAL_S = 0.75         # paced phase: below capacity (~0.55 s per file)
BACKLOG_FILES = 30              # then a burst of six blocks, drained for throughput

JVM_TIMEOUT_S = 150
# C1 only. With C2 the JIT is still compiling through the window (the
# program generates new classes on every query), and where it settles
# differs from JVM to JVM: whole runs shifted by ±15% against each other,
# where interleaved C1 runs agreed within 2% (layerbench/BENCHMARK.md).
JIT_TIER = 1

E2E = [("setup_s", "s"), ("peak_heap_mb", "MB"), ("latency_p50_s", "s"),
       ("latency_p75_s", "s"), ("throughput_per_s", "1/s")]


def die(msg, code=2):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build -----------------------------------------------------------------

def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("program sources (src/main/scala/graft) not found; run from the root "
            "of a full checkout")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "layerbench.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline, and sbt's scratch (temp files, server socket, JNA, boot
    # lock) kept inside the checkout
    env = dict(os.environ, COURSIER_MODE="offline", JDK_JAVA_OPTIONS="-XX:-UsePerfData")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                                "-Dsbt.boot.lock=false", "-Dsbt.server.forcestart=false",
                                "-Dsbt.server.autostart=false"]).strip()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           timeout=840)
    if r.returncode != 0:
        die(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


# ---- host posture ------------------------------------------------------------

def cpu_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v) - v[3] - v[4], sum(v)          # busy (minus idle, iowait), total


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def posture():
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    heap_gb = min(8, max(2, kb // 2097152))        # MemTotal/2, clamped to [2, 8] GiB
    b0, t0 = cpu_jiffies()
    time.sleep(0.5)
    b1, t1 = cpu_jiffies()
    return {"cores": cores, "heap_gb": heap_gb, "mem_total_gb": round(kb / 1048576, 1),
            "jit": f"TieredStopAtLevel={JIT_TIER}",
            "busy_before": (b1 - b0) / max(1, t1 - t0), "loadavg_before": loadavg()}


# ---- inputs ------------------------------------------------------------------

def link_tree(src, dst):
    os.makedirs(dst)
    for f in os.listdir(src):
        os.link(os.path.join(src, f), os.path.join(dst, f))


def make_inputs(workload, seed, seconds, run_dir):
    plan = {}
    if workload == "query_mix":
        base = os.path.join(run_dir, "in", "sf")
        os.makedirs(base)
        gen.tables(seed, base)
        rng = random.Random(seed)
        seq = []
        for _ in range(40):
            block = list(MIX)
            rng.shuffle(block)
            seq += block
        plan["sequence"] = seq
        plan["setup_query"] = MIX[0]
        for i in range(SETUPS):
            link_tree(base, os.path.join(run_dir, f"cycle{i}", "sf"))
    elif workload == "llm_curation":
        base = os.path.join(run_dir, "in", "corpus")
        os.makedirs(base)
        truth = gen.corpus(seed, base, CORPUS_DOCS, CORPUS_VECS)
        plan.update(truth, chain=CHAIN, docs=CORPUS_DOCS,
                    dedup_recall_floor=DEDUP_FLOOR, search_recall_floor=SEARCH_FLOOR)
        for i in range(SETUPS):
            link_tree(base, os.path.join(run_dir, f"cycle{i}", "corpus"))
    elif workload == "reference_pipeline":
        # k comes from the reference producer's randint(10, 1000) day range,
        # scaled 1:200 so a file is 1..5 days (86.4k..432k rows) on a small
        # host. Draws are stratified: each block of five files takes one k
        # from each 200-wide fifth of the range (one file of each size), in
        # seeded order, so every run carries the same rows and the seed
        # changes which file carries which k.
        rng = random.Random(seed)
        paced = BLOCK * max(1, int(seconds / (BLOCK * PACED_INTERVAL_S)))
        days = []
        for _ in range((paced + BACKLOG_FILES) // BLOCK):
            block = [rng.randint(max(10, 200 * i + 1), 200 * i + 200) for i in range(BLOCK)]
            rng.shuffle(block)
            days += [-(-k // 200) for k in block]
        plan["days"] = days
        plan["due_s"] = [i * PACED_INTERVAL_S for i in range(paced)] \
            + [paced * PACED_INTERVAL_S] * BACKLOG_FILES
        plan["phase"] = ["paced"] * paced + ["backlog"] * BACKLOG_FILES
        plan["warm_days"] = list(range(1, BLOCK + 1)) * 2
    else:
        die(f"unknown workload {workload}")
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(plan, f)


# ---- metrics -----------------------------------------------------------------

def beta_cdf(x, a, b):
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz), flipped to the side where it converges fast."""
    if x <= 0.0 or x >= 1.0:
        return 0.0 if x <= 0.0 else 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - beta_cdf(1.0 - x, b, a)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x)) / a
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    f = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            f *= c * d
        if abs(c * d - 1.0) < 1e-12:
            break
    return front * f


def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a weighted mean of every
    order statistic, weighted by the Beta(q(n+1), (1-q)(n+1)) mass of its
    rank. A run's latencies are multimodal (eight queries, five file sizes),
    and the plain sample quantile jumps across the gaps between the modes
    from run to run; this estimate moves smoothly."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


NAMED_UNITS = {"file_latency_p50_s": "s", "file_latency_p75_s": "s", "etl_rows_per_s": "rows/s",
               "query_p50_s": "s", "query_p75_s": "s", "queries_per_s": "1/s",
               "curation_docs_per_s": "docs/s", "dedup_recall": "ratio",
               "search_recall": "ratio", "failed_ratio": "ratio", "peak_heap_mb": "MB",
               "setup_s": "s"}


def metrics(workload, out, ops):
    """The end-to-end metrics, plus the workload's own names for them."""
    # peak heap: the most heap left in use after any collection in the
    # window (the pools' raw peak depends on when the young generation
    # happened to fill); the raw peak stands in if no collection ran
    m = {"setup_s": statistics.median(out["setup_s"]),
         "peak_heap_mb": out["heap_live_mb"] or out["heap_peak_mb"]}
    named = {}
    if workload == "reference_pipeline":
        paced = [o for o in ops if o["detail"]["phase"] == "paced"]
        backlog = [o for o in ops if o["detail"]["phase"] == "backlog"]
        lat = [o["latency_s"] for o in paced]
        drain = max(o["end_s"] for o in backlog) - min(o["start_s"] for o in backlog)
        rows = sum(o["detail"]["rows"] for o in backlog if o["ok"])
        m["throughput_per_s"] = rows / drain
        named = {"file_latency_p50_s": quantile(lat, 0.5), "file_latency_p75_s": quantile(lat, 0.75),
                 "etl_rows_per_s": m["throughput_per_s"], "files_paced": len(paced),
                 "files_backlog": len(backlog)}
    else:
        lat = [o["latency_s"] for o in ops]
        if workload == "query_mix":
            m["throughput_per_s"] = len(ops) / out["window_s"]
            named = {"query_p50_s": quantile(lat, 0.5), "query_p75_s": quantile(lat, 0.75),
                     "queries_per_s": m["throughput_per_s"], "queries": len(ops)}
        else:
            w = out["workload"]
            m["throughput_per_s"] = w["docs"] * w["chains"] / out["window_s"]
            named = {"curation_docs_per_s": m["throughput_per_s"], "chains": w["chains"],
                     "dedup_recall": w["dedup_recall"], "search_recall": w["search_recall"]}
    m["latency_p50_s"] = quantile(lat, 0.5)
    m["latency_p75_s"] = quantile(lat, 0.75)
    failed = sum(1 for o in ops if not o["ok"])
    named["failed_ratio"] = failed / max(1, len(ops))
    named["peak_heap_mb"] = m["peak_heap_mb"]
    named["setup_s"] = m["setup_s"]
    return m, named


LAYER_SELF = ["workload", "op", "sessions", "partitioning", "operators.build",
              "operators.exec", "timeseries", "streaming", "sink", "scheduler", "executor"]

# every per-layer metric of a traced run, in print order, with its unit
PER_LAYER = [
    ("sessions.build_ms", "ms"), ("sessions.ensure_configured_ms", "ms"),
    ("sessions.ensure_configured_calls", "count"),
    ("partitioning.apply_hint_ms", "ms"), ("partitioning.initial_partitions", "count"),
    ("operators.build_ms", "ms"), ("operators.eager_jobs", "count"),
    ("operators.exec_ms", "ms"),
    ("timeseries.generate_ms", "ms"), ("timeseries.rows", "count"),
    ("staging.build_s", "s"), ("staging.warm_build_s", "s"), ("staging.window_build_s", "s"),
    ("staging.cache_mb", "MB"),
    ("streaming.batches", "count"), ("streaming.empty_batch_ratio", "ratio"),
    ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.latest_offset_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
    ("streaming.backlog_files_max", "count"), ("producer.lag_s_max", "s"),
    ("sink.write_ms", "ms"), ("sink.mb_written", "MB"), ("sink.files_written", "count"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"),
    ("codegen.compile_ms", "ms"), ("codegen.classes", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.jobs_per_op", "count"), ("scheduler.idle_ms", "ms"),
    ("scheduler.task_skew", "ratio"), ("scheduler.task_skew_p90", "ratio"),
    ("executor.run_ms", "ms"), ("executor.cpu_ms", "ms"),
    ("executor.deserialize_ms", "ms"), ("executor.gc_ms", "ms"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.fetch_wait_ms", "ms"),
    ("shuffle.spill_mb", "MB"), ("shuffle.peak_task_mem_mb", "MB"),
    ("io.input_mb", "MB"),
    ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("jvm.heap_live_mb", "MB"),
    ("setup.first_s", "s"), ("setup.warm_pass_s", "s"),
] + [(f"self_ms.{layer}", "ms") for layer in LAYER_SELF] \
  + [(f"traced.{k}", u) for k, u in E2E]


def layer_metrics(workload, out, e2e):
    """Every PER_LAYER metric of a traced run; layers a workload does not
    exercise read 0."""
    lay = dict(out["layers"])
    self_ms = lay.pop("self_ms")
    w = out["workload"]
    lay.update(out["jvm_counters"])
    lay.update({
        "sessions.build_ms": 1000 * statistics.median(out["sessions_build_s"]),
        "partitioning.initial_partitions": w.get("initial_partitions_mean", 0.0),
        "timeseries.rows": sum(o["detail"]["rows"] for o in out["ops"]
                               if workload == "reference_pipeline"),
        "staging.build_s": statistics.median(out["staging_build_s"]),
        "staging.warm_build_s": out["staging_warm_build_s"],
        "staging.window_build_s": out["staging_window_build_s"],
        "staging.cache_mb": out["staging_cache_mb"],
        "jvm.heap_peak_mb": out["heap_peak_mb"],
        "jvm.heap_live_mb": out["heap_live_mb"],
        "setup.first_s": out["setup_s"][0],
        "setup.warm_pass_s": out["warm_s"],
    })
    for k in ("streaming.backlog_files_max", "producer.lag_s_max",
              "sink.mb_written", "sink.files_written"):
        lay[k] = w.get(k, 0)
    for layer in LAYER_SELF:
        lay[f"self_ms.{layer}"] = self_ms.get(layer, 0.0)
    for k, _ in E2E:
        lay[f"traced.{k}"] = e2e[k]
    return {k: lay[k] for k, _ in PER_LAYER}


# ---- main --------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["reference_pipeline", "query_mix", "llm_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build()
    host = posture()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t_gen = time.time()
        make_inputs(a.workload, a.seed, a.seconds, run_dir)
        t_gen = time.time() - t_gen
        spark_home = os.environ["SPARK_HOME"]
        opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
            "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
        cmd = ["java", f"-Xmx{host['heap_gb']}g", f"-XX:TieredStopAtLevel={JIT_TIER}",
               "-XX:ReservedCodeCacheSize=512m",
               "-XX:-UsePerfData",
               "-Duser.timezone=UTC", f"-Djava.io.tmpdir={run_dir}",
               f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
               f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               *opens, "-cp", f"{classes}:{spark_home}/jars/*", "layerbench.Main",
               "--workload", a.workload, "--dir", run_dir, "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--cores", str(host["cores"]),
               "--setups", str(SETUPS)]
        b0, t0 = cpu_jiffies()
        wall0 = time.time()
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            # a run must end well inside its 180 s budget, however the JVM fares
            watchdog = threading.Timer(JVM_TIMEOUT_S, p.kill)
            watchdog.start()
            try:
                _, status, usage = os.wait4(p.pid, 0)
            finally:
                watchdog.cancel()
                if p.poll() is None:
                    p.kill()
                    p.wait()
        p.returncode = os.waitstatus_to_exitcode(status)
        wall = time.time() - wall0
        b1, t1 = cpu_jiffies()
        if p.returncode != 0:
            log = os.path.join(BUILD, "results", f"{a.workload}-s{a.seed}-failed.log")
            os.makedirs(os.path.dirname(log), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "jvm.log"), log)
            sys.stderr.write(open(log).read()[-3000:])
            die(f"harness JVM exited with {p.returncode}; log: {log}", 1)
        tick = os.sysconf("SC_CLK_TCK")
        jvm_cpu = usage.ru_utime + usage.ru_stime
        other = max(0.0, (b1 - b0) / tick - jvm_cpu) / (wall * host["cores"])
        host.update(loadavg_after=loadavg(), other_cpu_share=other, jvm_cpu_s=jvm_cpu,
                    jvm_wall_s=wall, input_gen_s=t_gen)
        # idle host: no more than a tenth of a core busy elsewhere, before or during
        host["valid"] = host["busy_before"] < 0.25 and other < 0.10

        with open(os.path.join(run_dir, "out.json")) as f:
            out = json.load(f)
        ops = out["ops"]
        if "oracle_sql" in out["workload"]:
            data = os.path.join(run_dir, "in", "sf" if a.workload == "query_mix" else "corpus")
            expected, host["oracle_s"] = gen.oracle_hashes(data, out["workload"]["oracle_sql"])
            for o in ops:
                if o["ok"] is None:
                    o["ok"] = o["hash"] == expected.get(o["name"])
        e2e, named = metrics(a.workload, out, ops)
        failed = sum(1 for o in ops if not o["ok"])
        correct = failed == 0 and len(ops) > 0
        host.update(out["host"])
        result = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "correct": correct, "attempted": len(ops),
                  "failed": failed, "e2e": e2e, "named": named, "host": host,
                  "setup_s": out["setup_s"], "ops": ops,
                  "failures": [o for o in ops if not o["ok"]][:10]}
        if a.trace:
            result["layers"] = layer_metrics(a.workload, out, e2e)
        res_dir = os.path.join(BUILD, "results", a.workload)
        os.makedirs(res_dir, exist_ok=True)
        stem = os.path.join(res_dir, f"s{a.seed}-t{a.trace}-{int(wall0)}")
        with open(stem + ".json", "w") as f:
            json.dump(result, f, indent=1)
        if a.trace:
            shutil.copy(os.path.join(run_dir, "spans.jsonl"), stem + ".spans.jsonl")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if not host["valid"]:
        print(f"layerbench: host not idle (busy before {host['busy_before']:.2f}, "
              f"other processes {other:.2f} of the cores during the run); "
              "result file marked invalid", file=sys.stderr)
    for o in result["failures"]:
        print(f"layerbench: wrong output: {o['name']} {json.dumps(o['detail'])}", file=sys.stderr)
    print(f"# {a.workload} seed={a.seed} cores={host['cores']} heap={host['heap_gb']}g "
          f"valid={host['valid']} result={stem}.json")
    for k, v in named.items():
        print(f"# {k} = {v:.6g} {NAMED_UNITS.get(k, 'count')}")
    if a.trace:
        chosen = {k: {"value": result["layers"][k], "unit": u} for k, u in PER_LAYER}
    else:
        chosen = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    for k, v in chosen.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": chosen}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
