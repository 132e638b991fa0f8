#!/usr/bin/env python3
"""Benchmark of the weekly ETL and both query surfaces (see README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine
(src/main/scala) and the benchmark's JVM side (perfbench/scala) into
.bench_build/; later runs reuse the build while the sources are
unchanged. The last line of stdout is the result JSON; the full run
record is written under .bench_build/perfbench/records/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SCALA_VERSION = "2.13.17"
WORKLOADS = ("etl_weekly", "query_suite")
DEADLINE_S = 170  # a run must end within 180 s
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
MIB = 1024.0 * 1024.0


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the directory build.sbt takes its jars from."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: no Spark jars directory found")
    return m.group(1)


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, base, "perfbench")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala: run from the repository root")
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return engine + bench


def build():
    """Compile engine + benchmark once per source state; returns the classpath."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(build_dir(), "classes-" + digest.hexdigest()[:16])
    jar_dir = spark_jars()
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        fail(f"no Spark jars in {jar_dir}")
    if not os.path.exists(os.path.join(out, ".complete")):
        for old in glob.glob(os.path.join(build_dir(), "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        scalac = [os.path.join(jar_dir, f"scala-{m}-{SCALA_VERSION}.jar")
                  for m in ("compiler", "library", "reflect")]
        t0 = time.time()
        proc = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(scalac),
             "scala.tools.nsc.Main", "-nowarn", "-d", out,
             "-classpath", ":".join(jars)] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            sys.stderr.write(proc.stdout[-4000:])
            fail("compilation failed")
        open(os.path.join(out, ".complete"), "w").close()
        BUILD_S[0] = time.time() - t0
        print(f"perfbench: built in {BUILD_S[0]:.1f} s", file=sys.stderr)
    resources = os.path.join(ROOT, "src/main/resources")
    return ":".join([out, resources] + jars)


def heap():
    """A quarter of physical memory, clamped to 2..4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kib = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        gib = kib // (1024 * 1024) // 4
    except (OSError, StopIteration, ValueError):
        gib = 2
    return f"{min(4, max(2, gib))}g"


def run_jvm(args, classpath, work, record, all_queries):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "perfbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", os.path.join(HERE, "data"), "--work", work,
              "--out", record, "--cores", str(cores),
              "--all-queries", "1" if all_queries else "0",
              "--launched-ns", str(time.time_ns())])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            limit = 900 if all_queries else DEADLINE_S
            code = proc.wait(timeout=limit - (time.time() - STARTED) + BUILD_S[0])
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0 or not os.path.exists(record):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}")
    with open(record) as f:
        return json.load(f), cores


def median(xs):
    return statistics.median(xs) if xs else 0.0


def ops_ok(p):
    return [o for o in p["ops"] if o.get("error") is None]


def check_ops(raw, expected):
    """(attempted, failed, problems) over every timed operation."""
    body = raw["body"]
    attempted = failed = 0
    problems = []
    for p in body["passes"]:
        for o in p["ops"]:
            attempted += 1
            if o.get("error") is not None:
                failed += 1
                problems.append(f"{p['label']} {o['name']}: {o['error']}")
            elif expected is not None and o["fingerprint"] != expected.get(o["name"]):
                failed += 1
                problems.append(f"{p['label']} {o['name']}: fingerprint "
                                f"{o['fingerprint']} != {expected.get(o['name'])}")
        for c in p.get("checks", []):
            if not c["ok"]:
                problems.append(f"{p['label']} check {c['name']}: {c['detail']}")
        if any(not c["ok"] for c in p.get("checks", [])):
            failed += 1
    return attempted, failed, problems


def cold_warm(raw):
    """(cold pass, warm passes). The ETL runs once, as the weekly job
    runs once per process; its warm part is the incremental weeks,
    which follow week 0 in the same session."""
    passes = raw["body"]["passes"]
    if raw["workload"] != "etl_weekly":
        return passes[0], passes[1:1 + raw["body"]["warm_passes_used"]]
    incr = passes[0]["ops"][1:]
    return passes[0], [{"label": "incremental", "ops": incr,
                        "wall_s": sum(o["total_s"] for o in incr)}]


def end_to_end(raw):
    cold, warm = cold_warm(raw)
    return {
        "setup_s": median(raw["setup_s"]),
        "wall_s": cold["wall_s"],
        "warm_s": median([p["wall_s"] for p in warm]),
    }


MODULES = {"rdf": "rdf_", "queries": "rel_", "llm": "llm_", "multimodal": "mm_"}
ETL_SPANS = ["sources.fetch", "sources.parse", "rdf.clean", "rdf.enrich_fetch",
             "rdf.enrich", "rdf.map_filter", "Pipeline.publish", "Pipeline.delta",
             "Pipeline.incremental"]


def per_layer(raw, cores):
    body = raw["body"]
    cold, warm = cold_warm(raw)
    groups = raw["spark_groups"]
    m = {}

    def spark_sum(prefix, key):
        return sum(g[key] for name, g in groups.items() if name.startswith(prefix))

    m["spark.jobs"] = spark_sum("cold|", "jobs")
    m["spark.stages"] = spark_sum("cold|", "stages")
    m["spark.tasks"] = spark_sum("cold|", "tasks")
    m["spark.failed_tasks"] = spark_sum("cold|", "failed_tasks")
    m["spark.executor_run_s"] = spark_sum("cold|", "run_ms") / 1e3
    m["spark.executor_cpu_s"] = spark_sum("cold|", "cpu_ns") / 1e9
    m["spark.slot_busy_ratio"] = m["spark.executor_run_s"] / (cold["wall_s"] * cores)
    m["spark.shuffle_read_mb"] = spark_sum("cold|", "shuffle_read_bytes") / MIB
    m["spark.shuffle_write_mb"] = spark_sum("cold|", "shuffle_write_bytes") / MIB
    m["spark.spill_mb"] = spark_sum("cold|", "spill_bytes") / MIB
    m["spark.task_gc_s"] = spark_sum("cold|", "gc_ms") / 1e3
    m["jvm.gc_s"] = raw["jvm_gc_ms"] / 1e3
    m["setup.first_s"] = raw["setup_s"][0]

    # query spans: cold sums over the cold pass, warm sums = median warm pass
    def span_sum(p, key):
        return sum(o.get(key, 0.0) for o in ops_ok(p))

    is_query = raw["workload"] != "etl_weekly"
    for phase in ("build", "plan", "exec"):
        m[f"query.{phase}_cold_s"] = span_sum(cold, f"{phase}_s") if is_query else 0.0
        m[f"query.{phase}_warm_s"] = (median([span_sum(p, f"{phase}_s") for p in warm])
                                      if is_query else 0.0)
    m["query.build_jobs"] = sum(g["jobs"] for name, g in groups.items()
                                if name.startswith("cold|") and name.endswith("|build"))
    covered_cold = sum(m[f"query.{p}_cold_s"] for p in ("build", "plan", "exec"))
    m["query.span_coverage_cold"] = covered_cold / cold["wall_s"] if is_query else 0.0
    m["query.span_coverage_warm"] = median(
        [sum(span_sum(p, f"{ph}_s") for ph in ("build", "plan", "exec")) / p["wall_s"]
         for p in warm]) if is_query else 0.0
    m["Memo.build_s"] = m["query.build_cold_s"] - m["query.build_warm_s"]
    m["Memo.persisted_rdds"] = cold["storage_rdds"]
    m["Memo.storage_mb"] = cold["storage_bytes"] / MIB

    for mod, prefix in MODULES.items():
        mine = [o for o in ops_ok(cold) if o["name"].startswith(prefix)]
        m[f"{mod}.cold_s"] = sum(o["total_s"] for o in mine)
        m[f"{mod}.warm_s"] = median([sum(o["total_s"] for o in ops_ok(p)
                                         if o["name"].startswith(prefix))
                                     for p in warm])
        m[f"{mod}.jobs"] = sum(g["jobs"] for name, g in groups.items()
                               if name.startswith("cold|" + prefix))

    # ETL spans of the cold iteration, summed over its weeks
    spans = [s for s in raw["spans"] if s["run"] is not None]
    cold_weeks = {s["name"] for s in spans if s["name"].startswith("cold:w")}
    for name in ETL_SPANS:
        m[name + "_s"] = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                             if s["name"] == name and s["parent"] in cold_weeks)
    counts = body.get("counts", {})
    incr = range(1, body.get("weeks", 1))
    attempted = sum(counts.get(f"w{w:02d}.attempted", 0) for w in incr)
    total = sum(counts.get(f"w{w:02d}.keys_total", 0) for w in incr)
    m["rdf.clean_kept_ratio"] = (counts["kept"] / counts["parsed"]
                                 if counts.get("parsed") else 0.0)
    m["rdf.enrich_keys_attempted"] = counts.get("batch_keys", 0) + attempted
    m["rdf.enrich_keys_failed"] = counts.get("batch_failed", 0) + sum(
        counts.get(f"w{w:02d}.failed", 0) for w in incr)
    m["rdf.enrich_fetch_ratio"] = attempted / total if total else 0.0
    m["Pipeline.publish_mb"] = counts.get("publish_bytes", 0) / MIB
    m["Pipeline.bytes_per_triple"] = (counts["publish_bytes"] / counts["w00.published"]
                                      if counts.get("w00.published") else 0.0)
    m["Pipeline.delta_rows"] = sum(counts.get(f"w{w:02d}.delta_rows", 0)
                                   for w in range(body.get("weeks", 0)))
    m["Pipeline.departed_rows"] = counts.get("departed_rows", 0)
    return m


def percentile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def derived(raw, attempted, failed):
    """Figures the record carries beside the gated metrics."""
    body = raw["body"]
    cold, warm = cold_warm(raw)
    d = {"failed_ratio": failed / attempted}
    cold_t = [o["total_s"] for o in ops_ok(cold)]
    warm_t = [o["total_s"] for p in warm for o in ops_ok(p)]
    d["cold_p50_s"], d["warm_p50_s"] = median(cold_t), median(warm_t)
    d["cold_p90_s"], d["cold_n"] = percentile(cold_t, 0.9), len(cold_t)
    d["warm_p90_s"], d["warm_n"] = percentile(warm_t, 0.9), len(warm_t)
    if raw["workload"] == "etl_weekly":
        weeks = ops_ok(cold)
        counts = body["counts"]
        d["week_batch_s"] = weeks[0]["total_s"] if weeks else 0.0
        d["week_incr_p50_s"] = median([w["total_s"] for w in weeks[1:]])
        published = sum(counts.get(f"w{w:02d}.published", 0) for w in range(body["weeks"]))
        d["triples_per_s"] = published / cold["wall_s"]
    return d


def untraced_walls(records, workload, build):
    """wall_s of this checkout's untraced records of the same build."""
    walls = []
    for path in sorted(glob.glob(os.path.join(records, f"{workload}-*-t0.json"))):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("build") == build:
            walls.append(rec["metrics"]["wall_s"])
    return walls


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all-queries", action="store_true",
                    help="run every query of the four families, not the workload's list")
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="write the run's fingerprints into expected/fingerprints.json")
    args = ap.parse_args()

    with open(os.path.join(HERE, "metrics.json")) as f:
        doc = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}

    load_before = os.getloadavg()[0]
    classpath = build()
    build_id = os.path.basename(classpath.split(":")[0])
    work = os.path.join(build_dir(), "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = os.path.join(work, "record.json")
    try:
        raw, cores = run_jvm(args, classpath, work, record, args.all_queries)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_after = os.getloadavg()[0]

    expected = None
    fp_path = os.path.join(HERE, "expected", "fingerprints.json")
    if args.workload != "etl_weekly":
        if args.record_fingerprints:
            fps = {}
            if os.path.exists(fp_path):
                with open(fp_path) as f:
                    fps = json.load(f)
            for p in raw["body"]["passes"]:
                for o in p["ops"]:
                    if o.get("error") is None:
                        fps.setdefault(o["name"], o["fingerprint"])
            with open(fp_path, "w") as f:
                json.dump(dict(sorted(fps.items())), f, indent=1)
                f.write("\n")
        with open(fp_path) as f:
            expected = json.load(f)
    attempted, failed, problems = check_ops(raw, expected)

    e2e = end_to_end(raw)
    layers = per_layer(raw, cores)
    metrics = {**e2e, **layers}
    extra = derived(raw, attempted, failed)
    missing = [n for n in wanted if n not in metrics or n not in doc["metrics"]]
    if missing:
        fail(f"metrics not produced or not documented: {missing}")
    env = {"load_avg_1m_before": load_before, "load_avg_1m_after": load_after,
           "nproc": cores, "max_heap_bytes": raw["max_heap_bytes"],
           "jvm_gc_ms": raw["jvm_gc_ms"], "jvm_gc_count": raw["jvm_gc_count"],
           "jvm_gc_total_ms": raw["jvm_gc_total_ms"],
           "jvm_gc_total_count": raw["jvm_gc_total_count"]}

    records = os.path.join(build_dir(), "records")
    os.makedirs(records, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    rec_path = os.path.join(
        records, f"{args.workload}-{stamp}-{os.getpid()}-s{args.seed}-t{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump({"args": vars(args), "build": build_id, "env": env, "attempted": attempted,
                   "failed": failed, "problems": problems,
                   "metrics": metrics, "derived": extra, "raw": raw}, f)

    # human-readable report, then the result line
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={attempted} failed={failed} record={os.path.relpath(rec_path, ROOT)}")
    print("env " + json.dumps(env))
    print("derived " + json.dumps(extra))
    for p in problems:
        print("PROBLEM " + p)
    if args.trace:
        wall = raw["body"]["passes"][0]["wall_s"]
        untraced = untraced_walls(records, args.workload, build_id)
        if untraced:
            base = statistics.median(untraced)
            print(f"tracing overhead: traced wall_s {wall:.3f} s vs untraced median "
                  f"{base:.3f} s over {len(untraced)} runs of this build: "
                  f"{wall - base:+.3f} s ({(wall - base) / base:+.1%})")
        else:
            print(f"tracing overhead: traced wall_s {wall:.3f} s; no untraced run of "
                  f"{args.workload} with this build to compare with")
        if args.workload != "etl_weekly":
            for metric, kind in (("wall_s", "cold"), ("warm_s", "warm")):
                share = layers[f"query.span_coverage_{kind}"]
                print(f"query.* spans cover {share:.1%} of {metric} ({e2e[metric]:.3f} s); "
                      f"uncovered remainder {1 - share:.1%} "
                      f"({(1 - share) * e2e[metric]:.3f} s)")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in wanted}}
    print(json.dumps(result))


STARTED = time.time()
BUILD_S = [0.0]  # a run that compiles gets that much longer to finish
if __name__ == "__main__":
    main()
