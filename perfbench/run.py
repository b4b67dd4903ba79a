#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the harness (the engine's
sources plus perfbench/harness) with sbt if the build is missing or
stale, generates the workload's inputs from the seed, runs one timed
closed-loop run in a fresh JVM, checks the outputs, and prints one
`name value unit` line per metric followed by a one-line JSON summary
(the last line of stdout). The full artifact (per-op samples, counters
and spans) goes to perfbench/.work/results/.

Untraced runs report the end-to-end metrics; traced runs (--trace 1)
report the per-layer metrics and the tracing overhead against the
untraced run of the same workload and seed, when one is on disk.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CHECK_PY = os.path.join(ROOT, "tools", "check.py")

# workload -> time limit of its JVM, in seconds
WORKLOADS = {
    "esper_interactive": 165,
    "index_serve_maintain": 165,
    # not in BENCHMARK.json: one pass takes minutes (see NOTES.md)
    "corpus_dedup_4x": 3000,
}
QUERY_WORKLOADS = ("esper_interactive", "corpus_dedup_4x")
MODULES = ["RelationalQueries", "IntervalQueries", "EsperTvQueries",
           "EsperCatalogQueries", "ExtraQueries", "TextQueries", "SimilarityQueries"]
PLANES = ["graft.text.PhraseSearch", "graft.similarity.IntKMeans"]
# per-op counters from the tracer, reported as the mean per op
OP_COUNTERS = [
    ("graft.queries.build_s", "s"), ("graft.queries.build_jobs", "count"),
    ("spark.driver.plan_s", "s"), ("spark.driver.codegen_compiles", "count"),
    ("spark.driver.only_s", "s"),
    ("spark.exec.jobs", "count"), ("spark.exec.stages", "count"),
    ("spark.exec.tasks", "count"),
    ("spark.exec.task_run_s", "s"), ("spark.exec.task_cpu_s", "s"),
    ("spark.exec.task_gc_s", "s"), ("spark.exec.input_bytes", "B"),
    ("spark.exec.input_rows", "count"), ("spark.exec.shuffle_write_bytes", "B"),
    ("spark.exec.shuffle_read_bytes", "B"), ("spark.exec.shuffle_records", "count"),
    ("spark.exec.spill_bytes", "B"), ("spark.exec.sched_delay_s", "s"),
    ("spark.exec.broadcast_bytes", "B"),
    ("graft.sources.Tables.files_discovered", "count"),
]
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spark_home():
    """SPARK_HOME, or the install that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found: set SPARK_HOME")
    return home


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the harness build."""
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(ROOT, "src", "main", "resources"), HARNESS):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project") or d != HARNESS)
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(HARNESS, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    log("building the harness (sbt compile)")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                   "-Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("harness build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def inputs(workload, seed):
    """Generated inputs for (workload, seed), cached under .work/data."""
    root = os.path.join(WORK, "data")
    d = os.path.join(root, f"{workload}-{seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), d, workload, str(seed)],
                       check=True, timeout=300)
        open(os.path.join(d, "_DONE"), "w").close()
    # keep the cache small: the twelve most recent seeds per workload
    mine = sorted((x for x in os.listdir(root) if x.startswith(workload + "-")),
                  key=lambda x: os.path.getmtime(os.path.join(root, x)))
    for old in mine[:-12]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    os.utime(d)
    return d


def run_jvm(args, data, work, limit):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"] +
           [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{CLASSES}{os.pathsep}{spark_home()}/jars/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {limit} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(os.path.join(work, "artifact.json")) as f:
        return json.load(f)


def oracle_passes(work, data):
    """Distinct queries whose result matches their DuckDB oracle, by the
    tools/check.py comparison. A query it does not report as `ok`
    (a mismatch, no oracle, or check.py failing outright) is not in
    the set."""
    r = subprocess.run([sys.executable, CHECK_PY, os.path.join(work, "verify"), data],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=300)
    good = {line.split()[1] for line in r.stdout.splitlines() if line.startswith("ok ")}
    summary = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    if r.returncode != 0:
        log(f"tools/check.py exited with {r.returncode}:\n{r.stdout[-2000:]}")
    return good, summary


def quantile(xs, q):
    """Nearest-rank quantile."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, int(-(-q * len(xs) // 1)) - 1))]


def end_to_end(art, ops):
    reads = [o for o in ops if "." not in o["kind"]]
    writes = [o for o in ops if "." in o["kind"]]
    lat = [o["latency_s"] for o in reads if o["ok"]]
    m = {"setup_s": (statistics.median(art["setup_s"]), "s")}
    if lat:
        m["read_mean_s"] = (statistics.mean(lat), "s")
        m["read_p50_s"] = (statistics.median(lat), "s")
    if len(lat) >= 100:
        m["read_p90_s"] = (quantile(lat, 0.9), "s")
    wl = [o["latency_s"] for o in writes if o["ok"]]
    if wl:
        m["write_p50_s"] = (statistics.median(wl), "s")
        m["write_p75_s"] = (quantile(wl, 0.75), "s")
    # completed ops per second of the timed window; an op still running
    # at the window's end counts for the share of it inside the window
    end = art["t0_ms"] + 1e3 * art["window_s"]
    done = sum((min(o["end_ms"], end) - o["start_ms"]) / (o["end_ms"] - o["start_ms"])
               for o in ops if o["ok"] and o["start_ms"] < end)
    m["ops_per_s"] = (done / art["window_s"], "1/s")
    m["failed_frac"] = (sum(not o["ok"] for o in ops) / max(1, len(ops)), "frac")
    m["live_heap_mb"] = (art["live_heap_mb"], "MB")
    if "index_bytes" in art["end_to_end"]:
        m["index_mb"] = (art["end_to_end"]["index_bytes"] / 1e6, "MB")
    return m


def per_layer(art, ops):
    n = max(1, len(ops))
    m = {}
    for name, unit in OP_COUNTERS:
        if name == "graft.queries.build_s":
            v = sum((o["build_ms"] - o["start_ms"]) / 1e3 for o in ops)
        else:
            v = sum(o["counters"].get(name, 0.0) for o in ops)
        m[name] = (v / n, unit)
    for mod in MODULES:
        mine = [o for o in ops if o["module"] == mod]
        m[f"graft.queries.{mod}.busy_s"] = (sum(o["latency_s"] for o in mine), "s")
        m[f"graft.queries.{mod}.calls"] = (len(mine), "count")
    serves = [o for o in ops if o["module"] in PLANES and "." not in o["kind"]]
    for plane in PLANES:
        r = [o for o in serves if o["module"] == plane]
        w = [o for o in ops if o["module"] == plane and "." in o["kind"]]
        m[f"{plane}.serve_s"] = (sum(o["latency_s"] for o in r), "s")
        m[f"{plane}.serve_calls"] = (len(r), "count")
        m[f"{plane}.write_s"] = (sum(o["latency_s"] for o in w), "s")
        m[f"{plane}.write_calls"] = (len(w), "count")
        m[f"{plane}.compact_s"] = (sum(o["extra"].get("compact_s", 0.0) for o in w), "s")
    segs = [o["extra"]["segments"] for o in serves if "segments" in o["extra"]]
    m["graft.index.Manifest.live_segments"] = (statistics.mean(segs) if segs else 0.0, "count")
    rows = sum(o["rows"] for o in serves)
    m["graft.index.rows_read_per_result"] = (
        sum(o["counters"].get("spark.exec.input_rows", 0.0) for o in serves) / rows
        if rows else 0.0, "ratio")
    m["graft.index.bytes"] = (art["end_to_end"].get("index_bytes", 0.0), "B")
    # printed only: self time per span name (span time minus child coverage)
    for name in ("op", "build", "execute", "job", "stage"):
        own = sum(s["self_ms"] for s in art["spans"] if s["name"].split(":")[0] == name)
        m[f"trace.{name}.self_s"] = (own / 1e3 / n, "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}")
    if not os.path.exists(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")) \
            or not os.path.exists(CHECK_PY):
        fail("engine sources not found: run from the root of a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    build()
    data = inputs(args.workload, args.seed)
    work = os.path.join(WORK, f"run-{args.workload}")
    t0 = time.time()
    art = run_jvm(args, data, work, WORKLOADS[args.workload])
    art["jvm_s"] = time.time() - t0
    ops = art["ops"]
    if args.workload in QUERY_WORKLOADS:
        c0 = time.time()
        good, summary = oracle_passes(work, data)
        art["check_s"] = time.time() - c0
        bad = sorted({o["kind"] for o in ops} - good)
        art["checks"] = {"oracle": summary, "failed_queries": bad}
        for o in ops:
            if o["kind"] in bad:
                o["ok"], o["error"] = False, "oracle check not passed"
    metrics = end_to_end(art, ops)
    if args.trace:
        metrics.update(per_layer(art, ops))
    attempted = len(ops)
    failed = sum(not o["ok"] for o in ops)
    correct = failed == 0 and attempted > 0

    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
    if args.trace:
        untraced = stem + "-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]["ops_per_s"][0]
            metrics["tracing_overhead"] = (base / metrics["ops_per_s"][0], "ratio")
    art["metrics"] = metrics
    art["wall_s"] = time.time() - t0
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(art, f)

    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"attempted {attempted} count")
    print(f"failed {failed} count")
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"metrics missing from this run: {missing}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]][0], "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
