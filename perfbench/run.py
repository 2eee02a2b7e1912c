#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload nightly_chain --seed 1 \
        --seconds 18 --trace 0

Builds the engine plus the harness (perfbench/build.sbt) on first use,
generates the workload's corpus from the seed, runs the workload in one
JVM, checks every output against its registered op's DuckDB oracle and
prints the metrics. See perfbench/README.md for what each number means.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DRIVER_MEM = "3g"
# A fixed heap with a fixed young generation: G1's adaptive sizing
# grows the heap on GC-time ratios, which made the peak resident set
# swing by a third between identical runs.
HEAP_FLAGS = [f"-Xms{DRIVER_MEM}", f"-Xmx{DRIVER_MEM}", "-Xmn1g"]
JVM_TIMEOUT_S = 150

# Corpus sizes (rows per table) per workload.
WORKLOADS = {
    "nightly_chain": dict(lineitem=60000, parts=20000, suppliers=1000,
                          events=50000, docs=100, vecs=100),
    "curation_batch": dict(lineitem=2000, parts=500, suppliers=100,
                           events=2000, docs=1000, vecs=500),
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


# ------------------------------------------------------------------ build

def sources():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    target = os.path.join(BUILD, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine + harness (sbt)")
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("no Spark: set SPARK_HOME or put spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    log(f"built in {time.time() - t0:.0f}s")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


# -------------------------------------------------------- scratch hygiene

# The engine keeps persisted stores on the machine's tmpfs when it has
# one (SinkOps.scratchRoot), else under java.io.tmpdir, which the bench
# points inside the run's work dir.
SHM = "/dev/shm"


def stores_of(prefix_path):
    """The engine's persisted stores for corpus dirs under `prefix_path`
    (store names end with the sanitised corpus dir, SinkOps.stagingDir)."""
    suffix = re.sub(r"[^a-zA-Z0-9.]", "_", prefix_path)
    return [p for p in glob.glob(os.path.join(SHM, "graft_*"))
            if suffix in os.path.basename(p)]


def clean_stores(prefix_path):
    for p in stores_of(prefix_path):
        shutil.rmtree(p, ignore_errors=True)


def alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def clean_stale(runs):
    """Remove what runs whose process is gone left behind (a killed
    run cannot clean up after itself)."""
    for d in glob.glob(os.path.join(runs, "*-*-*")):
        pid = d.rsplit("-", 1)[1]
        if pid.isdigit() and not alive(int(pid)):
            shutil.rmtree(d, ignore_errors=True)
            clean_stores(d)


def tree_bytes(paths):
    total = 0
    for p in paths:
        for d, _, fs in os.walk(p):
            for f in fs:
                try:
                    total += os.path.getsize(os.path.join(d, f))
                except OSError:
                    pass
    return total


# ------------------------------------------------------------------ check

def check_outputs(corpus, raw):
    """Compare each kept output with its op's DuckDB oracle, with
    tools/check.py's comparator. Returns (seconds per op, failures)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check as ck
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ck.TABLES:
        p = os.path.join(corpus, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{p}/*.parquet')")
    bad = []
    took = {}
    for name, path in raw["outputs"].items():
        t0 = time.time()
        files = glob.glob(os.path.join(path, "*.parquet"))
        if not files:
            bad.append(f"{name}: no output")
            continue
        got = ck.canon(con.execute(
            f"SELECT * FROM read_parquet({files!r})").df())
        if len(got) == 0:
            bad.append(f"{name}: empty output")
            continue
        sql = raw["oracles"].get(name)
        if sql is None:
            continue
        try:
            want = ck.canon(con.execute(sql).df())
        except duckdb.Error as e:
            bad.append(f"{name}: oracle failed: {e}")
            continue
        if list(got.columns) != list(want.columns):
            bad.append(f"{name}: columns {list(got.columns)} vs {list(want.columns)}")
        elif len(got) != len(want):
            bad.append(f"{name}: rows {len(got)} vs oracle {len(want)}")
        elif ck.frame_sig(got) != ck.frame_sig(want):
            bad.append(f"{name}: values differ from the oracle")
        took[name] = round(time.time() - t0, 3)
    return took, bad


# ---------------------------------------------------------------- metrics

def end_to_end(raw):
    passes = raw["passes"]
    wall_s = sum(p["end_ms"] - p["start_ms"] for p in passes) / 1000.0
    return {
        "rows_per_s": (sum(p["rows"] for p in passes) / wall_s, "rows/s"),
        "setup_s": ((raw["setup_end_ms"] - raw["jvm_start_ms"]) / 1000.0, "s"),
        "peak_rss_mb": (raw["vm_hwm_kb"] / 1024.0, "MB"),
    }


def per_layer(raw, jvm_err):
    """Per-layer metrics from the spans of the timed passes, each the
    mean per pass (kernels and cache sizes are per run)."""
    spans = raw["spans"]
    windows = [(p["start_ms"], p["end_ms"]) for p in raw["passes"]]
    n = len(windows)
    selfs = stats.self_times(spans)
    inw = [s for s in spans if any(lo <= s["start_ms"] and s["end_ms"] <= hi
                                   for lo, hi in windows)]
    by_id = {s["id"]: s for s in spans}

    def dur(s):
        return s["end_ms"] - s["start_ms"]

    def spans_s(pred, of=dur):
        return sum(of(s) for s in inw if pred(s["name"])) / 1000.0 / n

    def named(name):
        return spans_s(lambda x: x == name)

    def under(s, name):
        while s is not None:
            if s["name"] == name:
                return True
            s = by_id.get(s["parent"])
        return False

    def per_pass(key, pool=inw):
        return sum(s[key] for s in pool) / n

    # span 0 (jobs no open span launched) belongs to the passes too
    counted = inw + [raw["unattributed"]]
    busy = sum(stats.union_length(raw["task_intervals"], lo, hi)
               for lo, hi in windows)
    m = {
        "driver.plan_ms": (raw["plan_ms"] / n, "ms"),
        "driver.jobs": (per_pass("jobs", counted), "count"),
        "driver.stages": (per_pass("stages", counted), "count"),
        "driver.tasks": (per_pass("tasks", counted), "count"),
        "driver.idle_ms": ((sum(hi - lo for lo, hi in windows) - busy) / n, "ms"),
        "sources.ingest_s": (named("chain.import"), "s"),
        "sources.commit_s": (named("sources.commit"), "s"),
        "sources.commits": (len([s for s in inw if s["name"] == "sources.commit"]) / n,
                            "count"),
        "sources.scan_bytes": (per_pass("input_bytes", counted), "bytes"),
        "sources.write_bytes": (per_pass("output_bytes", counted), "bytes"),
    }
    # operators.pricing: stage self times (each stage's commit is the
    # sources layer's)
    for st in ("import", "normalize", "best_of_day", "rollup", "revalue", "feed"):
        m[f"chain.{st}_s"] = (spans_s(lambda x, st=st: x == f"chain.{st}",
                                      of=lambda s: selfs[s["id"]]), "s")
    m["dedup.lsh_s"] = (named("dedup.lsh"), "s")
    m["dedup.cluster_s"] = (named("dedup.cluster"), "s")
    m["dedup.cluster_jobs"] = (per_pass("jobs", [s for s in inw
                                                 if under(s, "dedup.cluster")]), "count")
    m["text.quality_s"] = (named("text.quality"), "s")
    m["text.decontam_s"] = (named("text.decontam"), "s")
    m["text.bpe_s"] = (named("text.bpe"), "s")
    m["curation.pack_s"] = (named("curation.pack"), "s")
    m["vector.build_s"] = (named("vector.build"), "s")
    m["vector.probe_ms"] = (named("vector.probe") * 1000.0, "ms")
    m["cache.build_s"] = (spans_s(lambda x: x.startswith("cache.build.")), "s")
    m["cache.hit_ms"] = (spans_s(lambda x: x.startswith("cache.hit.")) * 1000.0, "ms")
    m["cache.mem_bytes"] = (raw["cache_mem_bytes"], "bytes")
    m["cache.disk_bytes"] = (raw["cache_disk_bytes"], "bytes")
    m["store.bytes_per_input_byte"] = (raw["store_bytes"] / raw["input_bytes"], "ratio")
    for r in STREAM_RUNNERS:
        m[f"stream.drain_ms.{r}"] = (named(f"stream.drain.{r}") * 1000.0, "ms")
    mb = raw["microbatches"]
    m["stream.microbatches"] = (mb / n, "count")
    m["stream.empty_frac"] = (raw["empty_microbatches"] / mb if mb else 0.0, "ratio")
    for k, v in sorted(raw["kernels"].items()):
        m[f"kernel.{k}_ns_row"] = (v["ns_row"], "ns")
        m[f"kernel.{k}_bytes_row"] = (v["bytes_row"], "bytes")
    m["exec.cpu_s"] = (per_pass("cpu_ns", counted) / 1e9, "s")
    m["exec.gc_s"] = (per_pass("gc_ms", counted) / 1000.0, "s")
    m["exec.shuffle_read_bytes"] = (per_pass("shuffle_read", counted), "bytes")
    m["exec.shuffle_write_bytes"] = (per_pass("shuffle_write", counted), "bytes")
    m["exec.spill_bytes"] = (per_pass("spill", counted), "bytes")
    m["exec.global_window_warnings"] = (
        jvm_err.count("No Partition Defined for Window operation"), "count")
    return m, selfs


STREAM_RUNNERS = ("quality", "bpe_encode", "bm25", "tx")


# -------------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w, spec = a.workload, WORKLOADS[a.workload]
    load_start = load1()
    cp = build()

    runs = os.path.join(BUILD, "runs")
    clean_stale(runs)
    work = os.path.join(runs, f"{w}-{a.seed}-{os.getpid()}")
    corpus = os.path.join(work, "corpus")
    os.makedirs(os.path.join(work, "tmp"))
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    jvm = None
    try:
        t0 = time.time()
        gen.write_corpus(os.path.join(corpus, "main"), a.seed, spec)
        gen_s = time.time() - t0
        input_bytes = tree_bytes([os.path.join(corpus, "main")])

        cpus = nproc()
        cmd = (["java"] + HEAP_FLAGS +
               [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
                "-cp", cp, "graft.perfbench.BenchMain",
                "--workload", w, "--corpus", corpus, "--work", work,
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", str(cpus)])
        with open(os.path.join(work, "jvm.out"), "w") as fo, \
                open(os.path.join(work, "jvm.err"), "w") as fe:
            # shuffle and spill files stay in the work dir
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            jvm = subprocess.Popen(cmd, cwd=work, stdout=fo, stderr=fe, env=env)
            try:
                rc = jvm.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = -1
        jvm_err = open(os.path.join(work, "jvm.err"), errors="replace").read()
        raw_path = os.path.join(work, "raw.json")
        raw = json.load(open(raw_path)) if os.path.exists(raw_path) else {}
        if rc != 0 or not raw.get("ok"):
            sys.stderr.write(jvm_err[-6000:])
            fail(f"workload JVM exited with {rc}")

        check_s, bad = check_outputs(os.path.join(corpus, "main"), raw)
        for b in bad:
            log(f"check failed: {b}")
        failed = len(raw["failed_ops"]) + len(bad)
        raw["input_bytes"] = input_bytes
        raw["store_bytes"] = tree_bytes(
            [p for d in raw["store_dirs"] for p in stores_of(d)])
        res_dir = os.path.join(BUILD, "results")
        os.makedirs(res_dir, exist_ok=True)
        tag = f"{w}-seed{a.seed}"
        walls = [p["end_ms"] - p["start_ms"] for p in raw["passes"]]
        if a.trace:
            metrics, selfs = per_layer(raw, jvm_err)
        else:
            metrics = end_to_end(raw)
        artifact = {
            "workload": w, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "nproc": cpus, "driver_mem": DRIVER_MEM,
            "spark_version": raw["spark_version"],
            "java_version": raw["java_version"],
            "scala_version": raw["scala_version"],
            "load1_start": load_start, "load1_end": load1(),
            "input_rows": raw["input_rows"], "input_bytes": input_bytes,
            "gen_s": round(gen_s, 3), "check_s": check_s,
            "pass_ms": walls, "attempted": raw["attempted"], "failed": failed,
            "failures": raw["failed_ops"] + bad,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        if a.trace:
            # tracing overhead: this run's mean pass against that of the last
            # untraced run of the same workload and seed, when there is one
            plain = os.path.join(res_dir, f"{tag}-trace0.json")
            if os.path.exists(plain):
                base = statistics.fmean(json.load(open(plain))["pass_ms"])
                artifact["trace_overhead_frac"] = statistics.fmean(walls) / base - 1.0
            with open(os.path.join(res_dir, f"{tag}.trace.json"), "w") as f:
                json.dump({"passes": raw["passes"],
                           "trace_overhead_frac": artifact.get("trace_overhead_frac"),
                           "spans": [dict(s, self_ms=selfs[s["id"]])
                                     for s in raw["spans"]]}, f)
        with open(os.path.join(res_dir, f"{tag}-trace{a.trace}.json"), "w") as f:
            json.dump(artifact, f, indent=1)
        print(json.dumps({k: v for k, v in artifact.items() if k != "metrics"}))
        print(json.dumps({
            "correct": failed == 0, "attempted": raw["attempted"],
            "failed": failed, "metrics": artifact["metrics"]}))
    finally:
        if jvm is not None and jvm.poll() is None:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
        clean_stores(work)


if __name__ == "__main__":
    main()
