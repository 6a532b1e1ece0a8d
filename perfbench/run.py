#!/usr/bin/env python3
"""Benchmark of the graft engine's nightly DAG, corpus curation, interactive
lake queries and streaming ingest.

    python3 perfbench/run.py --workload <name> [--seed 42] [--seconds 10] [--trace 0|1]

Run from the repository root. The first run builds the engine and the
harness (sbt, offline) into perfbench/target; later runs rebuild only when
a source file changed. Inputs are generated from the seed, the harness JVM
runs the workload on a local[nproc] session, and the last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones; a traced run also writes its spans to
perfbench/out/<workload>-spans.jsonl. The line before the JSON names every
end-to-end value of the workload with its unit.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Inputs per workload: the star-schema scale factor and the tables the
# workload reads. stream_ingest lands `events` as files at STREAM_RATE files
# per second for the whole run. lake_queries runs the six queries of
# LakeQueries.Core at sf0.01; lake_queries_all runs all seventeen at sf0.1.
# BENCHMARKED are the workloads BENCHMARK.json lists; the other two run by
# name with a longer time limit (see README.md).
WORKLOADS = {
    "corpus_curate": {"sf": 0.1, "tables": ["documents"], "work": "curate_cpu_s"},
    "stream_ingest": {"sf": 0.1, "tables": [], "work": "ingest_cpu_s"},
    "lake_queries": {"sf": 0.01, "tables": [
        "customer", "orders", "lineitem", "events", "embeddings"], "work": "queries_cpu_s"},
    "fin_nightly": {"sf": None, "tables": [], "work": "daily_cpu_s"},
    "lake_queries_all": {"sf": 0.1, "tables": [
        "region", "nation", "customer", "orders", "lineitem", "events",
        "documents", "embeddings"], "work": "queries_cpu_s"},
}
BENCHMARKED = ("corpus_curate", "stream_ingest", "lake_queries")
STREAM_RATE = 5.0

# What the final line reports: end-to-end metrics untraced, per-layer
# metrics traced (the names BENCHMARK.json declares, in its order).
END_TO_END = {"setup_s": "s", "work_cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = (
    [f"pipeline.corpus.{s}_s" for s in
     ("annotate", "clusters", "sample", "stats", "decontaminate")]
    + ["pipeline.corpus.driver_s", "pipeline.corpus.eager_jobs"]
    + [f"catalog.corpus.{m}" for m in ("create_s", "append_s", "optimize_s", "write_amp")]
    + [f"spark.{p}.{c}" for p in ("corpus", "queries", "stream") for c in
       ("jobs", "tasks", "executor_cpu_s", "executor_run_s", "gc_s", "shuffle_write_mb",
        "spill_mb", "planning_s", "no_job_s")]
    + [f"operators.{m}" for m in ("build_s", "build_jobs", "exec_s")]
    + [f"query.{q}_s" for q in
       ("j13b_range_join_topk", "j13d_range_join_sweep", "j13e_range_join_agg",
        "w6_rolling_ols", "w4_ewma_native", "n5_ann_pq")]
    + [f"streaming.{m}" for m in
       ("batches", "add_batch_ms_p50", "wal_commit_ms_p50", "commit_offsets_ms_p50",
        "latest_offset_ms_p50", "state_commit_ms_p50", "state_rows", "state_mb",
        "backlog_files_max")]
    + ["gen.late_max_s"])

# A fixed-size heap with a fixed young generation keeps the JVM's peak
# resident set a property of the workload rather than of GC timing.
JVM_OPTS = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:-UsePerfData"]
JVM_TIMEOUT_S = {True: 170, False: 900}


def fail(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jars the engine builds against: $SPARK_HOME/jars, else the
    directory the engine's build.sbt names as its unmanagedBase.
    """
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    build = os.path.join(REPO, "build.sbt")
    if os.path.exists(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        for d, _, fs in os.walk(root):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile engine + harness unless the classes match the sources;
    returns the classes directory and the sources' hash.
    """
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "graftbench.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes, stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    if shutil.which("sbt") is None:
        fail("sbt not found")
    t0 = time.time()
    log_path = os.path.join(HERE, "target", "build.log")
    with open(log_path, "w") as log:
        code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         f"-Dgraftbench.spark.jars={jars}", "compile"],
                        log, 600, cwd=HERE, env=env)
    if code != 0 or not os.path.isdir(classes):
        sys.stderr.write(open(log_path).read()[-4000:])
        fail("build failed" if code is not None else "build timed out")
    print(f"run.py: built in {time.time() - t0:.1f}s", file=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, stamp


def run_proc(cmd, log, timeout, **kw):
    """Run `cmd` in its own process group with output to `log`; on timeout
    kill the whole group and wait for it. Returns the exit code, or None
    on timeout.
    """
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def java_cmd(classes, jars, args, work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # temp files, Spark's shuffle/block dirs and RocksDB's working dirs all
    # stay under the run's work directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return cmd + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
        "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "graftbench.Main"] + args


def generate(workload, seed, seconds, inputs):
    """Write the workload's inputs; returns the seconds it took."""
    import gen
    spec = WORKLOADS[workload]
    t0 = time.perf_counter()
    if spec["tables"]:
        gen.write_tables(seed, spec["sf"], spec["tables"], inputs)
    if workload == "stream_ingest":
        # one unscheduled warm-up file, then STREAM_RATE a second
        gen.event_files(seed, spec["sf"], 1 + max(1, round(STREAM_RATE * seconds)), inputs)
    return time.perf_counter() - t0


def oracle_check(workload, seed, inputs, work):
    """Each query's row count and order-insensitive digest against its
    oracle SQL under duckdb on the same parquet. The oracle side is cached
    per input (generator source, seed and scale) under perfbench/out/oracle.
    """
    import duckdb
    sqls = json.load(open(os.path.join(work, "oracle_sql.json")))
    spec = WORKLOADS[workload]
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        gen_hash = hashlib.sha256(fh.read()).hexdigest()[:12]
    cache_file = os.path.join(HERE, "out", "oracle", f"sf{spec['sf']}-seed{seed}-{gen_hash}.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    con = duckdb.connect()
    # one thread gives the oracle's floating-point sums one fixed order; on
    # two threads the oracle's n5_ann_pq result for seed 117 differed from
    # its own one- and four-thread results
    con.execute("SET threads TO 1")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
    for t in spec["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(inputs, t)}.parquet'")
    failures = []
    for name, sql in sqls.items():
        key = hashlib.sha256(sql.encode()).hexdigest()
        if cache.get(name, {}).get("sql") != key:
            cache[name] = dict(digest(con.execute(sql).fetchdf()), sql=key)
        res = os.path.join(work, "results", name)
        if not os.path.isdir(res):
            failures.append(f"{name}: no result written")
            continue
        got = digest(con.execute(f"SELECT * FROM '{res}/*.parquet'").fetchdf())
        want = cache[name]
        if got["rows"] != want["rows"] or got["digest"] != want["digest"]:
            failures.append(f"{name}: rows {got['rows']} vs oracle {want['rows']}, "
                            f"digest {got['digest'][:12]} vs {want['digest'][:12]}")
    os.makedirs(os.path.dirname(cache_file), exist_ok=True)
    with open(cache_file, "w") as fh:
        json.dump(cache, fh)
    return failures


def digest(df):
    """Order-insensitive digest: columns by name, rows sorted, cells as text
    (the exact comparison the engine's own oracle check makes).
    """
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True).astype(str)
    h = hashlib.sha256("|".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return {"rows": len(df), "digest": h.hexdigest()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    jars = spark_jars()
    classes, stamp = build(jars)

    out_dir = os.path.join(HERE, "out")
    work = os.path.join(out_dir, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    try:
        res, gen_s = run_jvm(a, classes, jars, inputs, work)
        failures = list(res["failures"])
        if a.workload.startswith("lake_queries"):
            failures += oracle_check(a.workload, a.seed, inputs, work)
        notes, e2e = res["notes"], res["e2e"]
        # set-up: input generation, the JVM's boot, and its first session
        # start plus the workload's inputs, up to the first timed call
        e2e["setup_s"] = gen_s + float(notes.pop("jvm_boot_s")) + e2e.pop("setup_in_jvm_s")
        failed = len(failures)
        attempted = max(res["attempted"], failed, 1)
        e2e["failed_ratio"] = failed / attempted
        for f in failures:
            print(f"FAILED {f}", file=sys.stderr)
        e2e_file = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-{stamp[:12]}-e2e.json")
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(out_dir, f"{a.workload}-spans.jsonl"))
            with open(os.path.join(out_dir, f"{a.workload}-layers.json"), "w") as fh:
                json.dump(res["layers"], fh, indent=1)
            metrics = {k: {"value": res["layers"][k], "unit": unit_of(k)} for k in PER_LAYER}
            notes.update(overhead(e2e, e2e_file))
        else:
            with open(e2e_file, "w") as fh:
                json.dump(e2e, fh)
            e2e["work_cpu_s"] = e2e.get(WORKLOADS[a.workload]["work"])
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
            if any(m["value"] is None for m in metrics.values()):
                fail("the run ended without measuring every end-to-end metric", 3)
        named = " ".join(f"{k}={v:.4f}{unit_of(k)}" for k, v in e2e.items() if v is not None)
        extra = " ".join(f"{k}={v}" for k, v in notes.items())
        print(f"{a.workload} seed={a.seed} trace={a.trace} {named} | {extra}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_jvm(a, classes, jars, inputs, work):
    """Generate the inputs, run the harness JVM; returns (result, gen seconds)."""
    gen_s = generate(a.workload, a.seed, a.seconds, inputs)
    args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), inputs, work]
    log_path = os.path.join(work, "jvm.log")
    cpu0 = host_cpu()
    with open(log_path, "w") as log:
        code = run_proc(java_cmd(classes, jars, args, work), log,
                        JVM_TIMEOUT_S[a.workload in BENCHMARKED], cwd=work)
    cpu1 = host_cpu()
    if code is None:
        fail("harness JVM timed out")
    result_file = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"harness JVM exited {code}")
    res = json.load(open(result_file))
    if cpu0 and cpu1:
        # share of the host's CPU time the hypervisor gave to others while
        # the JVM ran: a noisy neighbour shows here, not in the engine
        total = sum(cpu1) - sum(cpu0)
        res["notes"]["host_steal_pct"] = f"{100.0 * (cpu1[7] - cpu0[7]) / max(total, 1):.1f}"
    return res, gen_s


def host_cpu():
    """The aggregate `cpu` line of /proc/stat, in clock ticks (empty where
    there is none).
    """
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def overhead(traced, e2e_file):
    """Tracing overhead: each traced end-to-end value minus the untraced one
    of the last untraced run of this workload and seed on the same sources,
    when there is one.
    """
    if not os.path.exists(e2e_file):
        return {"tracing_overhead": "no untraced run of this seed and these sources yet"}
    plain = json.load(open(e2e_file))
    return {f"overhead_{k}": f"{traced[k] - v:+.4f}" for k, v in plain.items()
            if k.endswith("_s") and k != "setup_s"
            and v is not None and traced.get(k) is not None}


def unit_of(name):
    if name.endswith("_ms_p50"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ratio") or name.endswith("write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
