#!/usr/bin/env python3
"""Benchmark of the order-book ETL: the composed ingest pipeline
(WS frames -> durable queue -> normalize -> exactly-once JDBC) and the
order-book registry queries, as described in README.md.

    python3 e2ebench/run.py --workload ingest_drain --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (e2ebench/build.sbt); later runs reuse the build while
the sources are unchanged. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; everything else goes to
stderr.
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

import metrics as m

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "e2ebench.stamp")
WORKLOADS = ("ingest_drain", "ingest_paced")
# The order-book analytics of the paper, timed on every run.
REGISTRY = ["ob01", "ob05", "ob15"]
# The project's read-only sf0.1 tables: testdata/sf0.1 in the home
# directory (TESTDATA.md), or SPARK_GRAFT_SF_DIR as for graft.Bench.
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR",
                        os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"e2ebench: {msg}")
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the stamp matches."""
    fp = source_fingerprint()
    if os.path.isfile(STAMP) and open(STAMP).read() == fp:
        return
    log("e2ebench: building with sbt (first run in this checkout)")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Djava.io.tmpdir={tmp}", "compile",
                        "Compile/copyResources"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                       env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"),
                       timeout=800)
    if r.returncode != 0:
        fail("sbt compile failed", 1)
    with open(STAMP, "w") as fh:
        fh.write(fp)


def run_jvm(args, work, out):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME must point at a Spark 4 installation")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, "-Xms4g", "-Xmx4g", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "bench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(len(os.sched_getaffinity(0))),
            "--work", work, "--out", out, "--sf-dir", SF_DIR,
            "--registry", ",".join(REGISTRY)]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as fh:
        launch_ms = time.time() * 1000
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=fh,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0 or not os.path.isfile(out):
        with open(jvm_log, errors="replace") as fh:
            tail = fh.read()[-20000:]
        log(tail)
        fail("the benchmark JVM " + ("timed out" if code is None
                                     else f"exited with {code}"), 1)
    with open(out) as fh:
        return json.load(fh), launch_ms


def correctness(raw):
    """(attempted, failed, notes): every message sent and every query
    run is one operation; a message missing from, or repeated in, the
    fact tables is a failed one."""
    runs, checks = [raw["ingest"]], [raw["checks"]]
    if "baseline_1core" in raw:
        runs.append(raw["baseline_1core"])
        checks.append(raw["baseline_checks"])
    attempted = sum(r["messages"] for r in runs)
    failed, notes = 0, []
    for r in runs:
        got = sum(b["lines"] for b in r["consumer"])
        if not r["complete"] or r["error"] or got != r["messages"]:
            failed += max(1, r["messages"] - got)
            notes.append(f"ingest {r['tag']}: {got}/{r['messages']} committed, "
                         f"error={r['error']}")
    for c in checks:
        for k, v in c.items():
            if v:
                failed += v
                notes.append(f"check {k}: {v}")
    with open(os.path.join(HERE, "registry_rows.json")) as fh:
        expected = json.load(fh)
    passes = raw["registry"] + ([raw["families"]] if "families" in raw else [])
    for q in raw["registry_warm"] + [q for p in passes for q in p["queries"]]:
        attempted += 1
        if q["error"] or q["rows"] != expected[q["id"]]:
            failed += 1
            notes.append(f"query {q['id']}: rows={q['rows']} "
                         f"expected={expected[q['id']]} error={q['error']}")
    return attempted, failed, notes


def end_to_end(raw, launch_ms):
    rate, fresh, first_ms, windows = m.role_numbers(raw["ingest"], "timed")
    p50, n = m.percentile(fresh, 0.50)
    p95, _ = m.percentile(fresh, 0.95)
    passes = raw["registry"]
    fastest = list(m.fastest_per_query(passes).values())
    log(f"e2ebench: timed ingest {sum(hi - lo for lo, hi in windows) / 1000:.2f} s, "
        f"freshness samples={n}; registry passes (s): "
        + ", ".join(f"{p['pass_s']:.2f}" for p in passes))
    return {
        "setup_s": ((first_ms - launch_ms) / 1000.0, "s"),
        "drain_msgs_per_s": (rate, "msg/s"),
        "freshness_p50_ms": (p50, "ms"),
        "freshness_p95_ms": (p95, "ms"),
        "pass_s": (sum(fastest), "s"),
        "query_geomean_ms": (m.geomean(t * 1000.0 for t in fastest), "ms"),
    }


def stream_layers(prefix, batches, windows):
    """Micro-batch metrics of one query over the timed windows."""
    batches = [b for b in batches
               if any(lo <= b["start_ms"] < hi for lo, hi in windows)]
    data = [b for b in batches if b["lines"] > 0]
    out = {f"{prefix}.batches": (len(batches), "count"),
           f"{prefix}.rows_per_batch_p50": (
               m.percentile([b["lines"] for b in data], 0.5)[0], "count"),
           f"{prefix}.trigger_ms_p50": (m.percentile(
               [b["duration_ms"]["triggerExecution"] for b in data], 0.5)[0],
               "ms"),
           f"{prefix}.busy_frac": (m.busy_frac(batches, windows), "fraction")}
    if prefix == "consumer":
        for key, name in [("latestOffset", "latest_offset"),
                          ("queryPlanning", "query_planning"),
                          ("addBatch", "add_batch"),
                          ("walCommit", "wal_commit"),
                          ("commitOffsets", "commit_offsets")]:
            out[f"consumer.{name}_ms_p50"] = (m.percentile(
                [b["duration_ms"].get(key, 0) for b in data], 0.5)[0], "ms")
        out["consumer.state_rows"] = (
            max(b["state_rows"] for b in batches), "count")
        out["consumer.state_mb"] = (
            max(b["state_bytes"] for b in batches) / 1e6, "MB")
    return out


def per_layer(raw, workload):
    out = {}
    run = raw["ingest"]
    # ingest layers, from the traced copy of the timed ingest phase
    plain_rate, plain_fresh, _, _ = m.role_numbers(run, "timed")
    traced_rate, traced_fresh, _, windows = m.role_numbers(run, "traced")
    out.update(stream_layers("producer", run["producer"], windows))
    out.update(stream_layers("consumer", run["consumer"], windows))
    out["gen.sent"] = (run["sent"], "count")
    out["gen.lag_ms_max"] = (run["lag_ms_max"], "ms")
    # trace cost: traced copy vs the two untraced ones around it, as time
    # per message for the drain and as median freshness for the paced feed
    if workload == "ingest_drain":
        overhead = plain_rate / traced_rate - 1.0
    else:
        overhead = (m.percentile(traced_fresh, 0.5)[0]
                    / m.percentile(plain_fresh, 0.5)[0] - 1.0)
    out["trace.overhead_frac"] = (overhead, "fraction")
    # layer probes
    pr = raw["probes"]
    out["wire.decode_ns_per_frame"] = (statistics.median(pr["wire_ns_per_frame"]), "ns")
    out["queue.append_ms_p50"] = (
        m.percentile(pr["queue"]["append_ms"], 0.5)[0], "ms")
    out["queue.append_mb_per_s"] = (
        statistics.median(pr["queue"]["append_mb_per_s"]), "MB/s")
    out["queue.read_lines_per_s"] = (
        statistics.median(pr["queue"]["read_lines_per_s"]), "1/s")
    out["normalize.msgs_per_s"] = (statistics.median(pr["normalize_msgs_per_s"]), "msg/s")
    out["sink.commit_ms_small"] = (
        m.percentile(pr["sink"]["commit_ms_small"], 0.5)[0], "ms")
    out["sink.rows_per_s_large"] = (
        statistics.median(pr["sink"]["rows_per_s_large"]), "1/s")
    # batch engine per family: the traced registry pass + one query of
    # each other family
    queries = raw["registry"][0]["queries"] + raw["families"]["queries"]
    fam = {}
    for q in queries:
        t = raw["trace"][q["id"]]
        f = fam.setdefault(m.family(q["id"]), dict(
            wall_s=0.0, planning_s=0.0, jobs=0, tasks=0, shuffle_mb=0.0,
            spill_mb=0.0, driver_gap_s=0.0))
        f["wall_s"] += q["seconds"]
        f["planning_s"] += t["planning_ms"] / 1000.0
        f["jobs"] += len(t["jobs"])
        f["tasks"] += t["tasks"]
        f["shuffle_mb"] += t["shuffle_write_bytes"] / 1e6
        f["spill_mb"] += t["spill_bytes"] / 1e6
        f["driver_gap_s"] += (q["end_ms"] - q["start_ms"] - m.union_ms(
            t["jobs"], q["start_ms"], q["end_ms"])) / 1000.0
    units = dict(wall_s="s", planning_s="s", jobs="count", tasks="count",
                 shuffle_mb="MB", spill_mb="MB", driver_gap_s="s")
    for name, f in sorted(fam.items()):
        for k, v in f.items():
            out[f"registry.{name}.{k}"] = (v, units[k])
    for qid, hand in (("st08", 14), ("dd24", 49)):
        jobs = len(raw["trace"][qid]["jobs"])
        out[f"crosscheck.{qid}_jobs"] = (jobs, "count")
        log(f"e2ebench: {qid} ran {jobs} jobs (hand profile: {hand})")
    seams = raw["seam_builds"]
    out["seam.builds"] = (len(seams), "count")
    out["seam.build_s"] = (sum(seams.values()), "s")
    out["baseline.drain_msgs_per_s_1core"] = (
        m.role_numbers(raw["baseline_1core"], "timed")[0], "msg/s")
    return out


def result(raw, launch_ms, workload, trace):
    """The printed record. A run with a failed operation reports no
    metrics: its timings would cover a pipeline that did not finish."""
    attempted, failed, notes = correctness(raw)
    for n in notes:
        log(f"e2ebench: FAILED {n}")
    values = {}
    if failed == 0:
        values = per_layer(raw, workload) if trace else end_to_end(
            raw, launch_ms)
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from a full checkout")
    if not os.path.isdir(SF_DIR):
        fail(f"registry input {SF_DIR} not found (set SPARK_GRAFT_SF_DIR)")
    build()
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw, launch_ms = run_jvm(args, work, os.path.join(work, "raw.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result(raw, launch_ms, args.workload, args.trace)))


if __name__ == "__main__":
    main()
