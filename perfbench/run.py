#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload gen-load|query-cold \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
engine and the benchmark's own code with sbt (offline) into perfbench/target;
later runs reuse that build while the sources are unchanged. Each run
makes its inputs inside perfbench/.work/ (gen-load writes its DDL script
from the seed; query-cold reads the fixed fixture in perfbench/fixture/),
starts one JVM with Spark on local[4], runs one closed-loop client for
--seconds, checks
every output, and prints one line per metric followed, as the last line,
by a JSON object with `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
The per-op record of the run stays at
perfbench/.work/<workload>-s<seed>-t<trace>/ops.jsonl. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
# A build (first run in a checkout, or after a source change) has its own
# deadline; the run's deadline starts when the build is done.
BUILD_DEADLINE_S = 700.0
DEADLINE_S = 170.0
# query-cold's input: the engine's parquet test fixture at scale factor
# 0.001 (TPC-H-style tables plus events, documents and embeddings), kept
# in the benchmark's directory so that a run reads only its checkout.
FIXTURE = os.path.join(HERE, "fixture", "sf0.001")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Digest of every input of the build: engine sources and the bench's own."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def heap_gb():
    """The engine's own heap rule (build.sbt): a quarter of physical RAM in
    whole GB, clamped to [4, 24]."""
    phys_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**30
    return max(4, min(24, phys_gb // 4))


def build(deadline):
    """Compiles with sbt when the sources changed; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], HERE, env, out, deadline)
    lines = open(log).read().splitlines()
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    cp = [ln for ln in lines if not ln.startswith("[") and "perfbench" in ln and ":" in ln]
    if not cp:
        fail(f"build printed no classpath; see {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def run_bounded(cmd, cwd, env, out, deadline):
    """Runs cmd in its own process group; kills the group at the deadline
    and waits for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish before the deadline")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def oracle_check(fixture, results):
    """Compares each saved result with its DuckDB oracle twin using the
    repository's tools/diffcheck.py; returns the failing lines. An op that
    failed saved no result; it counts as failed, not as wrong."""
    sql = json.load(open(os.path.join(results, "oracle_sql.json")))
    sql = {k: v for k, v in sql.items() if os.path.isdir(os.path.join(results, k))}
    if not sql:
        return []
    with open(os.path.join(results, "oracle_sql.json"), "w") as f:
        json.dump(sql, f)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import diffcheck
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        diffcheck.main(fixture, results)
    return [ln for ln in buf.getvalue().splitlines() if ln.startswith("FAIL")]


def quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))]


def end_to_end(workload, summary, timed):
    """The workload's end-to-end metrics under its own names."""
    done = [o for o in timed if o["ok"]]
    walls = [o["wall_s"] for o in done]
    if not walls:
        fail("no timed op completed")
    m = {"setup_s": (summary["setup_s"], "s"),
         "peak_rss_mb": (summary["peak_rss_mb"], "MB"),
         "retained_heap_mb": (summary["retained_heap_mb"], "MB"),
         "fail_frac": ((len(timed) - len(done)) / len(timed), "1")}
    if workload == "gen-load":
        m["load_s"] = (statistics.median(walls), "s")
        m["load_rows_s"] = (statistics.median(o["rows"] / o["wall_s"] for o in done), "1/s")
    else:
        m["query_p50_s"] = (statistics.median(walls), "s")
        m["query_p90_s"] = (quantile(walls, 0.9), "s")
        m["queries_s"] = (len(done) / summary["timed_s"], "1/s")
    return m


def reported(workload, e2e):
    """The end-to-end metrics of BENCHMARK.json, which every workload
    reports: latency and throughput take the workload's own meaning
    (a catalog load, or one query), and fail_frac, which is 0 on a
    passing run, travels as `failed` / `attempted` instead. peak_rss_mb
    is printed but not reported: under the engine's heap rule it follows
    how far G1 happened to grow the heap, and spread by a third between
    runs of query-cold; retained_heap_mb is the memory figure instead."""
    load = workload == "gen-load"
    return {"setup_s": e2e["setup_s"],
            "latency_p50_s": e2e["load_s" if load else "query_p50_s"],
            "latency_p90_s": e2e["load_s" if load else "query_p90_s"],
            "throughput_per_s": e2e["load_rows_s" if load else "queries_s"],
            "retained_heap_mb": e2e["retained_heap_mb"]}


def per_layer(summary, timed):
    traced = [o for o in timed if o["traced"]]
    plain = [o for o in timed if not o["traced"]]
    if not traced:
        fail("no traced op ran")
    n = len(traced)

    def mean(f):
        return sum(f(o) for o in traced) / n

    m = {}
    for layer, name in [("ddl.parse", "ddl.parse_s"), ("deps.waves", "deps.waves_s"),
                        ("rules.infer", "rules.infer_s"), ("load.roundtrip", "load.roundtrip_self_s"),
                        ("queries.build", "queries.build_s"),
                        ("queries.collect", "queries.collect_s")]:
        m[name] = (mean(lambda o: o["self_s"].get(layer, 0.0)), "s")
    for layer in ("gen.plan", "gen.exec"):
        m[layer + "_s"] = (mean(lambda o: o["probe_s"].get(layer, 0.0)), "s")
    m["memos.clear_s"] = (mean(lambda o: o["pre_s"].get("memos.clear", 0.0)), "s")
    units = {"_s": "s", "_bytes": "B", "_mb": "MB", "_frac": "1"}
    counters = ["ddl.tables", "ddl.columns", "ddl.fks", "deps.waves", "rules.keyword_cols",
                "gen.rows", "load.readback_rows", "load.fk_bad_rows", "load.pk_armed",
                "load.fk_armed", "catalyst.analyze_s", "catalyst.optimize_s", "catalyst.plan_s",
                "codegen.compile_s", "codegen.classes", "codegen.fallbacks", "exec.run_s",
                "exec.jobs", "exec.tasks", "exec.task_cpu_s", "exec.core_busy_frac",
                "exec.scan_bytes", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
                "exec.spill_bytes", "exec.evicted_blocks", "plan.exchanges", "plan.windows",
                "plan.unions", "plan.scans", "jvm.gc_s", "sources.artifact_bytes",
                "sources.artifact_files", "streaming.batches", "streaming.input_rows"]
    for c in counters:
        unit = next((u for suf, u in units.items() if c.endswith(suf)), "count")
        m[c] = (mean(lambda o: o["counts"].get(c, 0.0)), unit)
    m["exec.storage_pool_mb"] = (max(o["counts"]["exec.storage_pool_mb"] for o in traced), "MB")
    m["exec.storage_peak_mb"] = (max(o["counts"]["exec.storage_used_mb"] for o in traced), "MB")
    m["jvm.heap_peak_mb"] = (summary["heap_peak_mb"], "MB")
    m["jvm.peak_rss_mb"] = (summary["peak_rss_mb"], "MB")
    m["trace.unattributed_frac"] = (max(o["unattributed_frac"] for o in traced), "1")
    # tracing overhead: traced against untraced wall time of the same ops
    pw = {}
    for o in plain:
        if o["ok"]:
            pw.setdefault(o["name"], []).append(o["wall_s"])
    ratios = [o["wall_s"] / statistics.median(pw[o["name"]])
              for o in traced if o["ok"] and o["name"] in pw]
    m["trace.overhead_frac"] = (statistics.median(ratios) - 1.0 if ratios else 0.0, "1")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["gen-load", "query-cold"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = build(time.monotonic() + BUILD_DEADLINE_S)
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", os.path.join(work, "out")]
    if a.workload == "query-cold":
        args += ["--fixture", FIXTURE]
    tmp = os.path.join(work, "tmp")
    jvm = ["java", f"-Xmx{heap_gb()}g", "-XX:+UseG1GC", "-XX:-UsePerfData", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main", *args]
    env = dict(os.environ, GRAFT_ARTIFACT_DIR=os.path.join(work, "artifacts"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run_bounded(jvm, work, env, log, deadline)
    if rc != 0:
        fail(f"benchmark JVM exited {rc}; see {os.path.join(work, 'jvm.log')}")

    out = os.path.join(work, "out")
    summary = json.load(open(os.path.join(out, "summary.json")))
    ops = [json.loads(ln) for ln in open(os.path.join(out, "ops.jsonl")) if ln.strip()]
    timed = [o for o in ops if o["phase"] == "timed"]
    if not timed:
        fail("no timed op ran")
    wrong = [f"{o['name']}: {o['wrong']}" for o in ops if o.get("wrong")]
    if a.workload != "gen-load":
        wrong += oracle_check(FIXTURE, summary["oracle_dir"])
    for w in wrong:
        print(f"perfbench: wrong output: {w}", file=sys.stderr)
    for o in ops:
        if not o["ok"]:
            f = o["failure"]
            print(f"perfbench: {o['name']} failed in {f['layer']}: {f['class']}: {f['message']}",
                  file=sys.stderr)

    e2e = end_to_end(a.workload, summary, timed)
    metrics = per_layer(summary, timed) if a.trace else reported(a.workload, e2e)
    # end-to-end numbers come only from untraced runs
    for k, (v, u) in (metrics if a.trace else e2e).items():
        print(f"{k} {v} {u}")
    print(f"ops {len(timed)} timed, {len(ops) - len(timed)} untimed; record {os.path.join(out, 'ops.jsonl')}")

    # keep the per-op record and summary; drop the inputs and scratch state
    for d in ("tmp", "artifacts", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "results"), ignore_errors=True)

    result = {"correct": not wrong, "attempted": len(timed),
              "failed": sum(1 for o in timed if not o["ok"]),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(result))
    sys.exit(0 if not wrong else 1)


if __name__ == "__main__":
    main()
