#!/usr/bin/env python3
"""graft benchmark: three seeded workloads, each one closed loop in a fresh JVM.

    python3 perfbench/run.py --workload <report_batch|cdc_merge|ingest_nights>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles graft's sources with
the benchmark's own sbt project (perfbench/build.sbt) into perfbench/target
and caches the classpath under $CARGO_TARGET_DIR (default .bench_build);
later runs reuse it while the sources are unchanged. Every run builds its
inputs from the seed under .bench_scratch/, starts the JVM, checks every
output, removes its scratch root again and prints one JSON line last.
With --trace 1 the JVM also records spans, Spark jobs/stages and Catalyst
phases and the line carries the per-layer metrics instead.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics as M  # noqa: E402

CHECKOUT = os.getcwd()
BUILD = os.path.join(CHECKOUT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
SCRATCH = os.path.join(CHECKOUT, ".bench_scratch")
DEADLINE_S = 170           # a run's limit, build excluded
CORES = len(os.sched_getaffinity(0))

# input sizes per workload (see README.md for why these sizes)
SIZES = {
    "report_batch": {"sf": 0.01},
    "cdc_merge": {"keys": 50_000, "batches": 6, "batch_rows": 10_000},
    "ingest_nights": {"nights": 2, "docs_per_night": 200},
}

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]

END_TO_END = [("setup_s", "s"), ("items_per_s", "1/s"), ("op_p50_s", "s"),
              ("heap_live_mb", "MB"), ("space_amp", "ratio")]


_running = {}       # the JVM child and scratch root of this run


def _stop(signum, frame):
    """Stop the JVM and remove the scratch root when the run is cancelled."""
    p = _running.get("jvm")
    if p is not None and p.poll() is None:
        p.kill()
        p.wait()
    if _running.get("root") and os.path.exists(_running["root"]):
        shutil.rmtree(_running["root"], ignore_errors=True)
    sys.exit(128 + signum)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------- build

def source_stamp():
    files = sorted(glob.glob(os.path.join(CHECKOUT, "src/main/**/*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/main/**/*.scala"), recursive=True) +
                   [os.path.join(CHECKOUT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project/build.properties")])
    h = hashlib.sha1()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, CHECKOUT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + perfbench.Main; return the runtime classpath."""
    if not os.path.isdir(os.path.join(CHECKOUT, "src/main/scala/graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in os.environ:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile) ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if l.count(":") > 3 and l.endswith(".jar")
          or l.startswith(HERE)]
    if not cp:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1].strip(), stamp


# ------------------------------------------------------------ environment

def calibrate():
    """A fixed single-thread CPU loop: its time rates the box, so runs on a
    slower or loaded machine read as not comparable, not as regressions."""
    t0 = time.perf_counter()
    h = hashlib.sha256(b"graft")
    for _ in range(200_000):
        h = hashlib.sha256(h.digest())
    x = 0
    for i in range(1_500_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(d, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def versions():
    out = {"nproc": CORES}
    try:
        v = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
        out["jvm"] = v.splitlines()[0] if v else "?"
    except OSError:
        out["jvm"] = "?"
    return out


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, data):
    s = SIZES[workload]
    if workload == "report_batch":
        gen.claims_tables(data, seed, s["sf"])
    elif workload == "cdc_merge":
        gen.cdc_inputs(data, seed, s["keys"], s["batches"], s["batch_rows"])
    else:
        gen.ingest_inputs(data, seed, s["nights"], s["docs_per_night"])


def oracle_fingerprints(data, results):
    """DuckDB runs SparkEntry.oracleSql over the same input files."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    sql = json.load(open(os.path.join(results, "oracle_sql.json")))
    oracle, spark = {}, {}
    for name, q in sql.items():
        try:
            oracle[name] = M.frame_fingerprint(con.execute(q).fetchdf())
        except Exception as e:  # an oracle that fails counts as a mismatch
            log(f"oracle {name} failed: {str(e).splitlines()[0][:160]}")
        spark[name] = M.frame_fingerprint(pd.read_parquet(os.path.join(results, name)))
        if spark[name] != oracle.get(name):
            log(f"report {name}: result differs from the DuckDB oracle")
    return spark, oracle


# --------------------------------------------------------------- metrics

def end_to_end(workload, rec):
    info = rec["info"]
    kind = M.PRIMARY_OP[workload]
    timed = [o for o in rec["ops"] if o["kind"] == kind]
    lat = [(o["t1"] - o["t0"]) / 1e3 for o in timed]
    wall = (info["timed_t1"] - info["timed_t0"]) / 1e3
    items = sum(o.get("items", 1) for o in timed if o["ok"])
    level, tail, n, beyond = M.tail_percentile(lat)
    log(f"{kind} latency: {n} samples, p50 {M.median(lat):.4f} s, tail p{level} "
        f"{tail:.4f} s ({beyond} samples beyond it)")
    return {
        "setup_s": info["setup_s"],
        "items_per_s": items / wall,
        "op_p50_s": M.median(lat),
        "heap_live_mb": info["heap_live_mb"],
        "space_amp": info["disk_bytes"] / max(1, info["live_bytes"]),
    }


SPARK_LAYER = ["spark.jobs", "spark.tasks", "spark.task_s", "spark.task_cpu_s", "spark.gc_s",
               "spark.sched_wait_s", "spark.driver_gap_s", "spark.busy_share",
               "spark.shuffle_write_mb", "spark.spill_mb", "spark.output_mb",
               "spark.failed_tasks", "catalyst.analysis_s", "catalyst.optimization_s",
               "catalyst.planning_s", "codegen.compiles", "codegen.compile_s"]
# graft layers the reports and the CDC batches both go through: graft.ops
# (CDC operators, compaction) and graft.merge (MERGE)
SHARED_LAYER = [f"{ly}.{m}" for ly in ("ops", "merge") for m in ("wall_s", "jobs", "compiles")]
# each workload's own breakdown; the other workloads report these as 0
REPORT_DETAIL = [f"{ly}.{m}" for ly in ("core", "dq", "reports")
                 for m in ("wall_s", "jobs", "compiles")] + \
    ["core.sql_render_s", "core.leftover_blocks"]
CDC_DETAIL = ["ops.dedup_s", "merge.merge_s", "merge.rows_changed", "merge.write_amp",
              "merge.partitions_rewritten", "ops.intervals_s", "ops.compact_s",
              "ops.files_before", "ops.files_after", "ops.asof_input_mb", "ops.asof_p50_s"]
NIGHT_DETAIL = [f"night.{s}.{m}" for s in M.NIGHT_STEPS for m in ("wall_s", "jobs", "task_s")] + \
    ["night.unattributed_jobs", "night.orchestration_s"] + \
    [f"night.drops.{r}" for r in M.DROP_REASONS] + \
    [f"operators.{f}.{m}" for f in M.INDEX_FAMILIES for m in ("files", "mb")] + \
    ["meta.audit_files", "retract.jobs", "retract.wall_s"]
PER_LAYER = SPARK_LAYER + SHARED_LAYER + REPORT_DETAIL + CDC_DETAIL + NIGHT_DETAIL


def span_self_times(rec):
    """Self time per span name (ops and the graft calls inside them), in s."""
    spans = [sp for sp in rec["spans"] if "parent" in sp]
    selfs = M.self_times(spans)
    out = {}
    for sp in spans:
        key = sp["name"].split(":")[0]
        out[key] = out.get(key, 0.0) + selfs[sp["id"]] / 1e3
    return out


def per_layer(workload, rec):
    """BENCHMARK.json's per_layer metrics of a traced run."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    info, ops, jobs, stages = rec["info"], rec["ops"], rec["jobs"], rec["stages"]
    t0, t1 = info["timed_t0"], info["timed_t1"]
    timed_jobs = [j for j in jobs if t0 <= j["t0"] <= t1]
    costs = M.job_costs(jobs, stages)
    tj = [costs[j["id"]] for j in timed_jobs]
    wall = (t1 - t0) / 1e3
    out["spark.jobs"] = len(timed_jobs)
    out["spark.tasks"] = sum(c["tasks"] for c in tj)
    out["spark.task_s"] = sum(c["run_ms"] for c in tj) / 1e3
    out["spark.task_cpu_s"] = sum(c["cpu_ns"] for c in tj) / 1e9
    out["spark.gc_s"] = sum(c["gc_ms"] for c in tj) / 1e3
    out["spark.sched_wait_s"] = sum(c["sched_ms"] for c in tj) / 1e3
    out["spark.shuffle_write_mb"] = sum(c["shuffle_write"] for c in tj) / 2**20
    out["spark.spill_mb"] = sum(c["spill"] for c in tj) / 2**20
    out["spark.output_mb"] = sum(c["output"] for c in tj) / 2**20
    out["spark.failed_tasks"] = sum(c["failed"] for c in tj)
    out["spark.busy_share"] = out["spark.task_s"] / (wall * info["cores"])
    job_iv = [(j["t0"], j.get("t1", j["t0"])) for j in jobs]
    timed_ops = [o for o in ops if t0 <= o["t0"] <= t1]
    out["spark.driver_gap_s"] = sum(
        (o["t1"] - o["t0"]) - M.union_length(M.clipped(job_iv, o["t0"], o["t1"]))
        for o in timed_ops) / 1e3
    qes = [q for q in rec["qes"] if t0 <= q["t0"] <= t1]
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_s"] = sum(q[f"{ph}_ms"] for q in qes) / 1e3
    out["codegen.compiles"] = sum(o["compiles"] for o in timed_ops)
    out["codegen.compile_s"] = sum(o["compile_s"] for o in timed_ops)
    layer = rec["layer"]
    for k, v in layer.items():
        if k in out:
            out[k] = v

    def charge(ly, t0, t1, compiles):
        out[f"{ly}.wall_s"] += (t1 - t0) / 1e3
        out[f"{ly}.jobs"] += sum(1 for j in jobs if t0 <= j["t0"] <= t1)
        out[f"{ly}.compiles"] += compiles

    if workload == "report_batch":
        for o in (o for o in ops if "layer" in o):
            charge(o["layer"], o["t0"], o["t1"], o["compiles"])
            out["core.leftover_blocks"] += o.get("leftover_blocks", 0)
    elif workload == "cdc_merge":
        # the graft calls inside each batch, read and compaction, by package
        for sp in rec["spans"]:
            ly = sp["name"].split(".")[0]
            if ly in ("ops", "merge"):
                charge(ly, sp["t0"], sp["t1"], sp.get("compiles", 0))
        # bytes the merges wrote over the bytes of the rows they changed
        row_bytes = info["live_bytes"] / max(1.0, info["target_rows"])
        out["merge.write_amp"] = layer.get("merge.bytes_written", 0.0) / max(
            1.0, layer.get("merge.rows_changed", 0.0) * row_bytes)
        asof = [(o["t1"] - o["t0"]) / 1e3 for o in ops if o["kind"] == "asof"]
        out["ops.asof_p50_s"] = M.median(asof)
    else:
        nights = [o for o in ops if o["kind"] == "night"]
        windows = [(o["t0"], o["t1"]) for o in nights]
        steps, unattributed = M.attribute_steps(
            [j for j in jobs if any(a <= j["t0"] <= b for a, b in windows)], stages, windows)
        for s, v in steps.items():
            out[f"night.{s}.jobs"] = v["jobs"]
            out[f"night.{s}.task_s"] = v["task_s"]
        out["night.unattributed_jobs"] = unattributed
        night_names = {o["name"] for o in nights}
        step_spans = []
        for sp in rec["spans"]:
            step = M.step_of(sp["name"])
            if step and sp["name"].rsplit("_", 1)[-1] in night_names:
                out[f"night.{step}.wall_s"] += (sp["t1"] - sp["t0"]) / 1e3
                step_spans.append(sp)
        # a night's own time: its wall minus what its logged steps cover
        # (the concurrent chains' steps overlap and count once)
        spans = [{"id": o["name"], "parent": None, "t0": o["t0"], "t1": o["t1"]}
                 for o in nights]
        spans += [{"id": f"s{i}", "parent": sp["name"].rsplit("_", 1)[-1], "t0": sp["t0"],
                   "t1": sp["t1"]} for i, sp in enumerate(step_spans)]
        selfs = M.self_times(spans)
        out["night.orchestration_s"] = sum(selfs[o["name"]] for o in nights) / 1e3
        for r in M.DROP_REASONS:
            out[f"night.drops.{r}"] = layer.get(f"night.drops.{r}", 0.0)
        ret = [o for o in ops if o["kind"] == "retract"]
        for o in ret:
            out["retract.wall_s"] = (o["t1"] - o["t0"]) / 1e3
            out["retract.jobs"] = sum(1 for j in jobs if o["t0"] <= j["t0"] <= o["t1"])
    return out


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)

    calib = calibrate()
    classpath, stamp = build()
    started = time.time()      # a first run's build has its own time limit
    root = os.path.join(SCRATCH, f"{a.workload}-{os.getpid()}")
    if os.path.exists(root):
        shutil.rmtree(root)
    _running["root"] = root
    os.makedirs(os.path.join(root, "tmp"))
    rec = None
    try:
        data = os.path.join(root, "data")
        t_gen = time.time()
        make_inputs(a.workload, a.seed, data)
        log(f"inputs generated in {time.time() - t_gen:.1f} s")
        out = os.path.join(root, "record.json")
        cmd = (["java", "-Xmx3g", *ADD_OPENS, "-Duser.timezone=UTC",
                "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={root}/tmp",
                "-cp", classpath, "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--root", root, "--data", data, "--out", out, "--cores", str(CORES)])
        budget = DEADLINE_S - (time.time() - started)
        with open(os.path.join(root, "jvm.log"), "w") as jl:
            p = _running["jvm"] = subprocess.Popen(cmd, cwd=CHECKOUT, stdout=jl,
                                                   stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=max(10, budget))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail("the JVM did not finish in time")
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(os.path.join(root, "jvm.log")).read()[-6000:])
            fail(f"the JVM exited with {rc}")
        log(f"JVM done at {time.time() - started:.1f} s")
        for line in open(os.path.join(root, "jvm.log")):
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
        rec = json.load(open(out))

        failed_ops = [o for o in rec["ops"] if not o["ok"]]
        if a.workload == "report_batch":
            spark_fp, oracle_fp = oracle_fingerprints(data, os.path.join(root, "results"))
            reports = [o for o in rec["ops"] if "layer" in o]
            bad = M.report_failures(reports, spark_fp, oracle_fp)
            failed_ops = [o for o in rec["ops"] if not o["ok"] and "layer" not in o] + bad
            log(f"oracle done at {time.time() - started:.1f} s")
        # whatever the exited JVM left in its temp and Spark local dirs
        # (index, warehouse or metastore scratch) leaked
        leaked = sum(tree_bytes(os.path.join(root, d)) for d in ("tmp", "spark-local"))
    finally:
        if os.path.exists(root):
            shutil.rmtree(root)
    failed_checks = [c for c in rec["checks"] if not c["ok"]]
    attempted = len(rec["ops"]) + len(rec["checks"]) + 1      # + the leak check
    failed = len(failed_ops) + len(failed_checks) + (1 if leaked else 0)
    if leaked:
        log(f"the JVM left {leaked} bytes in its temp and Spark local dirs")

    info = rec["info"]
    env = versions()
    log(f"calibration_s={calib:.4f} nproc={env['nproc']} jvm={env['jvm']!r} "
        f"spark={info['spark_version']} java={info['java_version']} tree={stamp[:12]} "
        f"conf_hash={info['conf_hash']} external_cores={info['external_cores']:.2f}")
    log("op latencies: " + ", ".join(f"{o['name']} {(o['t1'] - o['t0']) / 1e3:.2f} s"
                                    for o in rec["ops"]))
    log(f"fail_share={M.fail_share(attempted, failed):.4f} "
        f"({failed} of {attempted} ops and checks)")
    e2e = end_to_end(a.workload, rec)
    cache = os.path.join(BUILD, f"untraced-{a.workload}-{a.seed}.json")
    if a.trace:
        values = per_layer(a.workload, rec)
        log("self time by span: " + ", ".join(
            f"{k} {v:.2f} s" for k, v in sorted(span_self_times(rec).items())))
        if os.path.exists(cache):
            base = json.load(open(cache))
            log(f"tracing overhead: op_p50_s {e2e['op_p50_s'] - base['op_p50_s']:+.4f} s, "
                f"items_per_s {e2e['items_per_s'] - base['items_per_s']:+.3f} "
                f"(traced minus untraced, seed {a.seed})")
        else:
            log(f"tracing overhead: run --trace 0 with seed {a.seed} first to measure it")
    else:
        values = e2e
        with open(cache, "w") as f:
            json.dump(e2e, f)
    units = dict(END_TO_END)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units.get(k) or _unit(k)}
                    for k, v in values.items()},
    }
    print(json.dumps({"run": {"workload": a.workload, "seed": a.seed,
                              "calibration_s": calib, **env, "spark": info["spark_version"],
                              "java": info["java_version"], "tree": stamp,
                              "conf_hash": info["conf_hash"],
                              "external_cores": info["external_cores"],
                              # foreign CPU (other processes, hypervisor steal)
                              # above half a core: not comparable with
                              # runs on an idle box
                              "comparable": info["external_cores"] < 0.5,
                              "fail_share": M.fail_share(attempted, failed),
                              "setup": {k: info[k] for k in ("session_s", "fixture_s")}}}))
    print(json.dumps(result))


def _unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith(("share", "amp")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
