"""Pure functions that turn a JVM run record into benchmark metrics.

Kept apart from run.py so they can be unit-tested without Spark
(`python3 -m unittest discover -s perfbench/tests`).
"""
import hashlib
import re
import statistics

NIGHT_STEPS = ("exact", "eval", "lm", "nb", "probe", "ledger", "accept", "dq",
               "index", "compact")
DROP_REASONS = ("exact_corpus_dup", "exact_intra_dup", "contaminated", "low_quality",
                "classifier_rejected", "corpus_dup", "intra_dup")
INDEX_FAMILIES = ("band", "bloom", "ivfpq", "bm25")
TAIL_LEVELS = (99, 95, 90, 75, 50)

# the timed op kind whose latency is op_p50_s, per workload
PRIMARY_OP = {"report_batch": "report", "cdc_merge": "batch", "ingest_nights": "night"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    k = max(1, -(-p * len(s) // 100))       # ceil(p/100 * n), at least 1
    return s[int(k) - 1]


def tail_percentile(xs, min_beyond=10, levels=TAIL_LEVELS):
    """The highest percentile level with at least `min_beyond` samples above
    its rank, as (level, value, n_samples, n_beyond). Falls back to the
    median when even p50 lacks that many samples beyond it."""
    n = len(xs)
    for p in levels:
        rank = -(-p * n // 100)
        if n - rank >= min_beyond:
            return p, percentile(xs, p), n, n - rank
    return 50, percentile(xs, 50) if xs else 0.0, n, n - (-(-50 * n // 100))


def union_length(intervals):
    """Total length covered by a set of [t0, t1] intervals (overlaps once)."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def clipped(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(spans):
    """Span id → own time: the span's length minus what its children cover,
    overlapping children (concurrent chains) counted once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - union_length(
        clipped(kids.get(s["id"], []), s["t0"], s["t1"])) for s in spans}


_STEP_RE = re.compile(r"^ingest_([a-z0-9]+)_")


def step_of(desc):
    """Night step named by a job description / audit row (`ingest_lm_n003`,
    `ingest_compact_bloom_n003` → `lm`, `compact`), or None."""
    m = _STEP_RE.match(desc or "")
    return m.group(1) if m and m.group(1) in NIGHT_STEPS else None


def stage_owner(jobs):
    """stage id → the first job that lists it (AQE re-lists stages)."""
    owner = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for s in j["stages"]:
            owner.setdefault(s, j["id"])
    return owner


def job_costs(jobs, stages):
    """job id → summed stage aggregates of the stages it owns."""
    owner = stage_owner(jobs)
    out = {j["id"]: {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
                     "spill": 0, "output": 0, "failed": 0, "sched_ms": 0} for j in jobs}
    for s in stages:
        jid = owner.get(s["id"])
        if jid is None:
            continue
        c = out[jid]
        for k in ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write", "spill", "output",
                  "failed"):
            c[k] += s[k]
        if s["submit_ms"] >= 0 and s["first_launch_ms"] >= 0:
            c["sched_ms"] += max(0, s["first_launch_ms"] - s["submit_ms"])
    return out


def attribute_steps(jobs, stages, windows):
    """Per night step: jobs and task seconds, by job description. Jobs inside
    a night window whose description names no step are unattributed."""
    costs = job_costs(jobs, stages)
    per = {s: {"jobs": 0, "task_s": 0.0} for s in NIGHT_STEPS}
    unattributed = 0
    for j in jobs:
        step = step_of(j.get("desc"))
        if step:
            per[step]["jobs"] += 1
            per[step]["task_s"] += costs[j["id"]]["run_ms"] / 1e3
        elif any(a <= j["t0"] <= b for a, b in windows):
            unattributed += 1
    return per, unattributed


def frame_fingerprint(df):
    """Digest of a result frame, robust to the engine's choice of integer vs
    floating types and of column order: columns sorted by name, numbers as
    float64 (with -0.0 folded into 0.0), timestamps at microseconds, other
    objects as strings; rows kept in order."""
    import numpy as np
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    h = hashlib.sha1(("|".join(df.columns) + f"#{len(df)}").encode())
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_bool_dtype(col):
            col = col.astype("float64")
        if pd.api.types.is_datetime64_any_dtype(col):
            col = col.astype("datetime64[us]").astype("int64").astype("float64")
        elif pd.api.types.is_numeric_dtype(col):
            col = col.astype("float64") + 0.0
        else:
            col = col.map(lambda v: "\\N" if v is None or (isinstance(v, float) and v != v)
                          else (v.hex() if isinstance(v, (bytes, bytearray)) else str(v)))
        if col.dtype == "float64":
            vals = np.where(np.isnan(col.values), np.nan, col.values)
            h.update(np.ascontiguousarray(vals).tobytes())
        else:
            h.update("\x1f".join(col.tolist()).encode())
    return h.hexdigest()


def report_failures(executions, result_fp, oracle_fp):
    """Report executions that fail their output check: the query threw or
    its result differs from the oracle's. `result_fp`/`oracle_fp` map query
    name → fingerprint of the dumped Spark result / of the DuckDB result."""
    failed = []
    for e in executions:
        name = e["name"]
        if not e["ok"] or result_fp.get(name) is None or \
                result_fp.get(name) != oracle_fp.get(name):
            failed.append(e)
    return failed


def fail_share(attempted, failed):
    return failed / attempted if attempted else 1.0
