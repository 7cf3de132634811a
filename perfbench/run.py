#!/usr/bin/env python3
"""graft benchmark: one workload, one closed-loop client, one result line.

    python3 perfbench/run.py --workload ingest|cdc|board --seed N \
        --seconds N --trace 0|1

Builds the engine and the runner from source (once per source state), makes
the workload's inputs from the seed, runs the runner JVM (`local[4]`) for
`--seconds` of measurement, checks the engine's outputs and prints every
metric by name with its unit and sample count. The last line of stdout is
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`).
Every run keeps its raw measurements under `perfbench/.work/raw/`.
Everything the run writes stays under `perfbench/`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
WORK_DIR = os.path.join(HERE, ".work")
TIME_LIMIT_S = 170
sys.path.insert(0, HERE)
import gen  # noqa: E402


# ---- statistics --------------------------------------------------------

def tail_rank(n, beyond=10):
    """Highest integer percentile, from the median up, with at least
    `beyond` samples above it, and its 0-based nearest-rank index in sorted
    order. None when even the median has fewer than `beyond` above it."""
    p = (100 * (n - beyond)) // n if n else 0
    while p >= 50 and n - math.ceil(p * n / 100) < beyond:
        p -= 1
    if p < 50:
        return None
    return p, math.ceil(p * n / 100) - 1


def tail(values, beyond=10):
    """(value, percentile) of the tail rule; the maximum (percentile 100)
    when the run has too few samples for any."""
    s = sorted(values)
    r = tail_rank(len(s), beyond)
    if r is None:
        return s[-1], 100
    return s[r[1]], r[0]


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    values = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


# ---- build --------------------------------------------------------------

def _fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        walk = [(os.path.dirname(root), [], [os.path.basename(root)])] \
            if os.path.isfile(root) else sorted(os.walk(root))
        for d, _, files in walk:
            for f in sorted(files):
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    h.update(p[len(ROOT):].encode() + b"\0" + fh.read())
    return h.hexdigest()


def build(log):
    """Classpath of the compiled engine + runner, compiling when stale."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise RuntimeError("engine sources not found next to perfbench/")
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    fp = _fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL, timeout=600)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as f:
        f.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
    if out.returncode != 0 or not lines:
        log(out.stdout[-3000:])
        raise RuntimeError(f"build failed (sbt exit {out.returncode})")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, args, work, timeout):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    with open(os.path.join(work, "runner.log"), "w") as logf:
        try:
            proc = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, timeout=timeout, cwd=work)
        except subprocess.TimeoutExpired:  # run() has killed and reaped it
            raise RuntimeError(f"runner JVM did not finish within {timeout:.0f} s")
    return proc.returncode


# ---- metrics --------------------------------------------------------------

# the board's CDC merge query: its `merge_p50_ms`
BOARD_MERGE = "q_cdc_merge"


def workload_units(raw):
    """The measured units of work and their latency field."""
    kind = {"ingest": "batch", "cdc": "round", "board": "query"}[raw["workload"]]
    return [u for u in raw["units"] if u["kind"] == kind]


def unit_latency(raw, u):
    if raw["workload"] == "cdc":
        return u["lag_ms"]
    if raw["workload"] == "board":
        return u["queries.build_ms"] + u["queries.exec_ms"]
    return u["ms"]


def end_to_end(raw):
    """{name: (value, unit, samples)} for every end-to-end metric, plus
    workload-specific extras printed by name. A batch is a pipeline batch
    (`ingest`), the mirror drain after one upstream commit (`cdc`), or one
    timed pass over the query list (`board`)."""
    w = raw["workload"]
    units = [u for u in workload_units(raw) if "rows" in u]
    lat = [unit_latency(raw, u) for u in units]
    if not lat:
        raise RuntimeError("no unit of work completed")
    batches = lat
    if w == "board":
        per_pass = {}
        for u, v in zip(units, lat):
            per_pass[u["pass"]] = per_pass.get(u["pass"], 0.0) + v
        batches = [per_pass[p] for p in sorted(per_pass)]
    t, pct = tail(batches)
    m = {"setup_s": (median(raw["setup_s"]), "s", len(raw["setup_s"])),
         "batch_p50_ms": (median(batches), "ms", len(batches)),
         "batch_tail_ms": (t, "ms", len(batches)),
         "rows_per_s": (1000.0 * sum(u["rows"] for u in units) / sum(lat), "rows/s", len(lat))}
    extra = {"batch_tail_percentile": (pct, "pct", len(batches)),
             "error_rate": (raw["failed"] / max(1, raw["attempted"]), "ratio", raw["attempted"])}
    if w == "board":
        per_q = {}
        for u, v in zip(units, lat):
            per_q.setdefault(u["name"], []).append(v)
        med = {q: median(v) for q, v in per_q.items()}
        merges = per_q.get(BOARD_MERGE, [])
        m["batch_geomean_ms"] = (geomean(list(med.values())), "ms", len(med))
        extra["merge_p50_ms"] = (median(merges), "ms", len(merges))
        rel = [v for q, v in med.items() if q.startswith("q_")]
        cur = [v for q, v in med.items() if not q.startswith("q_")]
        extra.update({
            "query_total_s": (sum(med.values()) / 1000, "s", len(batches)),
            "query_geomean_ms": (m["batch_geomean_ms"][0], "ms", len(med)),
            "relational_s": (sum(rel) / 1000, "s", len(rel)),
            "curation_s": (sum(cur) / 1000, "s", len(cur)),
            "cold_pass_s": (sum(u["ms"] for u in raw["units"]
                                if u["kind"] == "warmup" and u["pass"] == 0) / 1000, "s", 1)})
    else:
        m["batch_geomean_ms"] = (geomean(lat), "ms", len(lat))
        if w == "cdc":
            merges = [u["merge_ms"] for u in units]
            extra["merge_p50_ms"] = (median(merges), "ms", len(merges))
        else:  # ingest has no merge; its Delta call is the sink's append
            writes = [u["write_ms"] for u in units]
            extra["write_p50_ms"] = (median(writes), "ms", len(writes))
        if len(lat) >= 10:
            d = len(lat) // 10
            extra["batch_p50_ms_first_decile"] = (median(lat[:d]), "ms", d)
            extra["batch_p50_ms_last_decile"] = (median(lat[-d:]), "ms", d)
    return m, extra


def self_times(spans, name):
    """Per unit: total duration of spans called `name` minus the part their
    direct children cover (ms)."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        if s[3] == name:
            covered = sum(c[5] - c[4] for c in children.get(s[0], []))
            out[s[2]] = out.get(s[2], 0.0) + (s[5] - s[4] - covered) / 1e6
    return out


PER_LAYER_FIELDS = {
    "sources.plan_ms": "sources.plan_ms", "sources.read_ms": "sources.read_ms",
    "sources.commit_ms": "sources.commit_ms", "sources.cdf_rows_per_batch": "sources.cdf_rows",
    "cdc.rows_in": "cdc.rows_in", "cdc.rows_out": "cdc.rows_out",
    "cdc.touched_files_share": "cdc.touched_files_share",
}
SPARK = ["jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "input_bytes", "task_skew"]
QUERY_PARTS = ["build_ms", "side_jobs", "analysis_ms", "optimization_ms", "planning_ms",
               "codegen_ms", "exec_ms"]
FACTS = ["sources.checkpoint_bytes", "delta.log_bytes", "delta.active_files", "delta.dv_files",
         "delta.removes_per_commit", "delta.bytes_per_input_byte"]


def per_layer(raw):
    """{name: (value, unit, samples)} for every per-layer metric; a metric of
    a layer the workload does not call reads 0 with 0 samples."""
    units = [u for u in workload_units(raw) if "rows" in u]
    m = {}

    def med(key, unit, rows=units):
        vals = [u[key] for u in rows if key in u]
        return (median(vals), unit, len(vals)) if vals else (0.0, unit, 0)

    # pipeline self time: runOnce minus the source, transform and sink calls,
    # over the measured units only
    measured = {s[2] for s in raw["spans"] if s[3] in ("batch", "round")}
    selfs = self_times(raw["spans"], "pipeline.runOnce")
    pv = [v for u, v in sorted(selfs.items()) if u in measured]
    m["pipeline.self_ms"] = (median(pv), "ms", len(pv))
    for name, key in PER_LAYER_FIELDS.items():
        unit = "ms" if name.endswith("_ms") else ("ratio" if "share" in name else "count")
        m[name] = med(key, unit)
    plans = [u["sources.plan_ms"] for u in units if "sources.plan_ms" in u]
    d = max(1, len(plans) // 10)
    m["sources.plan_ms_first_decile"] = (median(plans[:d]), "ms", min(d, len(plans)))
    m["sources.plan_ms_last_decile"] = (median(plans[-d:]), "ms", min(d, len(plans)))
    listed = sum(u.get("sources.listed", 0) for u in units)
    admitted = sum(u.get("sources.admitted", 0) for u in units)
    m["sources.listed_per_admitted"] = (listed / admitted if admitted else 0.0, "ratio", len(plans))
    writes = [u for u in units if "write_ms" in u]
    m["delta.write_ms"] = med("write_ms", "ms", writes)
    ck = [u for u in writes if u.get("version", 1) % 10 == 0]
    plain = [u for u in writes if u.get("version", 1) % 10 != 0]
    m["delta.write_ms_checkpoint"] = med("write_ms", "ms", ck)
    m["delta.write_ms_plain"] = med("write_ms", "ms", plain)
    facts = raw.get("facts", {})
    for f in FACTS:
        unit = "bytes" if f.endswith("bytes") else ("ratio" if "per" in f else "count")
        m[f] = (float(facts.get(f, 0.0)), unit, 1 if f in facts else 0)
    groups = [("", units)]
    if raw["workload"] == "board":
        groups += [("_relational", [u for u in units if u["group"] == "relational"]),
                   ("_curation", [u for u in units if u["group"] == "curation"])]
    else:
        groups += [("_relational", []), ("_curation", [])]
    for suffix, rows in groups:
        for part in QUERY_PARTS:
            key = f"queries.{part}"
            m[key + suffix] = med(key, "count" if part == "side_jobs" else "ms", rows)
    for s in SPARK:
        unit = "ms" if s.endswith("_ms") else ("bytes" if s.endswith("bytes") else
                                              ("ratio" if s == "task_skew" else "count"))
        m[f"spark.{s}"] = med(f"spark.{s}", unit)
    # tracing cost: main-thread time spent in the tracing itself, per unit, and
    # the traced headline to set against an untraced run's
    n = max(1, len(raw["units"]))
    m["trace.overhead_ms"] = (raw.get("trace_overhead_ms", 0.0) / n, "ms", len(raw["units"]))
    e2e, _ = end_to_end(raw)
    m["trace.batch_p50_ms"] = e2e["batch_p50_ms"]
    return m


# ---- main --------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "cdc", "board"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    def log(msg):
        print(msg, file=sys.stderr, flush=True)

    cp = build(log)
    t_start = time.time()  # a first run may build for longer; the limit is for the run
    work = os.path.join(WORK_DIR, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "input")
    try:
        gen.generate(a.workload, inputs, a.seed)
        log(f"inputs generated at +{time.time() - t_start:.1f} s")
        raw_path = os.path.join(work, "raw.json")
        args = ["--workload", a.workload, "--input", inputs, "--work", os.path.join(work, "state"),
                "--out", raw_path, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace),
                "--expected", os.path.join(HERE, "board_queries.json")]
        budget = TIME_LIMIT_S - (time.time() - t_start)
        rc = run_jvm(cp, args, work, budget)
        log(f"runner finished at +{time.time() - t_start:.1f} s")
        if rc != 0 or not os.path.exists(raw_path):
            with open(os.path.join(work, "runner.log")) as f:
                log(f.read()[-4000:])
            raise RuntimeError(f"runner exited with {rc}")
        with open(raw_path) as f:
            raw = json.load(f)
        # raw measurements (units, spans) of every run are kept for analysis
        os.makedirs(os.path.join(WORK_DIR, "raw"), exist_ok=True)
        shutil.copy(raw_path, os.path.join(
            WORK_DIR, "raw", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    finally:
        if os.path.exists(os.path.join(work, "runner.log")):
            shutil.copy(os.path.join(work, "runner.log"), os.path.join(WORK_DIR, "last-runner.log"))
        shutil.rmtree(work, ignore_errors=True)

    e2e, extra = end_to_end(raw)
    metrics = per_layer(raw) if a.trace else e2e
    correct = all(c["ok"] for c in raw["checks"])
    for c in raw["checks"]:
        print(f"check {c['name']}: {'PASS' if c['ok'] else 'FAIL'} {c['detail']}")
    for name, (v, unit, n) in sorted({**e2e, **extra}.items()):
        print(f"{a.workload} {name} = {v:.6g} {unit} (n={n})")
    if a.trace:
        for name, (v, unit, n) in sorted(metrics.items()):
            print(f"{a.workload} {name} = {v:.6g} {unit} (n={n})")
    print(json.dumps({
        "correct": correct, "attempted": raw["attempted"], "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))
    return 0 if correct and raw["failed"] == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # a failed run prints no result line
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(2)
