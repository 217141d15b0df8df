#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload nightly_batch|daily_serve \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It compiles the program (src/main/scala)
together with the harness (perfbench/harness) into .bench_build, generates
the seed's inputs, runs the workload in one JVM on local[nproc], checks
every output against DuckDB, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"} -- the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The full artifact
(per-op ledger, spans, inputs, host) lands in the run directory it names
on stderr.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_home():
    """$SPARK_HOME, else the distribution of the first spark-submit on PATH
    that sits beside its jars."""
    dirs = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(":")
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    return next((d for d in dirs if d and glob.glob(os.path.join(d, "jars", "spark-sql_*.jar"))),
                None)


SPARK_HOME = spark_home()
SPARK_JARS = os.path.join(SPARK_HOME or "", "jars")
# --seconds / PASS_SECONDS (rounded, at least one) is how many passes a run
# makes. A warm nightly_batch pass takes about 14 s on a 4-core host and a
# daily_serve pass about 4 s, so a 16 s run makes two and four (daily_serve's
# short ops need more samples to be steady): one run stays near a minute,
# set-up and check included.
PASS_SECONDS = {"nightly_batch": 8, "daily_serve": 4}
JVM_TIMEOUT_S = 150


def _units(spec):
    return {name: unit for unit, names in spec for name in names.split()}


# Per-layer metrics (traced runs), by unit. Every one of them is reported on
# every workload; one a workload does not exercise reads 0.
PER_LAYER_UNITS = _units([
    ("s", "entry.build_s plan.analysis_s plan.optimize_s plan.physical_s exec.action_s "
          "exec.cpu_s exec.run_s exec.gc_s exec.sched_wait_s shuffle.fetch_wait_s "
          "sources.append_s sources.restate_s graft.drop_s host.calib_s_start "
          "host.calib_s_end serve.append_p50_s serve.append_p90_s serve.lookup_p50_s "
          "serve.lookup_p90_s span.build_self_s span.action_self_s "
          "span.drop_self_s span.job_self_s span.stage_s"),
    ("count", "entry.build_jobs plan.exchanges plan.windows plan.sorts plan.smj plan.bhj "
              "plan.expressions plan.graft_exprs exec.jobs exec.stages exec.tasks "
              "exec.failed_tasks shuffle.records sources.input_records "
              "sources.files_read_per_lookup sources.files_written graft.persisted_rdds_peak"),
    ("B", "exec.peak_exec_mem_bytes shuffle.write_bytes shuffle.read_bytes spill.disk_bytes "
          "spill.mem_bytes sources.input_bytes sources.output_bytes "
          "sources.scratch_bytes_left graft.storage_bytes_peak"),
    ("ratio", "exec.busy_frac trace.overhead_frac serve.store_bytes_per_input_byte"),
])
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def run_proc(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def sources():
    files = []
    for base in ("src/main/scala", "src/main/resources", "perfbench/harness"):
        for dirpath, _, names in os.walk(os.path.join(ROOT, base)):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def build():
    """Compile program + harness with scalac (the compiler ships in the
    Spark distribution); skipped when the sources' hash is unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log("compiling program and harness")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [f for f in srcs if f.endswith(".scala")]
    cp = os.path.join(SPARK_JARS, "*")
    with open(os.path.join(BUILD, "scalac.args"), "w") as f:
        f.write("\n".join(scala))
    with open(os.path.join(BUILD, "scalac.log"), "w") as out:
        rc = run_proc(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                       "-nowarn", "-classpath", cp, "-d", tmp,
                       "@" + os.path.join(BUILD, "scalac.args")],
                      600, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"compile failed (see {BUILD}/scalac.log)", 1)
    res = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def jvm(classes, workload, inputs, run_dir, passes, trace):
    """Run the workload in one JVM; return its result.json."""
    work, out, local = (os.path.join(run_dir, d) for d in ("work", "out", "local"))
    for d in (work, out, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ, GRAFT_LOCAL_DIR=local, SPARK_LOCAL_DIRS=local)
    # a fixed young generation keeps peak RSS from swinging with G1's sizing
    cmd = (["java", "-Xmx3g", "-Xmn512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={local}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{os.path.join(SPARK_JARS, '*')}", "graftbench.Main",
              "--workload", workload, "--inputs", inputs, "--work", work,
              "--out", out, "--passes", str(passes), "--trace", str(trace),
              "--cpus", str(os.cpu_count() or 4)])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lg:
        rc = run_proc(cmd, JVM_TIMEOUT_S, stdout=lg, stderr=subprocess.STDOUT, env=env)
    if rc != 0:
        fail(f"{workload} JVM {'timed out' if rc is None else f'exited {rc}'} (log: {log_path})", 1)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    # what the program left in its scratch directory after it exited
    res["scratch_bytes_left"] = sum(os.path.getsize(p) for p in
                                    glob.glob(os.path.join(local, "**"), recursive=True)
                                    if os.path.isfile(p))
    res["out"] = out
    shutil.rmtree(local, ignore_errors=True)
    return res


def passes(res, traced):
    return [p for p in res["passes"] if p["traced"] == traced]


def ops(res, traced=None):
    return [op for p in res["passes"] if traced is None or p["traced"] == traced
            for op in p["ops"]]


def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def input_rows(workload, manifest):
    m = manifest["inputs"]
    if workload == "daily_serve":
        return m["appended_rows"] + m["restated_rows"]
    return sum(rows for rows, _ in m.values())


def run_checks(workload, inputs, res, tmp):
    """Failed-check reasons keyed by op id (ops with no check are absent)."""
    bad = {}
    if workload == "daily_serve":
        lookups, finals = check.check_serve(inputs, res["serve"], tmp)
        for p in res["passes"]:
            for op in p["ops"]:
                if op["kind"] == "lookup":
                    why = lookups.get(op["ref"], "NOT_CHECKED")
                else:
                    # a pass's store is the product of its appends and restatements
                    why = finals.get(str(p["pass"]), "NOT_CHECKED")
                    why = why and "FINAL_STORE: " + why
                if why and op["ok"]:
                    bad[op["id"]] = why
    else:
        keys = sorted({op["key"] for op in ops(res)})
        reasons = check.check_keys(inputs, os.path.join(res["out"], "check"), keys, tmp)
        for op in ops(res):
            if reasons.get(op["key"]):
                bad[op["id"]] = reasons[op["key"]]
    return bad


def union_len(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def span_self_times(out_dir, origin_ms):
    """Self time per layer from the span file: a span's duration minus the
    part of it its children cover (op phases <- Spark jobs <- stages)."""
    spans = [json.loads(line) for line in open(os.path.join(out_dir, "spans.jsonl")) if line.strip()]
    iv = {}
    for s in spans:
        if "start_ms" in s:
            if s["start_ms"] < 0 or s["end_ms"] < 0:
                continue
            a, b = (s["start_ms"] - origin_ms) / 1e3, (s["end_ms"] - origin_ms) / 1e3
        else:
            a, b = s["start_s"], s["end_s"]
        iv[s["id"]] = (s["name"], s["parent"], a, b)
    children = {}
    for sid, (_, parent, a, b) in iv.items():
        children.setdefault(parent, []).append((a, b))
    self_t = {}
    for sid, (name, _, a, b) in iv.items():
        kids = [(max(a, x), min(b, y)) for x, y in children.get(sid, []) if min(b, y) > max(a, x)]
        self_t[name] = self_t.get(name, 0.0) + (b - a) - union_len(kids)
    return {
        "span.build_self_s": self_t.get("entry.build", 0.0),
        "span.action_self_s": self_t.get("exec.action", 0.0),
        "span.drop_self_s": self_t.get("graft.drop", 0.0),
        "span.job_self_s": self_t.get("spark.job", 0.0),
        "span.stage_s": self_t.get("spark.stage", 0.0),
    }


def end_to_end(workload, res, manifest):
    # every pass runs the same ops in the same order: an op's latency is its
    # mean over the passes, and op_p50_s the median over the ops
    runs = [p["ops"] for p in passes(res, False)]
    lat = [statistics.mean(r[i]["latency_s"] for r in runs) for i in range(len(runs[0]))]
    makespan = statistics.median(p["makespan_s"] for p in passes(res, False))
    return {
        "setup_s": (res["setup_s"], "s"),
        "makespan_s": (makespan, "s"),
        "rows_per_s": (input_rows(workload, manifest) / makespan, "rows/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
    }


def per_layer(workload, res, manifest):
    allops = ops(res, True)
    g = res["groups"]

    def total(key, phases=("build", "action", "drop"), kinds=None, agg=sum):
        vals = [g.get(f"{op['id']}/{ph}", {}).get(key, 0.0) for op in allops
                if kinds is None or op["kind"] in kinds for ph in phases]
        return agg(vals) if vals else 0.0

    makespan = statistics.median(p["makespan_s"] for p in passes(res, True))
    base_makespan = passes(res, False)[-1]["makespan_s"]
    lookups = [op for op in allops if op["kind"] == "lookup"]
    appends = [op["latency_s"] for op in allops if op["kind"] == "append"]
    m = {
        "entry.build_s": sum(op["build_s"] for op in allops),
        "entry.build_jobs": total("jobs", ("build",)),
        "plan.analysis_s": total("analysis_s"),
        "plan.optimize_s": total("optimize_s"),
        "plan.physical_s": total("physical_s"),
    }
    for k in ("exchanges", "windows", "sorts", "smj", "bhj", "expressions", "graft_exprs"):
        m[f"plan.{k}"] = total(k, ("build", "action"))
    m["exec.action_s"] = sum(op["action_s"] for op in allops)
    for k in ("jobs", "stages", "tasks", "cpu_s", "run_s", "gc_s", "failed_tasks", "sched_wait_s"):
        m[f"exec.{k}"] = total(k)
    m["exec.busy_frac"] = m["exec.run_s"] / (makespan * res["cores"])
    m["exec.peak_exec_mem_bytes"] = total("peak_exec_mem_bytes", agg=max)
    for k, name in (("shuffle_write_bytes", "shuffle.write_bytes"),
                    ("shuffle_read_bytes", "shuffle.read_bytes"),
                    ("shuffle_records", "shuffle.records"),
                    ("fetch_wait_s", "shuffle.fetch_wait_s"),
                    ("spill_disk_bytes", "spill.disk_bytes"),
                    ("spill_mem_bytes", "spill.mem_bytes"),
                    ("input_bytes", "sources.input_bytes"),
                    ("input_records", "sources.input_records")):
        m[name] = total(k)
    m["sources.files_read_per_lookup"] = (
        total("files_read", ("action",), kinds=("lookup",)) / len(lookups) if lookups else 0.0)
    m["sources.append_s"] = sum(appends)
    m["sources.restate_s"] = sum(op["latency_s"] for op in allops if op["kind"] == "restate")
    m["sources.output_bytes"] = total("output_bytes", ("action",), kinds=("append", "restate"))
    m["sources.files_written"] = total("files_written", ("action",), kinds=("append", "restate"))
    m["sources.scratch_bytes_left"] = res["scratch_bytes_left"]
    m["graft.drop_s"] = sum(op["drop_s"] for op in allops)
    m["graft.storage_bytes_peak"] = max(op["storage_bytes"] for op in allops)
    m["graft.persisted_rdds_peak"] = max(op["persisted_rdds"] for op in allops)
    m["host.calib_s_start"] = res["calib_s_start"]
    m["host.calib_s_end"] = res["calib_s_end"]
    m["trace.overhead_frac"] = (makespan - base_makespan) / base_makespan
    m["serve.append_p50_s"] = statistics.median(appends) if appends else 0.0
    m["serve.append_p90_s"] = pct(appends, 0.9)
    m["serve.lookup_p50_s"] = statistics.median(op["latency_s"] for op in lookups) if lookups else 0.0
    m["serve.lookup_p90_s"] = pct([op["latency_s"] for op in lookups], 0.9)
    m["serve.store_bytes_per_input_byte"] = store_ratio(workload, res, manifest)
    m.update(span_self_times(res["out"], res["origin_epoch_ms"]))
    assert set(m) == set(PER_LAYER_UNITS), set(m) ^ set(PER_LAYER_UNITS)
    return {k: (m[k], u) for k, u in PER_LAYER_UNITS.items()}


def store_ratio(workload, res, manifest):
    if workload != "daily_serve":
        return 0.0
    last = res["serve"]["stores"][str(res["passes"][-1]["pass"])]
    size = sum(os.path.getsize(f) for f in glob.glob(f"{last}/**/*.parquet", recursive=True))
    return size / manifest["inputs"]["appended_bytes"]


def ledger(res):
    """One row per traced op: where its time went."""
    g = res["groups"]
    rows = []
    for op in ops(res, True):
        def t(k, phases=("build", "action", "drop")):
            return sum(g.get(f"{op['id']}/{ph}", {}).get(k, 0.0) for ph in phases)
        rows.append({
            "op": op["id"], "key": op["key"], "kind": op["kind"], "ok": op["ok"],
            "latency_s": op["latency_s"], "build_s": op["build_s"], "action_s": op["action_s"],
            "plan_s": t("analysis_s") + t("optimize_s") + t("physical_s"),
            "build_jobs": t("jobs", ("build",)), "stages": t("stages"), "tasks": t("tasks"),
            "cpu_s": t("cpu_s"), "shuffle_bytes": t("shuffle_write_bytes"),
            "exchanges": t("exchanges", ("build", "action")),
            "windows": t("windows", ("build", "action")),
        })
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PASS_SECONDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("no graft sources under src/main/scala: run from the root of a graft checkout")
    if not SPARK_HOME:
        fail("no Spark distribution found: set SPARK_HOME")

    classes = build()
    t0 = time.time()
    seed_root = os.path.join(BUILD, "inputs", f"seed-{a.seed}", a.workload)
    manifest = gen.generate(a.workload, a.seed, seed_root)
    gen_s = time.time() - t0
    inputs = os.path.join(seed_root, "inputs")

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    n_passes = max(1, round(a.seconds / PASS_SECONDS[a.workload]))
    res = jvm(classes, a.workload, inputs, run_dir, n_passes, a.trace)

    bad = run_checks(a.workload, inputs, res, os.path.join(run_dir, "duckdb"))
    for op in ops(res):
        if not op["ok"]:
            bad[op["id"]] = "THREW: " + op["error"]
    attempted = len(ops(res))
    metrics = (per_layer(a.workload, res, manifest) if a.trace
               else end_to_end(a.workload, res, manifest))
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "passes": n_passes, "cores": res["cores"], "heap_mb": res["heap_mb"],
        "host": {"calib_s_start": res["calib_s_start"], "calib_s_end": res["calib_s_end"],
                 "cores": res["cores"], "heap_mb": res["heap_mb"]},
        "inputs": manifest, "input_rows_per_pass": input_rows(a.workload, manifest),
        "generate_s": gen_s, "setup_s": res["setup_s"],
        "op_samples": attempted, "ops_per_pass": len(passes(res, False)[0]["ops"]),
        "failed": bad,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "ledger": ledger(res) if a.trace else [],
        "ops": ops(res),
        "spans": os.path.join(res["out"], "spans.jsonl") if a.trace else None,
    }
    with open(os.path.join(run_dir, "artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    # keep the artifact and spans, drop the bulky inputs of the run
    for d in ("work", "duckdb", os.path.join("out", "check")):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    log(f"artifact: {run_dir}/artifact.json")
    for k, why in sorted(bad.items()):
        log(f"FAILED {k}: {why}")
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
