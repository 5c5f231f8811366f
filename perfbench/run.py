#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload operators|dialect_rw \\
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine from source (see
build.py), generates the seeded sf0.1 inputs into a fresh run directory,
runs the workload in one JVM (Spark `local[nproc]`, one client thread),
checks every timed output, and prints a record line followed by the
result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer split of a second, traced window. Exits non-zero when any
operation failed or returned a wrong answer. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170  # the whole run, build excluded
OPERATOR_SAMPLE = 8  # strata of the operator pool, one panel query from each
TABLES = {"operators": tuple(gen.ROWS), "dialect_rw": ("orders", "lineitem", "customer")}
READS = {"query", "select", "nl", "readback"}
WRITES = {"insert", "update", "delete", "upload"}


def log(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.stderr.flush()


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def cpu_ticks():
    """(steal, total) jiffies of the host's aggregate cpu line."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def pct(values, q):
    """Nearest-rank percentile of a non-empty list."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


# ---- plans -------------------------------------------------------------------

def operators_plan(seed):
    """The panel is the median-cost query of each of the pool's cost
    strata; the seed draws the data and the order the panel runs in. A
    seeded draw of the panel would add which-queries-were-drawn to the
    run-to-run spread: pool costs differ fourfold, and a query's cost in
    a run tracks its pool cost only loosely. One and a half passes warm
    up; the timed loop runs seeded permutations of the panel."""
    import numpy as np
    with open(os.path.join(HERE, "operators_pool.json")) as f:
        pool = json.load(f)["queries"]
    names = sorted(pool, key=lambda n: (pool[n], n))
    strata = np.array_split(np.arange(len(names)), OPERATOR_SAMPLE)
    sample = [names[int(s[len(s) // 2])] for s in strata]
    rng = np.random.default_rng([seed, 4])
    sequence = []
    for _ in range(40):
        sequence += [sample[int(i)] for i in rng.permutation(len(sample))]
    return {"sample": sample, "sequence": sequence, "warm_ops": 3 * len(sample) // 2}


def dialect_job(seed, data_dir, run_root):
    base, uploads = gen.upload_plan(seed, data_dir, os.path.join(run_root, "uploads"))
    # the first one and a half blocks of the session warm up
    return {"statements": gen.dialect_plan(seed, data_dir, uploads), "base": base,
            "warm_ops": 18}


# ---- checks ------------------------------------------------------------------

def duck(data_dir):
    import duckdb
    con = duckdb.connect(config={"temp_directory": os.path.join(data_dir, "duckdb.tmp")})
    for t in gen.ROWS:
        if not os.path.exists(os.path.join(data_dir, t + ".parquet")):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def _canon(rows):
    def key(r):
        return tuple((k, round(v, 4) if isinstance(v, float) else str(v))
                     for k, v in sorted(r.items()))
    return sorted(rows, key=key)


def same_rows(got, want):
    if len(got) != len(want):
        return False
    for a, b in zip(_canon(got), _canon(want)):
        if sorted(a) != sorted(b):
            return False
        for k in a:
            x, y = a[k], b[k]
            if isinstance(x, (int, float)) and isinstance(y, (int, float)) \
                    and not isinstance(x, bool):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif str(x) != str(y):
                return False
    return True


def check_operators(out, con):
    oracle = out["extra"]["oracle_sql"]
    want = {}
    for name in {o["label"] for o in out["ops"]}:
        sql = oracle.get(name)
        want[name] = (con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
                      if sql else None)
    bad = []
    for o in out["ops"]:
        if o["error"] is None and want[o["label"]] is not None \
                and o["result"] == want[o["label"]]:
            continue
        bad.append((o["i"], o["label"], o["error"] or
                    f"count {o['result']} != oracle {want[o['label']]}"))
    return bad


def check_dialect(out, stmts, warm, con):
    bad = []
    for o in out["ops"]:
        s = stmts[warm + o["i"]]
        assert s["sql"] == o["label"], "operation order diverged from the plan"
        if o["error"] is not None:
            bad.append((o["i"], s["sql"], o["error"]))
            continue
        res, chk = o["result"], s["check"]
        if s["kind"] == "upload":
            try:
                body = json.loads(res["body"])
                ok = res["status"] == 200 and body.get("rowsImported") == chk["rows"]
            except (KeyError, TypeError, ValueError):
                ok = False
        elif "message" in chk:
            ok = res.get("message") == chk["message"]
        else:
            got = [json.loads(r) for r in res.get("rows", [])] if "rows" in res else None
            if got is None:
                ok = False
            elif "expect" in chk:
                ok = same_rows(got, chk["expect"])
            else:
                cur = con.execute(chk["oracle"])
                cols = [d[0] for d in cur.description]
                ok = same_rows(got, [dict(zip(cols, r)) for r in cur.fetchall()])
        if not ok:
            bad.append((o["i"], s["sql"], f"wrong answer: {str(res)[:300]}"))
    return bad


# ---- metrics -----------------------------------------------------------------

def e2e_metrics(out, ops, window, setup_s, plan, warm):
    reads = [o["wallMs"] for o in ops if o["kind"] in READS]
    writes = [o["wallMs"] for o in ops if o["kind"] in WRITES]
    n = len(ops)
    m = {"setup_s": (setup_s, "s"),
         "ops_per_s": (n / window["wall_s"], "ops/s"),
         "query_p50_ms": (statistics.median(reads), "ms"),
         "cpu_ms_per_op": (1e3 * window["cpu_s"] / n, "ms"),
         "live_heap_mb": (out["live_heap_mb"], "MB")}
    record = dict(m)
    record["peak_rss_mb"] = (out["peak_rss_mb"], "MB")
    counts = {"query": len(reads), "write": len(writes)}
    if len(reads) >= 100:
        record["query_p90_ms"] = (pct(reads, 0.9), "ms")
    if writes:
        record["write_p50_ms"] = (statistics.median(writes), "ms")
        if len(writes) >= 100:
            record["write_p90_ms"] = (pct(writes, 0.9), "ms")
    up = [(o, plan[warm + o["i"]]) for o in ops if o["kind"] == "upload"]
    if up:
        record["ingest_rows_per_s"] = (sum(u["rows"] for _, u in up) /
                                       (sum(o["wallMs"] for o, _ in up) / 1e3), "rows/s")
        ex = out["extra"]
        record["stored_bytes_per_input_byte"] = (ex["stored_bytes"] / ex["uploaded_bytes"],
                                                 "ratio")
    return m, record, counts


LAYER_MEAN = [  # per-op means of the traced window: (name, unit)
    ("queries.build_ms", "ms/op"), ("queries.build_jobs", "1/op"),
    ("queries.build_job_ms", "ms/op"), ("queries.build_driver_ms", "ms/op"),
    ("catalyst.analysis_ms", "ms/op"), ("catalyst.optimization_ms", "ms/op"),
    ("catalyst.planning_ms", "ms/op"),
    ("spark.jobs", "1/op"), ("spark.stages", "1/op"), ("spark.tasks", "1/op"),
    ("spark.job_ms", "ms/op"), ("spark.executor_run_ms", "ms/op"),
    ("spark.executor_cpu_ms", "ms/op"), ("spark.gc_ms", "ms/op"),
    ("spark.input_bytes", "B/op"), ("spark.shuffle_read_bytes", "B/op"),
    ("spark.shuffle_write_bytes", "B/op"), ("spark.spill_bytes", "B/op"),
    ("spark.storage_bytes_held", "B/op"), ("functions.codegen_failures", "1/op"),
    ("dialect.parse_ms", "ms/op"), ("exec.select_build_ms", "ms/op"),
    ("exec.insert_ms", "ms/op"), ("exec.update_ms", "ms/op"),
    ("exec.delete_ms", "ms/op"), ("catalog.load_ms", "ms/op"),
    ("catalog.write_ms", "ms/op"), ("catalog.files", "1/op"),
    ("catalog.bytes_written", "B/op"), ("nl.translate_ms", "ms/op"),
    ("nl.translate_jobs", "1/op"), ("ingest.count_ms", "ms/op"),
    ("Server.other_ms", "ms/op"), ("op.unattributed_ms", "ms/op")]


def layer_metrics(out, traced, untraced):
    def tot(k, ops=traced):
        return sum(o["layers"].get(k, 0.0) for o in ops)
    n = len(traced)
    m = {k: (tot(k) / n, u) for k, u in LAYER_MEAN}
    wall = tot("op.wall_ms")
    m["queries.build_share"] = (tot("queries.build_ms") / wall, "ratio")
    cap = tot("spark.core_capacity_ms")
    m["spark.core_util"] = (tot("spark.executor_run_ms") / cap if cap else 0.0, "ratio")
    ups = [o for o in traced if o["kind"] == "upload"]
    m["ingest.scan_jobs_per_upload"] = (
        tot("ingest.scan_jobs", ups) / len(ups) if ups else 0.0, "1/upload")
    ph = out["phases"]
    m["setup.session_s"] = (ph["session_s"], "s")
    m["setup.data_s"] = (ph["data_gen_s"] + ph.get("data_s", 0.0), "s")
    m["setup.fixture_s"] = (ph.get("fixture_s", 0.0), "s")
    m["setup.warmup_s"] = (ph.get("warmup_s", 0.0), "s")
    m["Tables.fixture_builds"] = (float(out["extra"].get("fixture_builds", 0)), "count")
    m["op.unattributed_share"] = (tot("op.unattributed_ms") / wall, "ratio")
    # tracing overhead: traced op wall against the untraced window's mean
    # wall for the same query (operators) or operation kind
    key = (lambda o: o["label"]) if out["workload"] == "operators" else (lambda o: o["kind"])
    base = {}
    for o in untraced:
        base.setdefault(key(o), []).append(o["wallMs"])
    pairs = [(o["wallMs"], statistics.mean(base[key(o)])) for o in traced if key(o) in base]
    m["trace.overhead_share"] = (
        sum(a for a, _ in pairs) / sum(b for _, b in pairs) - 1 if pairs else 0.0, "ratio")
    return m


# ---- main --------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["operators", "dialect_rw"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build.build()  # exits non-zero outside a full checkout
    t_setup = time.time()  # set-up runs from here to the first timed operation
    load0, ticks0 = loadavg(), cpu_ticks()
    cores = len(os.sched_getaffinity(0))
    bdir = build.build_dir()
    root = os.path.join(bdir, "runs", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    data_dir = os.path.join(root, "data")
    for d in ("data", "tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(root, d))
    try:
        t = time.time()
        sizes = gen.tables(a.seed, data_dir, TABLES[a.workload])
        job = {"workload": a.workload, "data_dir": data_dir, "run_root": root,
               "cores": cores, "seconds": a.seconds, "trace": a.trace,
               "out": os.path.join(root, "out.json")}
        if a.workload == "operators":
            job.update(operators_plan(a.seed))
        else:
            job.update(dialect_job(a.seed, data_dir, root))
        data_gen_s = time.time() - t
        job_file = os.path.join(root, "job.json")
        gen.save_json(job, job_file)
        cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={root}/tmp"]
               + JVM_OPENS + ["-cp", classpath, "graftbench.Main", job_file])
        env = dict(os.environ)
        env.pop("GRAFT_OLLAMA_URL", None)  # NL stays on the deterministic path
        env.pop("GRAFT_BIND_HOST", None)
        env["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
        jvm_log = os.path.join(root, "jvm.log")
        with open(jvm_log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                 start_new_session=True)
            try:
                rc = p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_setup)))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                rc = "timeout"
        if rc != 0:
            with open(jvm_log) as f:
                sys.stderr.write(f.read()[-3000:])
            log(f"engine process failed ({rc})")
            return 3
        with open(job["out"]) as f:
            out = json.load(f)
        out["phases"]["data_gen_s"] = data_gen_s
        for e in out["warm_errors"]:
            log(f"warm-up operation failed: {e[:300]}")
        setup_s = out["first_op_epoch_ms"] / 1e3 - t_setup

        if a.workload == "operators":
            bad = check_operators(out, duck(data_dir))
        else:
            bad = check_dialect(out, job["statements"], job["warm_ops"], duck(data_dir))
        for i, what, why in bad[:10]:
            log(f"op {i} failed: {what[:120]}: {why[:300]}")

        ops = out["ops"]
        untraced = [o for o in ops if not o["traced"]]
        traced = [o for o in ops if o["traced"]]
        plan = job.get("statements", [])
        metrics, record, counts = e2e_metrics(out, untraced, out["windows"][0], setup_s,
                                              plan, job["warm_ops"])
        record["failed_frac"] = (len(bad) / len(ops), "ratio")
        ticks1 = cpu_ticks()
        host = {"cores": cores, "loadavg_start": load0, "loadavg_end": loadavg(),
                "steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
                "process_cpu_s": out["process_cpu_s"],
                "executor_cpu_s": out["executor_cpu_s"],
                "windows": out["windows"]}
        inputs = {"tables": sizes}
        done = [u for u in plan[:job["warm_ops"] + len(ops)] if u["kind"] == "upload"]
        if done:
            inputs["uploads"] = {"files": len(done), "rows": sum(u["rows"] for u in done),
                                 "bytes": sum(u["bytes"] for u in done)}
        if a.trace:
            metrics = layer_metrics(out, traced, untraced)
            trace_dir = os.path.join(bdir, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            gen.save_json({"metrics": metrics, "spans": out["spans"],
                           "ops": [{k: o[k] for k in ("i", "kind", "label", "startMs",
                                                      "wallMs", "traced", "layers")}
                                   for o in ops]},
                          os.path.join(trace_dir, f"{a.workload}-s{a.seed}.json"))
        print("perfbench record: " + json.dumps({
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in record.items()},
            "samples": counts, "setup": out["phases"], "host": host, "inputs": inputs}))
        print(json.dumps({
            "correct": not bad, "attempted": len(ops), "failed": len(bad),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        return 1 if bad else 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
