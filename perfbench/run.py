#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft's sources and the
benchmark harness with sbt (`perfbench/build.sbt`, cached by source hash
under `.bench_build/perfbench/`), then every run: generates the workload's
inputs from the seed, starts one JVM with a `local[nproc]` graft session,
sets up and warms up, measures `--seconds` of op calls, and checks every
result outside the timed region (registry ops against their DuckDB oracle,
ingest state against a from-scratch rebuild). The last stdout line is the
result object; the line before it is the host shape. With `--trace 1` it
reports the per-layer metrics instead of the end-to-end ones and writes
the per-op breakdown and spans next to the run's inputs.
"""
import argparse
import glob
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

RELATIONAL_OPS = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q18_large_orders", "q_cartprod_to_join",
    "q_indexby_lookup", "q_topk_per_key"]

WORKLOADS = {
    "relational_interactive": {
        "ops": RELATIONAL_OPS, "prepared": ["prepared_revenue", "prepared_priority"],
        "tables": ["region", "nation", "customer", "supplier", "part", "orders",
                   "lineitem", "events"],
        "passes": 200},
    "incremental_ingest": {"batches": 24, "events": 100_000, "customers": 15_000,
                           "updates_per_batch": 100},
}
END_TO_END = {"setup_s": "s", "ops_per_s": "ops/s", "op_latency_p50_s": "s",
              "op_latency_p90_s": "s", "cpu_s_per_op": "s", "heap_live_mb": "MB",
              "ingest_rows_per_s": "rows/s"}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RUN_DEADLINE_S = 175          # a run that did not build must end by then
BUILD_DEADLINE_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def run_proc(cmd, cwd, timeout, stdout, stderr, env=None):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout:.0f} s and was killed")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def sources_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(cache, deadline):
    """Compile graft + the harness once per source hash; return the
    classpath and whether this call built it."""
    cp_file = os.path.join(cache, f"classpath-{sources_hash()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), False
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name a Spark 4 install")
    log("building graft and the benchmark harness with sbt ...")
    out = os.path.join(cache, "build.log")
    with open(out, "w") as fh:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                       "compile", "export Runtime/fullClasspath"],
                      HERE, deadline - time.time(), fh, subprocess.STDOUT)
    with open(out) as fh:
        lines = fh.read().splitlines()
    if rc != 0:
        fail("sbt build failed:\n" + "\n".join(lines[-30:]))
    cp = [ln for ln in lines if ln.count(os.pathsep) > 3 and not ln.startswith("[")]
    if not cp:
        fail("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip(), True


def host_shape():
    def meminfo(key):
        try:
            with open("/proc/meminfo") as f:
                for ln in f:
                    if ln.startswith(key + ":"):
                        return int(ln.split()[1])
        except OSError:
            return -1
        return -1
    return {"nproc": os.cpu_count(), "mem_total_kb": meminfo("MemTotal"),
            "loadavg_start": list(os.getloadavg())}


def median_gen(workload, seed, work, spec, reps):
    """Generate the inputs `reps` times (byte-identical each time) and
    return the plan and the median generation time."""
    times = []
    for _ in range(reps):
        shutil.rmtree(work, ignore_errors=True)
        t0 = time.perf_counter()
        plan = gen.generate(workload, seed, work, spec)
        times.append(time.perf_counter() - t0)
    return plan, sorted(times)[len(times) // 2]


def oracle_checks(raw, data, cache_key):
    """Compare each registry op's output with its DuckDB oracle over the
    same generated files (the files as they were when the op ran).

    Generated content does not depend on the seed (only row order and
    file split do), so an oracle answer over the unmodified tables is
    cached under the generator's and the query's hash."""
    import duckdb
    import pandas as pd
    results = []
    for c in raw["checks"]:
        if c["kind"] != "oracle":
            results.append(c)
            continue
        try:
            parts = sorted(glob.glob(os.path.join(c["out"], "*.parquet")))
            got = canon(pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True))
            cached = None if c.get("files") else os.path.join(
                ROOT, ".bench_build", "perfbench", "oracle",
                hashlib.sha256((cache_key + c["sql"]).encode()).hexdigest()[:24] + ".json")
            if cached and os.path.exists(cached):
                with open(cached) as f:
                    cols, rows = json.load(f)
                want = (cols, [tuple(r) for r in rows])
            else:
                con = duckdb.connect()
                try:
                    for t in glob.glob(os.path.join(data, "*.parquet")):
                        name = os.path.basename(t)[:-len(".parquet")]
                        files = (c.get("files") or {}).get(name) or sorted(
                            glob.glob(os.path.join(t, "*.parquet")))
                        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({files!r})")
                    want = canon(con.execute(c["sql"]).df())
                finally:
                    con.close()
                if cached:
                    os.makedirs(os.path.dirname(cached), exist_ok=True)
                    with open(cached, "w") as f:
                        json.dump(want, f)
            ok, why = compare(got, want)
        except Exception as e:  # noqa: BLE001 - every failure is reported by op
            ok, why = False, f"{type(e).__name__}: {e}"
        results.append({**c, "ok": ok, **({} if ok else {"error": why})})
    return results


def canon(df):
    """Columns by name and rows sorted, with the value normalisation
    `scripts/check.py` applies."""
    import datetime
    import decimal
    import math

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, decimal.Decimal):
            return "dec:" + str(v)
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        if hasattr(v, "tolist"):
            return repr(v.tolist())
        return str(v)
    cols = sorted(df.columns)
    return cols, sorted(tuple(norm(x) for x in r)
                        for r in df[cols].itertuples(index=False, name=None))


def compare(got, want):
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return False, f"columns {gc} != oracle {wc}"
    if gr != wr:
        diff = [(a, b) for a, b in zip(gr, wr) if a != b][:2]
        return False, f"rows {len(gr)} vs oracle {len(wr)}; first diffs {diff}"
    return True, ""


def rows_read(sql, table_rows):
    """Input rows an op reads: the rows of every generated table its
    oracle names."""
    names = set(re.findall(r"[a-z_]+", sql.lower()))
    return sum(n for t, n in table_rows.items() if t in names)


def end_to_end(raw, setup_s, checks, table_rows):
    ok_calls = [c for c in raw["calls"] if c["ok"]]
    walls = [c["wall_s"] for c in ok_calls]
    p50, n, _ = stats.percentile(walls, 0.5)
    p90, _, trusted = stats.percentile(walls, 0.9)
    if raw.get("stream") is not None:
        rows = raw["rows_absorbed"]
    else:
        sql = {c["op"]: c.get("sql", "") for c in checks}
        rows = sum(rows_read(sql.get(c["op"], ""), table_rows) for c in ok_calls)
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": len(ok_calls) / raw["timed_s"],
        "op_latency_p50_s": p50,
        "op_latency_p90_s": p90,
        "cpu_s_per_op": raw["cpu_s"] / len(raw["calls"]),
        "heap_live_mb": raw["heap_live_bytes"] / 2 ** 20,
        "ingest_rows_per_s": rows / raw["timed_s"],
    }
    return metrics, {"latency_samples": n, "p90_trusted": trusted,
                     "peak_rss_mb": raw["vm_hwm_kb"] / 1024.0}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src: run from a repository checkout")
    cache = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(cache, exist_ok=True)
    classpath, built = build(cache, t_start + BUILD_DEADLINE_S)
    deadline = (time.time() if built else t_start) + RUN_DEADLINE_S

    host = host_shape()
    cores = host["nproc"]
    host["spark_cores"] = cores
    spec = WORKLOADS[args.workload]
    work = os.path.join(cache, f"{args.workload}-{args.seed}")
    plan, gen_s = median_gen(args.workload, args.seed, work, spec, reps=3)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)

    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx8g", f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
              f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "graft.perfbench.Main",
              "--plan", os.path.join(work, "plan.json"), "--work", work,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores)])
    t_launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as fh:
        rc = run_proc(cmd, work, deadline - time.time(), fh, subprocess.STDOUT)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read().splitlines()[-25:]
        fail(f"benchmark JVM exited with {rc}:\n" + "\n".join(tail))
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)

    setup_s = (gen_s + (raw["t_session_ms"] / 1e3 - t_launch)
               + raw["prepare_s"] + raw["warmup_s"])
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        cache_key = hashlib.sha256(f.read() + json.dumps(
            [args.workload, {k: v for k, v in spec.items() if k != "passes"}],
            sort_keys=True).encode()).hexdigest()
    checks = oracle_checks(raw, plan["data"], cache_key)
    attempted, failed, bad = stats.count_failures(raw["calls"], checks, raw["warmup_failures"])
    for c in checks:
        if not c.get("ok"):
            log(f"check failed: {c['op']} {c.get('state', '')} {c.get('error', '')}")
    host["loadavg_end"] = list(os.getloadavg())

    if args.trace:
        spans_file = os.path.join(work, "spans.json")
        with open(spans_file) as f:
            raw["n_spans"] = len(json.load(f))
        layer = stats.per_layer(raw)
        metrics = {k: {"value": v, "unit": stats.LAYER_UNITS[k]} for k, v in layer.items()}
        traced = [c for c in raw["calls"] if c.get("traced") and c["ok"]]
        artifact = os.path.join(work, "trace.json")
        with open(artifact, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "host": host,
                       "per_op": stats.per_op_breakdown(traced), "per_layer": layer,
                       "spans": spans_file}, f, indent=1)
        log(f"per-op breakdown: {artifact}")
        extra = {"trace_overhead_ratio": layer["trace.overhead_ratio"]}
    else:
        e2e, extra = end_to_end(raw, setup_s, checks, plan.get("rows", {}))
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    extra.update({"failed_ratio": failed / attempted, "failing_ops": bad,
                  "timed_s": raw["timed_s"], "setup": {
                      "gen_s": gen_s, "jvm_session_s": raw["t_session_ms"] / 1e3 - t_launch,
                      "prepare_s": raw["prepare_s"], "warmup_s": raw["warmup_s"]}})
    for bulky in ("data", "staged", "state", "out", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, bulky), ignore_errors=True)
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed, **extra}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
