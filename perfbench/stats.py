"""The benchmark's arithmetic, kept free of I/O so test_perfbench.py can
pin it: percentiles with their sample count, interval unions, failure
counting, and the per-layer aggregation of the traced run."""
import math
import statistics

# A percentile q is only trusted when at least MIN_TAIL_SAMPLES samples lie
# at or above it: p50 needs 20 samples, p90 needs 100.
MIN_TAIL_SAMPLES = 10


def percentile(samples, q):
    """Nearest-rank percentile; q = 0.5 gives the usual median (the mean
    of the two middle samples for an even count), which moves less than a
    single rank when a few samples trade places. Returns (value, n,
    trusted): `trusted` says whether n is large enough for q
    (n * (1 - q) >= 10)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    trusted = n * (1.0 - q) >= MIN_TAIL_SAMPLES - 1e-9
    if q == 0.5:
        return statistics.median(xs), n, trusted
    rank = max(1, math.ceil(q * n))
    return xs[rank - 1], n, trusted


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def count_failures(calls, checks, warmup_failures=0):
    """Returns (attempted, failed, failing op names).

    A call fails if it threw. A failed result check fails every timed call
    of its op (each returned the checked result); a failed check of an op
    with no timed call counts as one failed attempt of its own. Warm-up
    exceptions count as attempts that failed."""
    bad_ops = {c["op"] for c in checks if not c.get("ok", False)}
    attempted = len(calls) + warmup_failures
    failed = sum(1 for c in calls if not c["ok"] or c["op"] in bad_ops) + warmup_failures
    called = {c["op"] for c in calls}
    extra = len(bad_ops - called)
    names = sorted(bad_ops | {c["op"] for c in calls if not c["ok"]})
    return attempted + extra, failed + extra, names


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# "untagged" stages run on threads the harness does not set properties on,
# such as the streaming query's micro-batch thread
EXEC_PHASES = ("exec", "readback", "stream.batch", "untagged")


def is_exec(phase):
    return phase in EXEC_PHASES or phase.endswith(".exec")


def driver_gap_ms(call):
    """Op wall minus the union of its stage intervals."""
    spans = [(s["submitted_ms"], s["completed_ms"]) for s in call.get("stages", [])]
    return call["wall_s"] * 1e3 - union_length(spans)


API_FNS = ("sketchTable", "incrementalNearDupPairs", "mergeUpsert", "applyDelta")
KERNELS = ("shingle_md5_bottom_k", "shingle_md5_grams", "text_token_counts",
           "simhash_bits")


LAYER_UNITS = {
    "tables.load_ms": "ms", "tables.load_jobs": "count",
    "operators.build_ms": "ms", "operators.build_jobs": "count", "operators.build_task_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.rule_effective_ratio": "fraction",
    "catalyst.graft_rule_fires": "count",
    "exec.wall_ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.core_util": "fraction",
    "exec.task_skew": "ratio", "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.peak_exec_mem_bytes": "bytes", "exec.gc_ms": "ms",
    **{f"functions.{k}.rows_per_s": "rows/s" for k in KERNELS},
    "cache.tracked": "count", "cache.stored_bytes": "bytes", "cache.drain_ms": "ms",
    **{f"api.{f}.{m}": u for f in API_FNS
       for m, u in (("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"))},
    "api.prepared_bind_ms": "ms",
    "streaming.batch_ms": "ms", "streaming.input_rows_per_s": "rows/s",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "storage.write_ms": "ms", "storage.bytes_written": "bytes", "storage.write_amp": "ratio",
    "storage.files": "count",
    "driver.gap_ms": "ms", "driver.jobs_per_op": "count",
    "jvm.gc_ms": "ms", "jvm.heap_used_peak_mb": "MB",
    "trace.overhead_ratio": "ratio", "trace.spans": "count",
}


def per_op_breakdown(calls):
    """The traced artifact's per-op table: mean per call of each phase,
    counter and byte total."""
    by_op = {}
    for c in calls:
        by_op.setdefault(c["op"], []).append(c)
    out = {}
    for op, cs in sorted(by_op.items()):
        def m(f):
            return _mean(f(c) for c in cs)

        def st(key, phase=lambda p: True):
            return lambda c: sum(s[key] for s in c["stages"] if phase(s["phase"]))

        def ph(pred):
            return lambda c: sum(v for k, v in c["phase_ms"].items() if pred(k))
        cat = lambda k: (lambda c: c["catalyst"][k])  # noqa: E731
        planning = m(lambda c: c["catalyst"]["optimization_ms"] + c["catalyst"]["planning_ms"])
        out[op] = {
            "calls": len(cs),
            "wall_ms": m(lambda c: c["wall_s"] * 1e3),
            "build_ms": m(ph(lambda k: k == "build" or k.endswith(".build"))),
            "analysis_ms": m(cat("analysis_ms")),
            "optimization_ms": m(cat("optimization_ms")),
            "planning_ms": m(cat("planning_ms")),
            "exec_ms": m(ph(is_exec)) - planning,
            "drain_ms": m(ph(lambda k: k == "drain")),
            "storage_write_ms": m(ph(lambda k: k == "storage.write")),
            "driver_gap_ms": m(driver_gap_ms),
            "jobs": m(lambda c: sum(c["jobs"].values())),
            "stages": m(lambda c: len(c["stages"])),
            "tasks": m(st("tasks")),
            "shuffle_write_bytes": m(st("shuffle_write_bytes")),
            "shuffle_read_bytes": m(st("shuffle_read_bytes")),
            "spill_bytes": m(st("spill_bytes")),
            "cache_stored_bytes": m(lambda c: c["cache"]["stored_bytes"]),
        }
    return out


def per_layer(raw):
    """Every per-layer metric of the traced run, from the raw JVM record."""
    calls = [c for c in raw["calls"] if c.get("traced") and c["ok"]]
    untraced = [c for c in raw["calls"] if not c.get("traced") and c["ok"]]
    cores = raw["cores"]
    m = {}

    def mean_over(cs, f):
        return _mean(f(c) for c in cs)

    def stages(c, pred):
        return [s for s in c["stages"] if pred(s["phase"])]

    def phase_ms(c, pred):
        return sum(v for k, v in c["phase_ms"].items() if pred(k))

    tables = raw["probes"].get("tables", {})
    m["tables.load_ms"] = _mean(t["load_ms"] for t in tables.values())
    m["tables.load_jobs"] = _mean(t["load_jobs"] for t in tables.values())

    built = [c for c in calls if "build" in c["phase_ms"]]
    m["operators.build_ms"] = mean_over(built, lambda c: c["phase_ms"]["build"])
    m["operators.build_jobs"] = mean_over(built, lambda c: c["jobs"].get("build", 0))
    m["operators.build_task_s"] = mean_over(
        built, lambda c: sum(s["task_ms"] for s in stages(c, lambda p: p == "build")) / 1e3)

    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        m[f"catalyst.{k}"] = mean_over(calls, lambda c: c["catalyst"][k])
    runs = sum(c["catalyst"]["rule_runs"] for c in calls)
    m["catalyst.rule_effective_ratio"] = (
        sum(c["catalyst"]["rule_effective"] for c in calls) / runs if runs else 0.0)
    m["catalyst.graft_rule_fires"] = mean_over(calls, lambda c: c["catalyst"]["graft_rule_fires"])

    def ex(c):
        return stages(c, is_exec)

    def planning(c):
        # analysis runs while the frame is built; the executed query's
        # optimization and planning run inside the exec phase
        return c["catalyst"]["optimization_ms"] + c["catalyst"]["planning_ms"]
    m["exec.wall_ms"] = mean_over(calls, lambda c: phase_ms(c, is_exec) - planning(c))
    m["exec.jobs"] = mean_over(calls, lambda c: sum(v for k, v in c["jobs"].items() if is_exec(k)))
    m["exec.stages"] = mean_over(calls, lambda c: len(ex(c)))
    for name, key, scale in (("tasks", "tasks", 1), ("task_s", "task_ms", 1e-3),
                             ("cpu_s", "cpu_ns", 1e-9), ("input_bytes", "input_bytes", 1),
                             ("shuffle_write_bytes", "shuffle_write_bytes", 1),
                             ("shuffle_read_bytes", "shuffle_read_bytes", 1),
                             ("spill_bytes", "spill_bytes", 1), ("gc_ms", "gc_ms", 1)):
        m[f"exec.{name}"] = mean_over(calls, lambda c: sum(s[key] for s in ex(c)) * scale)
    exec_wall = sum(phase_ms(c, is_exec) for c in calls) / 1e3
    m["exec.core_util"] = (sum(s["task_ms"] for c in calls for s in ex(c)) / 1e3
                           / (exec_wall * cores) if exec_wall else 0.0)
    skews = [s["max_task_ms"] / (s["task_ms"] / s["tasks"])
             for c in calls for s in ex(c) if s["tasks"] >= 2 and s["task_ms"] > 0]
    m["exec.task_skew"] = _mean(skews)
    m["exec.peak_exec_mem_bytes"] = max(
        (s["peak_exec_mem_bytes"] for c in calls for s in ex(c)), default=0)

    fns = raw["probes"].get("functions_rows_per_s", {})
    for k in KERNELS:
        m[f"functions.{k}.rows_per_s"] = fns.get(k, 0.0)

    m["cache.tracked"] = mean_over(calls, lambda c: c["cache"]["tracked"])
    m["cache.stored_bytes"] = mean_over(calls, lambda c: c["cache"]["stored_bytes"])
    m["cache.drain_ms"] = mean_over(calls, lambda c: c["phase_ms"].get("drain", 0))

    for fn in API_FNS:
        used = [c for c in calls if f"api.{fn}.build" in c["phase_ms"]]
        m[f"api.{fn}.build_ms"] = mean_over(used, lambda c: c["phase_ms"][f"api.{fn}.build"])
        m[f"api.{fn}.exec_ms"] = mean_over(used, lambda c: c["phase_ms"].get(f"api.{fn}.exec", 0))
        m[f"api.{fn}.jobs"] = mean_over(used, lambda c: c["jobs"].get(f"api.{fn}.build", 0)
                                        + c["jobs"].get(f"api.{fn}.exec", 0))
    m["api.prepared_bind_ms"] = mean_over(
        [c for c in calls if c["op"].startswith("prepared_")], lambda c: c["phase_ms"]["build"])

    batches = raw.get("stream", [])
    trig = sum(b["trigger_ms"] for b in batches)
    m["streaming.batch_ms"] = _mean(b["trigger_ms"] for b in batches)
    m["streaming.input_rows_per_s"] = sum(b["rows"] for b in batches) / (trig / 1e3) if trig else 0.0
    m["streaming.state_rows"] = batches[-1]["state_rows"] if batches else 0
    m["streaming.state_bytes"] = batches[-1]["state_bytes"] if batches else 0

    steps = raw.get("storage", [])
    delta = sum(s["delta_bytes"] for s in steps)
    m["storage.write_ms"] = mean_over([c for c in calls if "storage.write" in c["phase_ms"]],
                                      lambda c: c["phase_ms"]["storage.write"])
    m["storage.bytes_written"] = _mean(s["bytes_written"] for s in steps)
    m["storage.write_amp"] = sum(s["state_bytes_written"] for s in steps) / delta if delta else 0.0
    m["storage.files"] = _mean(s["files"] for s in steps)

    m["driver.gap_ms"] = mean_over(calls, driver_gap_ms)
    m["driver.jobs_per_op"] = mean_over(calls, lambda c: sum(c["jobs"].values()))

    n_calls = len(raw["calls"])
    m["jvm.gc_ms"] = raw["jvm_gc_ms"] / n_calls if n_calls else 0.0
    m["jvm.heap_used_peak_mb"] = raw["heap_used_peak_bytes"] / 2 ** 20

    m["trace.overhead_ratio"] = overhead_ratio(untraced, calls)
    m["trace.spans"] = raw.get("n_spans", 0)
    return m


def overhead_ratio(untraced, traced):
    """Traced over untraced throughput with the op mix held fixed: the
    untraced mean wall of each op, weighted by how often the traced half
    ran it, over the traced half's actual wall."""
    base = {}
    for c in untraced:
        base.setdefault(c["op"], []).append(c["wall_s"])
    both = [c for c in traced if c["op"] in base]
    actual = sum(c["wall_s"] for c in both)
    expected = sum(_mean(base[c["op"]]) for c in both)
    return expected / actual if actual else 0.0
