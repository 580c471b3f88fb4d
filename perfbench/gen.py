"""Seeded input generation for the graft benchmark.

Every table is written as a directory `<name>.parquet/` of part files, the
layout `graft.Tables.load` reads. Row *content* comes from a fixed base
generator, so every seed sees the same multiset of rows at sf0.1 shape
(TESTDATA.md: 600k lineitem rows, 5k documents).
The run seed fixes the rest:

* the row order and the cut points of each table's part files,
* the op order within each pass and the Prepared bind constants,
* which rows form each delta batch of `incremental_ingest`,

The same seed gives byte-identical files (pyarrow writes no clock or
host into parquet metadata).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101          # content generator, shared by every run seed

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

# Part-file count per table: fixed, so scan parallelism is the same for
# every seed; the seed only moves the cut points.
N_FILES = {"region": 1, "nation": 1, "supplier": 1, "customer": 2,
           "part": 2, "orders": 2, "lineitem": 3, "events": 2,
           "documents": 2}


def _ts(days_from, n_days, rng, n, micros=False):
    base = np.datetime64(days_from, "us").astype(np.int64)
    if micros:
        off = rng.integers(0, n_days * 86_400_000_000, n)
    else:
        off = rng.integers(0, n_days + 1, n) * 86_400_000_000
    return pa.array(base + off, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def relational_tables(sf=0.1):
    """The TPC-H-ish star schema plus `events`, at TESTDATA's shape."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    noun = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", 2498, rng, n_li)})
    t["events"] = events_table(rng, n_ev)
    return t


def events_table(rng, n):
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01", 30, rng, n, micros=True),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n),
        "value": _money(rng, 0.0, 560.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents_table(n=5000, near_dups=250, exact_dups=8):
    """Word-salad documents over a 30-word vocabulary. `near_dups` later
    documents copy an earlier one with a trailing ' dup' word and
    `exact_dups` copy one verbatim, the duplicate structure the dedup
    operators look for."""
    rng = np.random.default_rng(BASE_SEED + 1)
    words = [" ".join(rng.choice(VOCAB, rng.integers(10, 101))) for _ in range(n)]
    half = n // 2
    src = rng.choice(half, near_dups + exact_dups, replace=False)
    dst = half + rng.choice(n - half, near_dups + exact_dups, replace=False)
    for i, (s, d) in enumerate(zip(src, dst)):
        words[d] = words[s] + (" dup" if i < near_dups else "")
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": words,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(w) for w in words], pa.int64())})


def write_table(table, path, rng, n_files, rows=None):
    """Shuffle rows and write `n_files` part files with seeded cut points
    (each file within +-25% of an even share)."""
    if rows is not None:
        rows[os.path.basename(path).split(".")[0]] = table.num_rows
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    table = table.take(pa.array(rng.permutation(n)))
    even = n / n_files
    cuts = [0] + [int(round(i * even + rng.uniform(-0.25, 0.25) * even))
                  for i in range(1, n_files)] + [n]
    for i in range(n_files):
        write_part(table.slice(cuts[i], cuts[i + 1] - cuts[i]),
                   os.path.join(path, f"part-{i:05d}.parquet"))


def write_part(table, file):
    pq.write_table(table, file, compression="snappy", row_group_size=1 << 20)


def pass_orders(ops, rng, passes):
    return [[ops[i] for i in rng.permutation(len(ops))] for _ in range(passes)]


def generate(workload, seed, out_dir, spec):
    """Write the workload's inputs under `out_dir` and return the plan the
    JVM side follows (op orders, bind constants, delta batches)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    data = os.path.join(out_dir, "data")
    plan = {"workload": workload, "seed": seed, "data": data, "rows": {}}
    if workload == "relational_interactive":
        for name, tb in relational_tables().items():
            if name in spec["tables"]:
                write_table(tb, os.path.join(data, f"{name}.parquet"), rng, N_FILES[name],
                            plan["rows"])
        plan["passes"] = pass_orders(spec["ops"] + spec["prepared"], rng, spec["passes"])
        plan["binds"] = {
            "prepared_revenue": [
                {"y0": int(y), "dlo": round(float(d) - 0.01, 2),
                 "dhi": round(float(d) + 0.01, 2), "qmax": float(q)}
                for y, d, q in zip(rng.integers(1995, 2001, spec["passes"]),
                                   rng.integers(2, 10, spec["passes"]) / 100.0,
                                   rng.integers(20, 31, spec["passes"]))],
            "prepared_priority": [
                {"cut": float(c)} for c in rng.integers(10, 45, spec["passes"]) * 10000.0]}
        # The warm-up's own constants, outside the ranges the timed binds
        # draw from, so no timed call repeats the warm-up's bind.
        plan["warmup_binds"] = {
            "prepared_revenue": {"y0": 2001, "dlo": 0.04, "dhi": 0.06, "qmax": 25.0},
            "prepared_priority": {"cut": 50000.0}}
    elif workload == "incremental_ingest":
        plan.update(ingest_inputs(rng, data, os.path.join(out_dir, "staged"), spec))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f, indent=1, sort_keys=True)
    return plan


def ingest_inputs(rng, data, staged, spec):
    """Base tables hold a seeded 80% of each source; the other 20% is cut
    into seeded delta batches staged as parquet for the JVM to append.
    Customer batches carry brand-new keys (appended to the table and
    inserted by the merge) plus updates of base keys; no key is updated
    twice, so the maintained state has one from-scratch answer. Batch 0
    is a tenth the size of the others: the warm-up absorbs it."""
    sources = {"documents": documents_table(),
               "events": events_table(np.random.default_rng(BASE_SEED + 3), spec["events"])}
    n_batches = spec["batches"]
    batches = [dict() for _ in range(n_batches)]
    for name, tb in sources.items():
        order = rng.permutation(tb.num_rows)
        n_base = int(tb.num_rows * 0.8)
        write_table(tb.take(pa.array(np.sort(order[:n_base]))),
                    os.path.join(data, f"{name}.parquet"), rng, N_FILES[name])
        for b, ids in enumerate(_batch_split(order[n_base:], n_batches)):
            batches[b][name] = tb.take(pa.array(np.sort(ids)))
    customers = customer_table(spec["customers"])
    n_base = int(customers.num_rows * 0.8)
    base_keys = rng.permutation(n_base)
    write_table(customers.slice(0, n_base), os.path.join(data, "customer.parquet"),
                rng, N_FILES["customer"])
    new_keys = _batch_split(np.arange(n_base, customers.num_rows), n_batches)
    upd_keys = _batch_split(base_keys[:spec["updates_per_batch"] * n_batches], n_batches)
    for b in range(n_batches):
        ins = customers.take(pa.array(new_keys[b]))
        upd = customers.take(pa.array(np.sort(upd_keys[b])))
        upd = upd.set_column(3, "c_acctbal",
                             pa.array(np.round(upd.column("c_acctbal").to_numpy() + 100.0, 2)))
        upd = upd.set_column(4, "c_mktsegment", pa.array(["UPSERTED"] * upd.num_rows))
        batches[b]["customer"] = ins
        batches[b]["customer_updates"] = upd
    out = []
    for b, tables in enumerate(batches):
        entry = {}
        for name, tb in tables.items():
            p = os.path.join(staged, f"batch-{b:03d}", f"{name}.parquet")
            os.makedirs(p, exist_ok=True)
            write_part(tb, os.path.join(p, "part-00000.parquet"))
            entry[name] = {"path": p, "rows": tb.num_rows}
        out.append(entry)
    return {"batches": out}


def _batch_split(ids, n_batches):
    """A small warm-up batch, then `n_batches - 1` equal batches."""
    warm = max(1, len(ids) // n_batches // 10)
    return [ids[:warm]] + np.array_split(ids[warm:], n_batches - 1)


def customer_table(n):
    rng = np.random.default_rng(BASE_SEED + 4)
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
