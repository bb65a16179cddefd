"""Seeded input generator for the graft benchmark.

Every workload's inputs are a seeded derivation of the read-only sf0.01 test
tables (``/root/testdata/sf0.01``; ``$PERFBENCH_TESTDATA`` overrides the root).
A seed permutes the values of chosen non-key columns across rows, so the same
seed gives
byte-identical parquet files and another seed gives different rows with the
same schemas and row counts. Key columns are never touched, so every join and
every query of the workload stays well defined. On top of that:

* ``alerts_pipeline`` gets ``cycle-<k>`` directories: each is the previous
  one with a few tens of alerts re-scraped (values changed);
* ``alerts_stream`` gets ``base/`` (the world's tables) and
  ``snapshots/s<k>.parquet``: scrape snapshots of every alert, each changing
  the status of a few tens of alerts. ``s00000`` is the baseline.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import shutil
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VERSION = 2
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["alerts_pipeline", "curation", "alerts_stream"]
SOURCE = "sf0.01"     # the test tables every workload is derived from
# Column groups whose values are permuted across rows (a group moves together).
PERMUTE = {
    "customer": [["c_acctbal"], ["c_mktsegment"]],
    "supplier": [["s_acctbal"]],
    "part": [["p_size"], ["p_retailprice"], ["p_brand"], ["p_type"]],
    "orders": [["o_totalprice"], ["o_orderpriority"], ["o_orderdate"]],
    "lineitem": [["l_quantity", "l_extendedprice"], ["l_discount"], ["l_tax"],
                 ["l_returnflag", "l_linestatus"], ["l_shipdate"]],
    "events": [["event_type"], ["value"], ["props"]],
    "documents": [["text", "lang", "source", "n_chars"]],
    "embeddings": [["embedding", "label"]],
}
# Emailer.configKey's input for q51b_html_render's config, and the order keys
# the render covers.
EMAIL_CONFIG = "a@x|render-test"
EMAIL_ORDERS = 2000
CYCLES = 8            # alerts_pipeline re-scrapes
# (column, rows changed per cycle, key column and bound the rows are drawn
# under): the order changes fall in the range the email render covers.
CYCLE_CHANGES = {"customer": ("c_mktsegment", 20, None, None),
                 "orders": ("o_orderpriority", 30, "o_orderkey", EMAIL_ORDERS),
                 "events": ("event_type", 30, None, None)}
SNAPSHOTS = 9         # alerts_stream: baseline + 8 scrapes, one per 8 s for 64 s
SNAPSHOT_CHANGES = 25  # status changes per scrape; below the work limit of 40
STATUSES = ["Open", "Closed", "In Progress", "Planned", "Assigned"]


def testdata_root():
    return os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")


def rng_for(seed, *parts):
    return np.random.default_rng([seed] + [zlib.crc32(p.encode()) for p in parts])


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def derive(table, name, seed):
    """Permute each column group of `name` across rows with a seeded RNG."""
    rng = rng_for(seed, "permute", name)
    cols = {c: table.column(c) for c in table.column_names}
    for group in PERMUTE.get(name, []):
        perm = pa.array(rng.permutation(table.num_rows))
        for c in group:
            cols[c] = pc.take(table.column(c), perm)
    return pa.table([cols[c] for c in table.column_names], schema=table.schema)


def change_rows(table, column, count, rng, key=None, bound=None):
    """Give `count` distinct rows of `column` (among rows with key <= bound)
    another value of the column's domain."""
    values = table.column(column).to_pylist()
    domain = sorted({v for v in values if v is not None})
    rows = np.arange(len(values))
    if key is not None:
        rows = rows[np.asarray(table.column(key).to_pylist()) <= bound]
    for i in rng.choice(rows, size=count, replace=False):
        others = [v for v in domain if v != values[i]]
        values[i] = others[rng.integers(len(others))]
    idx = table.column_names.index(column)
    return table.set_column(idx, table.schema.field(idx), pa.array(values, table.schema.field(idx).type))


def link(src, dst):
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)


def derived_tables(workload, seed):
    src = os.path.join(testdata_root(), SOURCE)
    return {t: derive(pq.read_table(os.path.join(src, f"{t}.parquet")), t, seed) for t in TABLES}


def gen_pipeline(seed, out):
    tables = derived_tables("alerts_pipeline", seed)
    for t, tab in tables.items():
        write(tab, os.path.join(out, "base", f"{t}.parquet"))
    write(sent_registry(tables["orders"]), os.path.join(out, "base", "email_sent.parquet"))
    rng = rng_for(seed, "cycles")
    for k in range(CYCLES):
        cyc = os.path.join(out, f"cycle-{k}")
        for t in TABLES:
            if t in CYCLE_CHANGES:
                tables[t] = change_rows(tables[t], *CYCLE_CHANGES[t][:2], rng, *CYCLE_CHANGES[t][2:])
                write(tables[t], os.path.join(cyc, f"{t}.parquet"))
            else:
                link(os.path.join(out, "base", f"{t}.parquet"), os.path.join(cyc, f"{t}.parquet"))


def sent_registry(orders):
    """The email stage's sent registry after the base scrape: one key per
    email q51b_html_render makes, in graft.serve.Emailer.unsent's form
    `sha256(config)_status_id`, an email's status being its order's
    priority."""
    config = hashlib.sha256(EMAIL_CONFIG.encode()).hexdigest()
    keys = [f"{config}_{p}_{k}" for k, p in zip(orders.column("o_orderkey").to_pylist(),
                                               orders.column("o_orderpriority").to_pylist())
            if k <= EMAIL_ORDERS]
    return pa.table({"sent_key": pa.array(keys, pa.string())})


def gen_stream(seed, out):
    tables = derived_tables("alerts_stream", seed)
    for t, tab in tables.items():
        write(tab, os.path.join(out, "base", f"{t}.parquet"))
    cust = tables["customer"]
    ids = cust.column("c_custkey").to_pylist()
    names = cust.column("c_name").to_pylist()
    status = list(cust.column("c_mktsegment").to_pylist())
    rng = rng_for(seed, "snapshots")
    schema = pa.schema([("id", pa.int64()), ("c_name", pa.string()), ("c_mktsegment", pa.string()),
                        ("ck", pa.string()), ("publish_ord", pa.int64()),
                        ("event_ts", pa.timestamp("us", tz="UTC")),
                        ("expiry_ts", pa.timestamp("us", tz="UTC"))])
    base_us = 1704067200 * 10**6  # 2024-01-01T00:00:00Z
    expiry_us = 1893456000 * 10**6  # 2030-01-01T00:00:00Z
    for k in range(SNAPSHOTS):
        if k > 0:
            for i in rng.choice(len(ids), size=SNAPSHOT_CHANGES, replace=False):
                others = [s for s in STATUSES if s != status[i]]
                status[i] = others[rng.integers(len(others))]
        ck = [hashlib.md5(((s or "") + (n or "")).encode()).hexdigest() for s, n in zip(status, names)]
        snap = pa.table([pa.array(ids, pa.int64()), pa.array(names), cust.column("c_mktsegment"),
                         pa.array(ck), pa.array([(i * 37) % 1000 for i in ids], pa.int64()),
                         pa.array([base_us + k * 60 * 10**6] * len(ids), pa.timestamp("us", tz="UTC")),
                         pa.array([expiry_us] * len(ids), pa.timestamp("us", tz="UTC"))], schema=schema)
        write(snap, os.path.join(out, "snapshots", f"s{k:05d}.parquet"))


def gen_plain(workload, seed, out):
    for t, tab in derived_tables(workload, seed).items():
        write(tab, os.path.join(out, f"{t}.parquet"))


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under `out` (replaced)."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload}")
    if os.path.exists(out):
        shutil.rmtree(out)
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    {"alerts_pipeline": gen_pipeline, "alerts_stream": gen_stream}.get(
        workload, lambda s, o: gen_plain(workload, s, o))(seed, tmp)
    files = sorted(os.path.relpath(os.path.join(d, f), tmp)
                   for d, _, fs in os.walk(tmp) for f in fs)
    digest = {}
    for f in files:
        with open(os.path.join(tmp, f), "rb") as fh:
            digest[f] = hashlib.sha256(fh.read()).hexdigest()
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump({"workload": workload, "seed": seed, "version": VERSION,
                   "source": os.path.join(testdata_root(), SOURCE),
                   "files": digest}, fh, indent=1, sort_keys=True)
    os.rename(tmp, out)
    return out


def ensure(workload, seed, root):
    """The inputs of (workload, seed) under `root`, generated once."""
    out = os.path.join(root, f"{workload}-{seed}")
    try:
        with open(os.path.join(out, "manifest.json")) as fh:
            m = json.load(fh)
        if m.get("version") == VERSION and m.get("seed") == seed:
            return out
    except (OSError, ValueError):
        pass
    return generate(workload, seed, out)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
