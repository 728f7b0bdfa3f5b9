"""Seeded input generator for the benchmark.

Two layers of input:

* the base corpus: a TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` tables, one parquet file per table,
  in the schema the engine's registry queries read. It is a fixed
  function of this file (constant seed), so every run measures the same
  data volume; it is generated once per checkout and then only read.
* the per-run inputs, a function of ``--seed``:
  - ``migrate/rerun/*.parquet``: the customer, orders and lineitem
    sources after a seeded mutation (a few percent of keys deleted,
    changed and added; deletions cascade to child rows);
  - ``curate/in/*.parquet``: the documents cut into doc_id-contiguous
    batch files at seeded boundaries, modification times ascending (the
    file stream source replays by mtime);
  - ``query/order.json``: the query list in declared order for the cold
    pass and in a seeded permutation for the warm pass.
  ``inputs.json`` records the seed, the expected mutation counts and the
  input rows and bytes of every workload.

Run standalone: ``python3 perfbench/gen.py --seed 7 --out DIR`` (writes
the corpus under DIR/corpus and the per-run inputs under DIR/inputs).
"""
import argparse
import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

# Table sizes. One scale for every workload: migrate_dag's three tables
# dominate the bytes, documents drive curate_stream and the dedup and
# retrieval layouts of query_mix.
SIZES = {
    "customer": 1_500,
    "orders": 15_000,
    "lines_per_order": 4,  # lineitem = 60k rows
    "part": 2_000,
    "supplier": 100,
    "events": 10_000,
    "documents": 240,
    "embeddings": 500,
}

MUTATION = {"delete": 0.02, "change": 0.03, "add": 0.02}
BATCHES = 2  # curate_stream micro-batches (one file per trigger)

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _ts(rng, n, start, end, date_only=False):
    lo = int(start.timestamp() * 1e6)
    hi = int(end.timestamp() * 1e6)
    us = rng.integers(lo, hi, n)
    if date_only:
        us = us - us % 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def documents(rng, n):
    texts, seen = [], []
    for i in range(n):
        r = rng.random()
        if seen and r < 0.003:  # exact duplicate
            t = seen[rng.integers(len(seen))]
        elif seen and r < 0.06:  # near duplicate: a few tokens swapped for "dup"
            toks = seen[rng.integers(len(seen))].split(" ")
            for j in rng.choice(len(toks), size=min(3, len(toks)), replace=False):
                toks[j] = "dup"
            t = " ".join(toks)
        else:
            k = int(rng.integers(10, 101))
            t = " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k))
        texts.append(t)
        seen.append(t)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus(out):
    """Write the base corpus into ``out`` (one parquet file per table)."""
    rng = np.random.default_rng(CORPUS_SEED)
    os.makedirs(out, exist_ok=True)
    c, o = SIZES["customer"], SIZES["orders"]
    p, s = SIZES["part"], SIZES["supplier"]
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, s, -999.99, 9999.99),
    }), f"{out}/supplier.parquet")
    _write(customers(rng, np.arange(c)), f"{out}/customer.parquet")
    colors = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
    nouns = ["widget", "bolt", "ring", "gizmo", "rod", "gear", "pipe", "valve"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "PROMO", "SMALL", "STANDARD", "MEDIUM"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
    }), f"{out}/part.parquet")
    _write(orders(rng, np.arange(o), rng.integers(0, c, o)), f"{out}/orders.parquet")
    ok = np.repeat(np.arange(o), SIZES["lines_per_order"])
    ln = np.tile(np.arange(1, SIZES["lines_per_order"] + 1), o)
    _write(lineitems(rng, ok, ln), f"{out}/lineitem.parquet")
    e = SIZES["events"]
    _write(pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.sort(_ts(rng, e, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31))
                               .to_numpy()), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], e),
        "value": _money(rng, e, 0.0, 560.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }), f"{out}/events.parquet")
    _write(documents(rng, SIZES["documents"]), f"{out}/documents.parquet")
    v = SIZES["embeddings"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, v)
    vecs = centers[labels] + 0.6 * rng.normal(size=(v, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out}/embeddings.parquet")


def customers(rng, keys):
    n = len(keys)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n),
    })


def orders(rng, keys, custkeys):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(custkeys, pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _ts(rng, n, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), True),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })


def lineitems(rng, orderkeys, linenumbers):
    n = len(orderkeys)
    return pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, SIZES["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SIZES["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(linenumbers, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts(rng, n, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), True),
    })


def _mutate(rng, table, key, dead_parent, parent_col, change_cols, add):
    """Delete, change and append rows of ``table``.

    Rows whose ``parent_col`` is in ``dead_parent`` are deleted with their
    parent; a further share of the remaining rows is deleted at random.
    ``change_cols`` maps a column to a function producing new values.
    ``add`` is the table of new rows. Returns (mutated table, counts, the
    ``key`` values of the deleted rows).
    """
    n = table.num_rows
    dead = np.zeros(n, bool)
    if parent_col is not None and len(dead_parent):
        dead |= np.isin(table.column(parent_col).to_numpy(), dead_parent)
    dead |= rng.random(n) < MUTATION["delete"]
    live = ~dead
    changed = live & (rng.random(n) < MUTATION["change"])
    kept = table.filter(pa.array(live))
    ch = changed[live]
    cols = {}
    for name in table.column_names:
        col = kept.column(name).to_numpy()
        if name in change_cols:
            col = col.copy()
            col[ch] = change_cols[name](int(ch.sum()))
        cols[name] = pa.array(col, table.schema.field(name).type)
    out = pa.concat_tables([pa.table(cols, schema=table.schema), add.cast(table.schema)])
    counts = {"base": n, "deleted": int(dead.sum()), "changed": int(changed.sum()),
              "added": add.num_rows}
    return out, counts, table.column(key).to_numpy()[dead]


def migrate_inputs(rng, corpus_dir, out):
    os.makedirs(out, exist_ok=True)
    cust = pq.read_table(f"{corpus_dir}/customer.parquet")
    ords = pq.read_table(f"{corpus_dir}/orders.parquet")
    lines = pq.read_table(f"{corpus_dir}/lineitem.parquet")
    c, o = cust.num_rows, ords.num_rows
    n_c = max(1, int(c * MUTATION["add"]))
    new_c = customers(rng, np.arange(c, c + n_c))
    cust2, cc, dead_c = _mutate(rng, cust, "c_custkey", np.array([], np.int64), None, {
        "c_acctbal": lambda k: _money(rng, k, -999.99, 9999.99)}, new_c)
    live_c = np.setdiff1d(np.arange(c + n_c), dead_c)
    n_o = max(1, int(o * MUTATION["add"]))
    new_o = orders(rng, np.arange(o, o + n_o), rng.choice(live_c, n_o))
    ords2, oc, dead_o = _mutate(rng, ords, "o_orderkey", dead_c, "o_custkey", {
        "o_totalprice": lambda k: _money(rng, k, 1000.0, 500000.0)}, new_o)
    lpo = SIZES["lines_per_order"]
    new_l = lineitems(rng, np.repeat(np.arange(o, o + n_o), lpo),
                      np.tile(np.arange(1, lpo + 1), n_o))
    lines2, lc, _ = _mutate(rng, lines, "l_orderkey", dead_o, "l_orderkey", {
        "l_quantity": lambda k: rng.integers(1, 51, k).astype(np.float64)}, new_l)
    for name, t in (("customer", cust2), ("orders", ords2), ("lineitem", lines2)):
        _write(t, f"{out}/{name}.parquet")
    return {"customer": cc, "orders": oc, "lineitem": lc}


def curate_inputs(rng, corpus_dir, out):
    os.makedirs(out, exist_ok=True)
    docs = pq.read_table(f"{corpus_dir}/documents.parquet").sort_by("doc_id")
    n = docs.num_rows
    # seeded doc_id-contiguous cuts: equal shares jittered by +-5%
    even = np.linspace(0, n, BATCHES + 1)
    step = n / BATCHES
    cuts = [0] + [int(x + rng.uniform(-0.05, 0.05) * step) for x in even[1:-1]] + [n]
    mtime = 1_700_000_000
    sizes = []
    for b in range(BATCHES):
        part = docs.slice(cuts[b], cuts[b + 1] - cuts[b])
        path = f"{out}/part-{b:05d}.parquet"
        _write(part, path)
        os.utime(path, (mtime + 10 * b, mtime + 10 * b))
        sizes.append(part.num_rows)
    return {"batches": BATCHES, "batch_rows": sizes}


def query_inputs(rng, names, out):
    """The cold pass runs in the declared order, so the same query always
    pays the first-use costs; the warm pass runs a seeded permutation."""
    os.makedirs(out, exist_ok=True)
    order = {"cold": list(names), "warm": [names[i] for i in rng.permutation(len(names))]}
    with open(f"{out}/order.json", "w") as f:
        json.dump(order, f)
    return order


def _size(paths):
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    return rows, sum(os.path.getsize(p) for p in paths)


def ensure_corpus(path):
    """Generate the base corpus at ``path`` unless it is already there."""
    if os.path.exists(f"{path}/.done"):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    corpus(tmp)
    open(f"{tmp}/.done", "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def inputs(seed, workload, corpus_dir, out, query_names):
    """Write ``workload``'s per-run inputs under ``out``; return their record."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    rec = {"seed": seed, "workload": workload}
    if workload == "migrate_dag":
        rec["mutation"] = migrate_inputs(rng, corpus_dir, f"{out}/migrate/rerun")
        files = [f"{corpus_dir}/{t}.parquet" for t in ("customer", "orders", "lineitem")]
        files += [f"{out}/migrate/rerun/{t}.parquet" for t in ("customer", "orders", "lineitem")]
    elif workload == "curate_stream":
        rec["stream"] = curate_inputs(rng, corpus_dir, f"{out}/curate/in")
        files = [f"{out}/curate/in/{f}" for f in sorted(os.listdir(f"{out}/curate/in"))]
    else:
        rec["order"] = query_inputs(rng, query_names, f"{out}/query")
        files = [f"{corpus_dir}/{f}" for f in sorted(os.listdir(corpus_dir))
                 if f.endswith(".parquet")]
    rec["input_rows"], rec["input_bytes"] = _size(files)
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(rec, f)
    return rec


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", default="migrate_dag",
                    choices=["migrate_dag", "curate_stream", "query_mix"])
    a = ap.parse_args()
    from queries import QUERY_MIX
    c = ensure_corpus(f"{a.out}/corpus")
    print(json.dumps(inputs(a.seed, a.workload, c, f"{a.out}/inputs", QUERY_MIX)))
