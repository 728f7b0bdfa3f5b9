"""Correctness gates, run on a finished run's artifacts outside any timed
region. Each returns (operations attempted, operations failed, notes)."""
import glob
import math
import os

import duckdb

DAG = [  # migration, table, source keys, generated id, parent (ref column, foreign key, migration)
    ("m_customer", "customer", ["c_custkey"], "cid", None),
    ("m_orders", "orders", ["o_orderkey"], "oid", ("o_cid", "o_custkey", "m_customer")),
    ("m_lineitem", "lineitem", ["l_orderkey", "l_linenumber"], "lid",
     ("l_oid", "l_orderkey", "m_orders")),
]


def _gen(path, which="current"):
    """A generation directory of a generation-pointer table."""
    if which == "current":
        with open(f"{path}/_CURRENT") as f:
            return f"{path}/{f.read().strip()}"
    gens = sorted((d for d in os.listdir(path) if d.startswith("gen")),
                  key=lambda d: int(d[3:]))
    return f"{path}/{gens[0]}"


def _one(con, sql):
    return con.execute(sql).fetchone()


def migrate_dag(raw, inputs_rec, rerun_dir):
    """Per cycle and table: row counts, dense ids, stable ids, orphan counts
    and values after the rerun; orphans and ids after the load."""
    con = duckdb.connect()
    attempted = failed = 0
    notes = []
    for cycle in raw["figures"]["cycles"]:
        d = cycle["dir"]
        for mig, table, keys, did, parent in DAG:
            mut = inputs_rec["mutation"][table]
            dest, mp = f"{d}/dest/{table}", f"{d}/map/{mig}"
            src_keys = ", ".join(f"source_{k}" for k in keys)
            load_bad, rerun_bad = [], []
            # load phase
            if cycle["load"][mig]["orphans"] != 0:
                load_bad.append("orphans on load")
            n0, lo0, hi0, dn0 = _one(con, f"SELECT count(*), min(dest_{did}), max(dest_{did}), "
                                     f"count(DISTINCT dest_{did}) FROM '{_gen(mp, 'first')}/*.parquet'")
            if (n0, lo0, hi0, dn0) != (mut["base"], 1, mut["base"], mut["base"]):
                load_bad.append(f"load mapping {n0} rows ids {lo0}..{hi0} ({dn0} distinct)")
            # rerun phase
            want_dest = mut["base"] + mut["added"]
            n, lo, hi, dn = _one(con, f"SELECT count(*), min({did}), max({did}), "
                                 f"count(DISTINCT {did}) FROM '{_gen(dest)}/*.parquet'")
            if (n, lo, hi, dn) != (want_dest, 1, want_dest, want_dest):
                rerun_bad.append(f"dest {n} rows ids {lo}..{hi} ({dn} distinct), want {want_dest}")
            nm = _one(con, f"SELECT count(*) FROM '{_gen(mp)}/*.parquet'")[0]
            if nm != want_dest + mut["deleted"]:
                rerun_bad.append(f"mapping {nm} rows, want {want_dest + mut['deleted']}")
            if cycle["rerun"][mig]["orphans"] != mut["deleted"]:
                rerun_bad.append(f"orphans {cycle['rerun'][mig]['orphans']} != {mut['deleted']}")
            moved = _one(con, f"""SELECT count(*) FROM '{_gen(mp, 'first')}/*.parquet' a
                JOIN '{_gen(mp)}/*.parquet' b USING ({src_keys})
                WHERE a.dest_{did} <> b.dest_{did}""")[0]
            if moved:
                rerun_bad.append(f"{moved} keys changed id")
            # values: every live source row equals its destination row
            src = f"{rerun_dir}/{table}.parquet"
            def columns(rel):
                return [c for c, in con.execute(
                    f"SELECT column_name FROM (DESCRIBE SELECT * FROM {rel})").fetchall()]
            # the destination carries the generated id and the value columns
            kept = set(columns(f"'{_gen(dest)}/*.parquet'"))
            cols = [c for c in columns(f"'{src}'") if c in kept]
            on = " AND ".join(f"m.source_{k} = s.{k}" for k in keys)
            same = " AND ".join(f"s.{c} IS NOT DISTINCT FROM t.{c}" for c in cols)
            ref = ""
            if parent:
                pcol, fk, pmig = parent
                pkey = DAG[[m[0] for m in DAG].index(pmig)]
                ref = (f" AND t.{pcol} IS NOT DISTINCT FROM (SELECT dest_{pkey[3]} FROM "
                       f"'{_gen(f'{d}/map/{pmig}')}/*.parquet' p WHERE p.source_{pkey[2][0]} = s.{fk})")
            live = _one(con, f"SELECT count(*) FROM '{src}'")[0]
            matched, bad = _one(con, f"""SELECT count(*), count(*) FILTER (WHERE NOT ({same}{ref}))
                FROM '{src}' s JOIN '{_gen(mp)}/*.parquet' m ON {on}
                JOIN '{_gen(dest)}/*.parquet' t ON t.{did} = m.dest_{did}""")
            if matched != live or bad:
                rerun_bad.append(f"values: {matched} of {live} live rows matched, {bad} differ")
            attempted += 2
            for phase, bad in (("load", load_bad), ("rerun", rerun_bad)):
                if bad:
                    failed += 1
                    notes.append(f"{d} {table} {phase}: " + "; ".join(bad))
    return attempted, failed, notes


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _rows(con, sql):
    rel = con.execute(sql)
    cols = [c[0] for c in rel.description]
    rows = rel.fetchall()
    idx = [cols.index(c) for c in sorted(cols)]
    return sorted(cols), sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


def same_result(con, spark_dir, oracle_sql):
    """Compare a result dumped by Spark with its DuckDB reference: column
    names, then rows, both order-insensitive, values string-normalised."""
    files = glob.glob(f"{spark_dir}/*.parquet")
    if not files:
        return "no result written"
    scols, srows = _rows(con, f"SELECT * FROM read_parquet({files!r})")
    dcols, drows = _rows(con, oracle_sql)
    if scols != dcols:
        return f"columns {scols} != {dcols}"
    if len(srows) != len(drows):
        return f"{len(srows)} rows != {len(drows)}"
    for a, b in zip(srows, drows):
        if a != b:
            return f"row {a} != {b}"
    return None


def curate_stream(raw, inputs_rec):
    """The curated rollup equals the pipeline's reference SQL over the landed
    batches; every landed batch was ingested exactly once; in a traced run,
    compaction kept every MoR row."""
    con = duckdb.connect()
    chk = raw["check"]
    streams = raw["figures"]["streams"]
    maint = raw["maintenance"]
    attempted = sum(len(s["batch_s"]) for s in streams) + 2 * ("compact_s" in maint)
    notes = []
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{chk['landed']}/*/*.parquet')")
    err = same_result(con, chk["rollup"], chk["oracle"])
    if err:
        notes.append(f"rollup: {err}")
    ingest = {r["batch"]: r["input_rows"] for r in chk["stage_rows"] if r["stage"] == "llm_ingest"}
    if sorted(ingest.values()) != sorted(inputs_rec["stream"]["batch_rows"]):
        notes.append(f"ingested per batch {ingest} != batch files {inputs_rec['stream']['batch_rows']}")
    if maint and maint["mor_rows"] != maint["compacted_rows"]:
        notes.append(f"compaction kept {maint['compacted_rows']} of {maint['mor_rows']} rows")
    # a wrong final state is charged to every batch that produced it
    failed = attempted if notes else 0
    return attempted, failed, notes


def query_mix(raw, corpus):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    chk = raw["check"]
    passes = 1 + len(raw["figures"]["warm"])
    notes = []
    for name, sql in chk["oracle"].items():
        err = "no reference SQL" if sql is None else same_result(con, f"{chk['dir']}/{name}", sql)
        if err:
            notes.append(f"{name}: {err}")
    return passes * len(chk["oracle"]), passes * len(notes), notes
