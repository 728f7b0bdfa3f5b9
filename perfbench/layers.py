"""Per-layer figures of a traced run, derived from its spans, jobs, writes
and trigger durations.

Layers are the program's modules: ``drivers``, ``mapper``, ``exec``,
``streaming`` and ``queries``. A job is charged to the layer of the write
it belongs to (classified by output path) or else to the innermost span
open when it started; jobs on the stream thread outside any driver call
run the executor's DAG and are charged to ``exec``. Additive figures are
per workload iteration (one load+rerun cycle, one stream, one warm pass).
"""
import statistics

from queries import QUERY_MIX

MIB = 1048576.0


def _union(intervals):
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _covered(window, intervals):
    a, b = window
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in _union(intervals))


def _layer(name):
    return name.split(".", 1)[0]


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _slope(ys):
    if len(ys) < 2:
        return 0.0
    n = len(ys)
    mx, my = (n - 1) / 2, sum(ys) / n
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum((i - mx) ** 2 for i in range(n))


def per_layer(raw, untraced, inputs_rec):
    """``untraced``: jobs, iterations and workload seconds of the same
    workload and seed run untraced."""
    tr = raw["trace"]
    wl = raw["workload"]
    iters = max(1, raw["iterations"])
    spans = {s["id"]: s for s in tr["spans"]}
    # the workload's writes, not the correctness gate's after it
    writes = [w for w in tr["writes"] if w["start"] <= raw["window_ms"][1]]
    wlayer = {w["execution"]: w["layer"] for w in writes}
    jobs = tr["jobs"]

    def job_layer(j):
        if j["execution"] in wlayer:
            return wlayer[j["execution"]]
        s = spans.get(j["span"])
        if s is None or s["name"] == "streaming.run":
            return "exec"
        return _layer(s["name"])

    by_layer = {}
    for j in jobs:
        by_layer.setdefault(job_layer(j), []).append(j)

    def jsum(layer, key, js=None):
        return sum(j[key] for j in (by_layer.get(layer, []) if js is None else js))

    def span_time(*names):
        return sum(s["end"] - s["start"] for s in tr["spans"] if s["name"] in names) / 1e3

    def wsum(layer, key, within=None):
        return sum(w[key] for w in writes if w["layer"] == layer and
                   (within is None or within[0] <= w["start"] <= within[1]))

    m = {}
    # drivers
    for w in writes:
        w["duration"] = w["end"] - w["start"]
    m["drivers.write_s"] = wsum("drivers", "duration") / 1e3 / iters
    m["drivers.write_rows"] = wsum("drivers", "rows") / iters
    m["drivers.write_bytes"] = wsum("drivers", "bytes") / iters
    m["drivers.write_files"] = wsum("drivers", "files") / iters
    m["drivers.snapshot_s"] = span_time("drivers.snapshot", "drivers.morSnapshot") / iters
    m["drivers.append_delta_s"] = span_time("drivers.appendDelta") / iters
    m["drivers.append_delta_calls"] = sum(
        s["name"] == "drivers.appendDelta" for s in tr["spans"]) / iters
    m["drivers.mor_read_s"] = span_time("drivers.mor_read")
    m["drivers.compact_s"] = span_time("drivers.compact")
    m["drivers.mor_segments"] = raw["maintenance"].get("mor_segments", 0)
    # mapper
    m["mapper.record_s"] = wsum("mapper", "duration") / 1e3 / iters
    m["mapper.record_calls"] = sum(w["layer"] == "mapper" for w in writes) / iters
    m["mapper.rows_written"] = wsum("mapper", "rows") / iters
    m["mapper.bytes_written"] = wsum("mapper", "bytes") / iters
    rerun = [(s["start"], s["end"]) for s in tr["spans"] if s["name"] == "exec.migrate.rerun"]
    if wl == "migrate_dag":
        mut = inputs_rec["mutation"].values()
        touched = sum(t["added"] + t["changed"] + t["deleted"] for t in mut) * iters
        new_or_changed = sum(t["added"] + t["changed"] for t in mut) * iters
        m["drivers.rewrite_ratio"] = sum(wsum("drivers", "rows", w) for w in rerun) / touched
        m["mapper.rewrite_ratio"] = sum(wsum("mapper", "rows", w) for w in rerun) / new_or_changed
    else:
        m["drivers.rewrite_ratio"] = 0.0
        out_rows = sum(r["output_rows"] for r in raw["check"].get("stage_rows", []))
        m["mapper.rewrite_ratio"] = (wsum("mapper", "rows") / out_rows
                                     if wl == "curate_stream" and out_rows else 0.0)
    # exec: windows are the migrate calls, or each micro-batch's addBatch
    batches = sorted(tr["batches"], key=lambda b: b["batch"])
    if wl == "migrate_dag":
        windows = [(s["start"], s["end"]) for s in tr["spans"] if s["name"].startswith("exec.")]
        txns = 6 * iters
    elif wl == "curate_stream":
        windows = [(b["start"], b["start"] + b["durations"].get("triggerExecution", 0))
                   for b in batches]
        txns = 5 * len(batches)
    else:
        windows, txns = [], 0
    others = [(s["start"], s["end"]) for s in tr["spans"] if s["name"].startswith("drivers.")]
    others += [(w["start"], w["end"]) for w in writes if w["layer"] != "exec"]
    job_iv = [(j["start"], j["end"]) for j in jobs]
    if wl == "migrate_dag":
        busy = sum(b - a for a, b in windows)
    else:
        busy = sum(b["durations"].get("addBatch", 0) for b in batches)
    m["exec.self_s"] = max(0.0, busy - sum(_covered(w, others) for w in windows)) / 1e3 / iters
    m["exec.cpu_s"] = jsum("exec", "cpu_ns") / 1e9 / iters
    m["exec.shuffle_read_bytes"] = jsum("exec", "shuffle_read") / iters
    m["exec.shuffle_write_bytes"] = jsum("exec", "shuffle_write") / iters
    m["exec.spill_bytes"] = jsum("exec", "spill") / iters
    m["exec.jobs"] = len(by_layer.get("exec", [])) / iters
    m["exec.tasks"] = jsum("exec", "tasks") / iters
    in_windows = [j for j in jobs if any(a <= j["start"] <= b for a, b in windows)]
    m["exec.jobs_per_txn"] = len(in_windows) / txns if txns else 0.0
    m["exec.driver_gap_s"] = sum((b - a) - _covered((a, b), job_iv)
                                 for a, b in windows) / 1e3 / iters
    m["exec.tasks_failed"] = sum(j["tasks_failed"] for j in jobs)
    # streaming: batches after the first, which publishes the base generation
    later = batches[1:]
    m["streaming.trigger_overhead_s"] = _median(
        [(b["durations"].get("triggerExecution", 0) - b["durations"].get("addBatch", 0)) / 1e3
         for b in later])
    m["streaming.commit_s"] = _median(
        [(b["durations"].get("commitOffsets", 0) + b["durations"].get("walCommit", 0)) / 1e3
         for b in later])
    # over every batch: the stream is short, so the first one is needed
    m["streaming.batch_slope_s"] = _slope(
        [b["durations"].get("triggerExecution", 0) / 1e3 for b in batches])
    streams = raw["figures"].get("streams", [])
    docs = sum(inputs_rec.get("stream", {}).get("batch_rows", []))
    m["streaming.docs_per_s"] = (docs * len(streams) /
                                 sum(s["stream_s"] for s in streams)) if streams else 0.0
    # queries: the warm passes
    if wl == "query_mix":
        f = raw["figures"]
        warm = {q: _median([p[q] for p in f["warm"]]) for q in QUERY_MIX}
        m["queries.cold_extra_s"] = sum(f["cold"].values()) - sum(warm.values())
    else:
        warm = {q: 0.0 for q in QUERY_MIX}
        m["queries.cold_extra_s"] = 0.0
    for q in QUERY_MIX:
        m[f"queries.{q}.warm_s"] = warm[q]
    warm_ids = {i for i, s in spans.items() if s["name"].startswith("queries.warm.")}
    wj = [j for j in by_layer.get("queries", []) if j["span"] in warm_ids]
    m["queries.jobs"] = len(wj) / iters
    m["queries.tasks"] = jsum("queries", "tasks", wj) / iters
    m["queries.cpu_s"] = jsum("queries", "cpu_ns", wj) / 1e9 / iters
    m["queries.shuffle_bytes"] = (jsum("queries", "shuffle_read", wj) +
                                  jsum("queries", "shuffle_write", wj)) / iters
    m["queries.spill_bytes"] = jsum("queries", "spill", wj) / iters
    m["queries.driver_gap_s"] = sum(
        (s["end"] - s["start"]) - _covered((s["start"], s["end"]), job_iv)
        for i, s in spans.items() if i in warm_ids) / 1e3 / iters
    held = raw["held"]
    m["queries.persisted_rdds"] = held["persisted_rdds"]
    m["queries.storage_mb"] = (held["block_mem_bytes"] + held["block_disk_bytes"]) / MIB
    # session
    m["jvm.gc_s"] = raw["gc_s"]
    m["spark.peak_exec_mem_mb"] = max([j["peak_mem"] for j in jobs] or [0]) / MIB
    # the tracing itself
    m["trace.overhead_s"] = ((raw["window_ms"][1] - raw["window_ms"][0]) / 1e3 -
                             untraced["window_s"])
    m["trace.jobs"] = raw["jobs"]
    m["trace.jobs_diff"] = abs(raw["jobs"] - untraced["jobs"])
    return m
