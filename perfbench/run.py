#!/usr/bin/env python3
"""The repository benchmark: one command for every workload.

    python3 perfbench/run.py --workload curate_stream --seed 1 --seconds 20 --trace 0

Builds the program from source (cached by source hash under
``$CARGO_TARGET_DIR``, default ``.bench_build``), generates the seeded
inputs, starts a fresh JVM (its start-up to a ready session is the
set-up time), runs the workload there through the program's public
entry points, checks the outputs against independent references, and
prints one JSON object as the last line of standard output.
``--trace 1`` runs the workload traced and prints the per-layer figures,
the tracing overhead and the difference in Spark jobs from the untraced
run of the same seed. See perfbench/METRICS.md.
"""
import argparse
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from queries import QUERY_MIX  # noqa: E402

WORKLOADS = ("migrate_dag", "curate_stream", "query_mix")
RUN_LIMIT_S = 175
HEAP = "-Xmx3g"
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


class Jvm:
    """One harness JVM. Times its start to the READY line; always reaped."""

    def __init__(self, classpath, root, args, deadline, log):
        self.deadline = deadline
        cmd = (["java"] + ADD_OPENS + [HEAP, f"-Djava.io.tmpdir={root}/tmp",
                                       f"-Dderby.system.home={root}/derby",
                                       "-cp", os.pathsep.join(classpath + [build.spark_jars()]),
                                       "perfbench.Main"] + args)
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log,
                                     text=True, start_new_session=True)

    def ready(self):
        for line in self.proc.stdout:
            if line.strip() == "READY":
                return time.monotonic() - self.t0
        return None

    def wait(self):
        try:
            self.proc.communicate(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if self.proc.poll() is None:
                os.killpg(self.proc.pid, signal.SIGKILL)
                self.proc.wait()
        return self.proc.returncode


def fail(msg, log=None):
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            tail = [ln for ln in f.read().splitlines() if " INFO " not in ln][-40:]
        print("\n".join(tail), file=sys.stderr)
    print(f"perfbench: {msg} (JVM walls so far: {walls} s)", file=sys.stderr)
    sys.exit(1)


walls = []  # wall time of every JVM, for the diagnostic line
steal = []  # share of this machine's CPU time the hypervisor took while each JVM ran


def _cpu_times():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(cp, root, args, deadline, log, setups):
    """Start a harness JVM, record its set-up time, wait for it, and load
    its output file."""
    c0 = _cpu_times()
    with open(log, "a") as lf:
        j = Jvm(cp, root, args, deadline, lf)
        setup = j.ready()
        code = j.wait()
    walls.append(round(time.monotonic() - j.t0, 2))
    c1 = _cpu_times()
    if c0 and c1 and c1[1] > c0[1]:
        steal.append(round((c1[0] - c0[0]) / (c1[1] - c0[1]), 4))
    if setup is None or code != 0:
        fail(f"harness JVM failed (exit {code})", log)
    setups.append(setup)
    with open(args[args.index("--out") + 1]) as f:
        return json.load(f)


def end_to_end(wl, raw, setups):
    f = raw["figures"]
    med = statistics.median
    if wl == "migrate_dag":
        cold = med([c["load_s"] for c in f["cycles"]])
        warm = med([c["rerun_s"] for c in f["cycles"]])
    elif wl == "curate_stream":
        cold = med([s["batch_s"][0] for s in f["streams"]])
        warm = med([b for s in f["streams"] for b in s["batch_s"][1:]])
    else:
        cold = sum(f["cold"].values())
        warm = med([sum(p.values()) for p in f["warm"]])
    return {"setup_s": setups[0], "cold_s": cold, "warm_s": warm,
            "held_storage_mb": raw["held"]["held_storage_mb"]}


def named_figures(wl, raw, docs):
    """The workload's figures under their own names (diagnostic line)."""
    f = raw["figures"]
    med = statistics.median
    if wl == "migrate_dag":
        return {"load_s": med([c["load_s"] for c in f["cycles"]]),
                "rerun_s": med([c["rerun_s"] for c in f["cycles"]]),
                "cycles": len(f["cycles"])}
    if wl == "curate_stream":
        later = [b for s in f["streams"] for b in s["batch_s"][1:]]
        return {"batch_p50_s": med(later), "batch_samples": len(later),
                "curate_docs_per_s": docs * len(f["streams"]) /
                sum(s["stream_s"] for s in f["streams"]),
                "streams": len(f["streams"])}
    return {"mix_cold_s": sum(f["cold"].values()),
            "mix_warm_s": med([sum(p.values()) for p in f["warm"]]),
            "warm_passes": len(f["warm"]), "cold_by_query_s": f["cold"],
            "warm_by_query_s": {q: med([p[q] for p in f["warm"]]) for q in f["cold"]}}


def _summary(raw):
    return {"jobs": raw["jobs"], "iterations": raw["iterations"],
            "window_s": (raw["window_ms"][1] - raw["window_ms"][0]) / 1e3}


def _untraced(ledger, seed):
    """The latest untraced record of ``seed`` in ``ledger``, if any."""
    if not os.path.exists(ledger):
        return None
    with open(ledger) as f:
        rows = [json.loads(ln) for ln in f if ln.strip()]
    same = [r for r in rows if r["seed"] == seed]
    return same[-1] if same else None


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (see perfbench/METRICS.md)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()
    deadline = time.monotonic() + RUN_LIMIT_S
    bdir = build.build_dir()
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        corpus = gen.ensure_corpus(os.path.join(
            bdir, "corpus-" + hashlib.sha256(fh.read()).hexdigest()[:16]))
    root = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    log = os.path.join(root, "jvm.log")
    try:
        inputs = os.path.join(root, "inputs")
        rec = gen.inputs(a.seed, a.workload, corpus, inputs, QUERY_MIX)
        cores = str(len(os.sched_getaffinity(0)))
        setups = []

        def workload(trace, extra=()):
            wroot = os.path.join(root, f"w{trace}")
            args = ["--workload", a.workload, "--corpus", corpus, "--inputs", inputs,
                    "--root", wroot, "--cores", cores, "--seconds", str(a.seconds),
                    "--trace", str(trace), "--out", os.path.join(root, f"out{trace}.json")]
            return run_jvm(cp, root, args + list(extra), deadline, log, setups)

        ledger = os.path.join(os.path.dirname(cp[0]), f"untraced-{a.workload}.jsonl")
        if a.trace:
            # The untraced figures the trace is compared with: an untraced run
            # of this build, workload and seed when one was made in this
            # checkout, else an untraced twin run now. Two full JVMs would
            # not fit the time limit on a slow host.
            untraced = _untraced(ledger, a.seed) or _summary(workload(0, ["--twin", "1"]))
            raw = workload(1, ["--iterations", str(untraced["iterations"])])
        else:
            raw = workload(0)
            with open(ledger, "a") as f:
                f.write(json.dumps(dict(_summary(raw), seed=a.seed)) + "\n")
        # correctness gates, outside every timed region
        if a.workload == "migrate_dag":
            attempted, failed, notes = check.migrate_dag(
                raw, rec, os.path.join(inputs, "migrate", "rerun"))
        elif a.workload == "curate_stream":
            attempted, failed, notes = check.curate_stream(raw, rec)
        else:
            attempted, failed, notes = check.query_mix(raw, corpus)
        errors = raw["failures"]
        failed = min(attempted, failed + len(errors))
        docs = sum(rec.get("stream", {}).get("batch_rows", []))
        diag = {"diag": "perfbench", "workload": a.workload, "seed": a.seed,
                "calibration_s": raw["calibration_s"], "setup_samples_s": setups,
                "iterations": raw["iterations"], "spark_jobs": raw["jobs"],
                "failed_frac": failed / attempted, "inputs": rec,
                "figures": named_figures(a.workload, raw, docs), "held": raw["held"],
                "jvm_walls_s": walls, "cpu_steal_frac": steal, "phases_s": raw["phases_s"],
                "errors": (errors + notes)[:20]}
        metrics = (layers.per_layer(raw, untraced, rec) if a.trace
                   else end_to_end(a.workload, raw, setups))
        # the declared metric set, with its units, is BENCHMARK.json's
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
        missing = [m["name"] for m in declared if m["name"] not in metrics]
        if missing:
            fail(f"metrics not produced: {missing}")
        print(json.dumps(diag))
        print(json.dumps({
            "correct": failed == 0 and not errors, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in declared}}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
