#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program from source (once
per source tree, under .bench_build/), generates the workload's inputs
from the seed, runs the JVM harness (a closed loop with one client on
local[nproc]), checks every operation's output against the program's
DuckDB oracle, and prints a report line followed by the result as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones of a traced run, whose spans and listener events
are also written to .bench_build/perfbench/traces/. The exit code is 0
only when every operation succeeded and every output matched.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("etl_full", "mart_serving", "corpus_release")
# seconds from the end of the build to the end of the harness; the oracle
# checks that follow take a few more
RUN_LIMIT_S = 160


def compare(workload, res, inputs, build_dir, work):
    """Check every digest the run produced; return the failures."""
    with open(os.path.join(build_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    o = oracle.Oracle(inputs, sql, os.path.join(work, "tmp"))
    failures = []

    def mismatch(what, cycle, got, want):
        failures.append({"op": what, "cycle": cycle, "class": "OutputMismatch",
                         "message": f"digest {got} != oracle {want}"})

    reads = [op for op in res["ops"] if op["kind"].startswith("read:")]
    if workload == "etl_full":
        want = oracle.expected_tables(o)
        for c in res["checks"]:
            if not c["error"] and c["digest"] != want[c["name"]]:
                mismatch(c["name"], c["cycle"], c["digest"], want[c["name"]])
    if workload == "corpus_release":
        expected = oracle.expected_corpus(o, reads)
    else:
        with open(os.path.join(inputs, "ops.json")) as f:
            expected = oracle.expected_reads(o, json.load(f), reads)
    for op, pred, d in expected:
        if op["error"]:
            continue
        if op["arg"] != pred:
            failures.append({"op": op["kind"], "cycle": op["cycle"],
                             "class": "PlanMismatch",
                             "message": f"read {op['arg']!r} != plan {pred!r}"})
        elif op["digest"] != d:
            mismatch(op["kind"], op["cycle"], op["digest"], d)
    return failures


def end_to_end(workload, res, t_setup):
    timed = [c for c in res["cycles"] if c["timed"] and not c["traced"]]
    walls = [c["wall_s"] for c in timed]
    ids = {c["cycle"] for c in timed}
    ops = [op for op in res["ops"] if op["cycle"] in ids]
    read_ms = [op["ms"] for op in ops if op["kind"].startswith("read:")]
    write_ms = [op["ms"] for op in ops if op["kind"] == "write"]
    if workload != "mart_serving":
        rows = len(timed) * gen.source_rows(workload)
    else:
        rows = (sum(op["rows"] for op in ops if op["kind"].startswith("read:"))
                + gen.CHANGE_BATCH_ROWS * len(write_ms))
    return {
        "setup_s": (res["ready_ms"] / 1e3 - t_setup, "s"),
        "cycle_p50_s": (tracing.median(walls), "s"),
        "rows_per_s": (rows / sum(walls), "rows/s"),
        "read_p50_ms": (tracing.median(read_ms), "ms"),
        "write_p50_ms": (tracing.median(write_ms), "ms"),
        "cpu_s_per_cycle": (sum(c["cpu_s"] for c in timed) / len(timed), "s"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }, len(timed), read_ms


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    try:
        build_dir = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    # set-up: input generation, JVM and session start, the workload's
    # set-up, up to the warm-up cycle (the harness stamps its end in epoch
    # time)
    t_setup = time.time()
    t_start = time.monotonic()
    work = os.path.abspath(os.path.join(
        build.BUILD_ROOT, f"run-{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen.generate(a.workload, a.seed, inputs)
        log = os.path.join(work, "harness.log")
        args = ["--workload", a.workload, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--inputs", inputs, "--work", work,
                "--out", os.path.join(work, "result.json")]
        try:
            rc = build.run_harness(build_dir, args, work, log,
                                   RUN_LIMIT_S - (time.monotonic() - t_start))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        t_jvm = time.monotonic()
        if rc != 0:
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            print(f"perfbench: harness failed ({rc})", file=sys.stderr)
            return 3
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        failures = [dict(op=op["kind"], cycle=op["cycle"], **op["error"])
                    for op in res["ops"] if op["error"]]
        failures += [dict(op=c["name"], cycle=c["cycle"], **c["error"])
                     for c in res["checks"] if c["error"]]
        failures += compare(a.workload, res, inputs, build_dir, work)
        attempted = len(res["ops"]) + len(res["checks"])
        e2e, n_cycles, read_ms = end_to_end(a.workload, res, t_setup)
        report = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        p90 = tracing.tail(read_ms)
        report["read_p90_ms"] = ({"value": p90, "unit": "ms"} if p90 is not None else
                                 {"value": None, "unit": "ms",
                                  "note": f"needs >=10 reads beyond p90, have {len(read_ms)} reads"})
        if a.trace:
            layers, balanced, (spanned, wall) = tracing.per_layer(res)
            if not balanced:
                failures.append({"op": "trace", "cycle": -1, "class": "TraceImbalance",
                                 "message": f"layer self + driver self {spanned:.4f} s "
                                            f"!= traced cycle wall {wall:.4f} s"})
            metrics = {n: {"value": layers[n], "unit": u}
                       for n, u in tracing.per_layer_names()}
            tdir = os.path.join(build.BUILD_ROOT, "traces")
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, f"{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "cycles": res["cycles"], "spans": res["spans"],
                           "counters": res["counters"], "events": res["events"],
                           "per_layer": layers}, f)
        else:
            metrics = {k: report[k] for k in e2e}
        failed = len(failures)
        report["fail_frac"] = {"value": failed / attempted, "unit": "ratio"}
        print(f"perfbench: inputs and harness {t_jvm - t_start:.1f} s, "
              f"checks {time.monotonic() - t_jvm:.1f} s", file=sys.stderr)
        print(json.dumps({"workload": a.workload, "seed": a.seed,
                          "cycle_walls_s": [c["wall_s"] for c in res["cycles"]],
                          "timed_cycles": n_cycles, "reads": len(read_ms),
                          "report": report, "failures": failures}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
