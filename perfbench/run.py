#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, one workload per run.

    python3 perfbench/run.py --workload ingest_drip --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The engine is compiled from that
checkout's sources (see build.py), the workload's inputs are generated from
the seed, and one JVM runs a single client thread in a closed loop on a
`GraftSession.builder("local[N]", N)` session. The loop runs a fixed quota
of work that depends only on `--seconds` (see `quota`), so a run does the
same work however fast the engine is. The outputs
are checked, every metric is printed by name and unit, and the last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
run also records spans around every call into a layer and the Spark jobs
each span ran, and the metrics are the per-layer ones. A traced run writes
its spans, jobs and layer report under `<build dir>/trace/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from metrics import UNIT_OPS, end_to_end, emit, print_table  # noqa: E402

WORKLOADS = ("ingest_drip", "lakehouse_dml", "curate_corpus")
SETUP_REPS = {"ingest_drip": 2, "lakehouse_dml": 2, "curate_corpus": 2}
# the time one unit of work (metrics.UNIT_OPS) took at this benchmark's
# first version on a 4-vCPU x86 host
NOMINAL_UNIT_S = {"ingest_drip": 0.5, "lakehouse_dml": 4.0, "curate_corpus": 5.0}
MIN_UNITS = {"ingest_drip": 20, "lakehouse_dml": 2, "curate_corpus": 2}
# a ceiling only: the heap grows as the program needs it, so resident
# memory follows what the engine allocates
JVM_HEAP = "2g"
DIGESTS = os.path.join(HERE, "digests")
DEADLINE_S = 170
# one core fewer than the host has (at most 4) is left to the client thread,
# GC and the rest of the machine: run-to-run spread was lower than with all
CORES = max(1, min(4, os.cpu_count() or 1) - 1)


def quota(workload, seconds):
    """Operations one run executes: the whole units of work that take about
    `seconds` at the nominal speed. It depends on nothing measured."""
    units = max(MIN_UNITS[workload], round(seconds / NOMINAL_UNIT_S[workload]))
    return units * UNIT_OPS[workload]


def jvm_cmd(classes, args):
    # the module openings Spark needs outside spark-submit (as build.sbt)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    flags = [f"--add-opens={p}=ALL-UNNAMED" for p in opens]
    return (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={args['tmp']}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + flags +
            ["-cp", build.runtime_classpath(classes), "perfbench.Main"] +
            [str(args[k]) for k in ("workload", "seed", "ops", "trace",
                                    "in", "work", "out", "cores", "reps")])


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.monotonic()

    classes = build.build()   # exits non-zero when the engine sources are absent
    bdir = build.build_dir()
    run_dir = os.path.join(bdir, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    paths = {k: os.path.join(run_dir, k) for k in ("in", "work", "out", "tmp")}
    for p in paths.values():
        os.makedirs(p)

    n_ops = quota(a.workload, a.seconds)
    units = {gen.UNITS[a.workload]: n_ops // UNIT_OPS[a.workload]} \
        if a.workload in gen.UNITS else {}
    t0 = time.monotonic()
    truth = gen.generate(a.workload, a.seed, paths["in"], **units)
    gen_s = time.monotonic() - t0

    t_jvm = time.monotonic()
    log_path = os.path.join(run_dir, "jvm.log")
    cmd = jvm_cmd(classes, dict(paths, workload=a.workload, seed=a.seed,
                                ops=n_ops, trace=a.trace,
                                cores=CORES, reps=SETUP_REPS[a.workload]))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    result_path = os.path.join(paths["out"], "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        sys.stderr.write(f"\nperfbench: JVM exited with {rc}\n")
        return 1
    with open(result_path) as fh:
        result = json.load(fh)
    ops = read_jsonl(os.path.join(paths["out"], "ops.jsonl"))
    if not ops:
        sys.stderr.write("perfbench: the run completed no operation\n")
        return 1

    t_check = time.monotonic()
    digest_file = os.path.join(DIGESTS, f"{a.workload}.json")
    n_checks, failures = checks.check(a.workload, paths["in"], paths["out"],
                                      truth, ops, result["summary"], digest_file)
    # op errors are already failed checks; a failed finish is one more
    extra = [e for e in result["errors"] if e.startswith("finish")]
    failures = [f"jvm: {e}" for e in extra] + failures
    attempted = n_checks + len(extra)
    failed = min(attempted, len(failures))
    for f in failures[:20]:
        sys.stderr.write(f"CHECK FAILED: {f}\n")
    sys.stderr.write(
        f"perfbench: inputs {gen_s:.1f} s, jvm {t_check - t_jvm:.1f} s "
        f"(boot {result['boot_s']:.1f}, setup {sum(result['setup_rep_s']):.1f}, "
        f"warm-up {result['warmup_s']:.1f}, "
        f"loop {result['loop_s']:.1f}), checks {time.monotonic() - t_check:.1f} s\n")

    e2e, named = end_to_end(a.workload, result, ops, truth, gen_s, paths,
                            attempted, failed)
    if a.trace:
        trace_dir = os.path.join(bdir, "trace", f"{a.workload}-seed{a.seed}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        for f in ("spans.jsonl", "jobs.jsonl", "queries.jsonl", "ops.jsonl"):
            src = os.path.join(paths["out"], f)
            if os.path.exists(src):
                shutil.copy(src, trace_dir)
        per_layer, report = layers.per_layer(a.workload, result, ops,
                                             paths["out"])
        report["end_to_end"] = named
        with open(os.path.join(trace_dir, "layers.json"), "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
        print_table("per-layer (traced run)", report["layer_metrics"])
        print(f"trace written to {trace_dir}")
        metrics = per_layer
    else:
        print_table("end-to-end (workload names)", named)
        metrics = e2e
    print_table("metrics", metrics)
    shutil.rmtree(paths["work"], ignore_errors=True)
    shutil.rmtree(paths["tmp"], ignore_errors=True)
    print(emit(not failures, attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
