"""End-to-end metrics and the result printer.

Every workload reports the same end-to-end metrics (each metric is compared
per workload); what an "operation" and an "item" are depends on the
workload:

| workload      | operation                           | item            |
|---------------|-------------------------------------|-----------------|
| ingest_drip   | one batch: plan + execute + view     | row committed   |
| lakehouse_dml | one schedule cycle (16 operations)   | operation       |
| curate_corpus | one pass of the seven stages        | input document  |

Lake cycles and curation passes are the client's unit of work: their
operations differ in cost by design, and a percentile over such a mix
jumps between operation kinds from run to run. A run holds only a few
units, so the tail is taken over calls instead (see `unit_tail`), and the
rate over the median unit: a host stall in one call moves neither. A
curation run has 21 calls, three per stage, so its tail falls on each
stage's median call and equals `op_s_p50`; a longer run would give it one.

The same numbers under the names the workload design uses
(`ingest.batch_s_p50`, `lake.read_s_tail`, ...) are printed as a table
before the JSON line and kept in a traced run's layer report.
"""
import json
import math
import os
import statistics

from gen import CYCLE, STAGES

# name -> unit, in the order of BENCHMARK.json's "end_to_end"
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "items_per_s": "1/s",
    "stored_bytes_ratio": "ratio",
}

READS = {"point_read", "range_read", "agg_read", "cdf_read"}
# operations per unit of work
UNIT_OPS = {"ingest_drip": 1, "lakehouse_dml": len(CYCLE),
            "curate_corpus": len(STAGES)}
WRITES = {"sql_delete", "sql_update", "merge", "append"}


def tail(values):
    """The highest percentile with at least 10 samples beyond it, and that
    percentile; the maximum (percentile 100) when there are 10 or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    i = n - 11
    return xs[i], round(100.0 * (i + 1) / n, 1)


def unit_tail(ops, p50):
    """The time of a unit of work whose calls run at the tail, and that
    percentile: `p50` (the median unit) times the tail of every call's time
    over the median time of the calls of its kind. With one kind of call
    (ingest batches) this is the tail of the call times themselves."""
    by = {}
    for o in ops:
        by.setdefault(o["kind"], []).append(call_s(o))
    med = {k: statistics.median(v) for k, v in by.items()}
    ratios = [call_s(o) / med[o["kind"]] for o in ops if med[o["kind"]] > 0]
    if not ratios:
        return float("nan"), 100.0
    r, pct = tail(ratios)
    return p50 * r, pct


def call_s(op):
    return op.get("call_s", op["dur_s"])


def late_over_early(times):
    """Median time of the last tenth of operations over the first tenth's."""
    k = max(1, len(times) // 10)
    if len(times) < 2:
        return 1.0
    return statistics.median(times[-k:]) / statistics.median(times[:k])


def _bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def op_times(workload, ops):
    """Time of every complete unit of work, in order: the sum of its
    operations' calls; a unit with a failed operation is left out."""
    size = UNIT_OPS[workload]
    by = {}
    for o in ops:
        by.setdefault(o["idx"] // size, []).append(o)
    return [sum(call_s(o) for o in v) for v in by.values()
            if len(v) == size and all(o["ok"] for o in v)]


def end_to_end(workload, result, ops, truth, gen_s, paths, attempted, failed):
    """(metrics for the JSON line, the same under the workload's names)."""
    ok = [o for o in ops if o["ok"]]
    times = op_times(workload, ops) or [float("nan")]
    p50 = statistics.median(times)
    t, t_pct = unit_tail(ok, p50)
    summary = result["summary"]
    setup = (gen_s + result["boot_s"] + result["warmup_s"] +
             statistics.median(result["setup_rep_s"]))
    named = {
        "setup_s": (setup, "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
        "failed_frac": (failed / attempted, "ratio"),
        f"op_s_tail (p{t_pct:g} of {len(ok)} calls)": (t, "s"),
    }
    if workload == "ingest_drip":
        by = {b["name"]: b for b in truth["batches"]}
        rows = sum(by[o["batch"]]["rows"] for o in ok)
        landed = {f for o in ok for f in by[o["batch"]]["files"]}
        csv_bytes = sum(os.path.getsize(f[len("file://"):]) for f in landed)
        # the rows of a mean batch at the median batch's pace
        items = rows / max(1, len(ok)) / p50
        stored = summary.get("stored_bytes", 0) / max(1, csv_bytes)
        t_b, pct = tail(times)
        named.update({
            "ingest.batch_s_p50": (p50, "s"),
            f"ingest.batch_s_tail (p{pct:g}, n={len(times)})": (t_b, "s"),
            "ingest.rows_per_s": (items, "rows/s"),
            "ingest.stored_bytes_per_input_byte": (stored, "ratio")})
    elif workload == "lakehouse_dml":
        items = UNIT_OPS[workload] / p50
        stored = summary.get("stored_bytes", 0) / max(1, summary.get("live_parquet_bytes", 1))
        for cls, kinds in (("read", READS), ("write", WRITES)):
            xs = [call_s(o) for o in ok if o["kind"] in kinds] or [float("nan")]
            ct, cp = tail(xs)
            named[f"lake.{cls}_s_p50"] = (statistics.median(xs), "s")
            named[f"lake.{cls}_s_tail (p{cp:g}, n={len(xs)})"] = (ct, "s")
        named.update({"lake.cycle_s_p50": (p50, "s"),
                      "lake.ops_per_s": (items, "ops/s"),
                      "lake.stored_bytes_per_live_byte": (stored, "ratio")})
    else:
        items = truth["docs"] / p50
        inputs = sum(_bytes(p) for p in (
            os.path.join(paths["in"], "docs.parquet"),
            os.path.join(paths["in"], "emb.parquet"),
            os.path.join(paths["work"], "media.parquet")))
        written = sum(o.get("out_bytes", 0) for o in ok if o.get("pass") == 0)
        stored = written / max(1, inputs)
        named.update({"curate.docs_per_s": (items, "docs/s"),
                      "curate.pass_s_p50": (p50, "s"),
                      "curate.passes": (len(times), "count")})
    e2e = {
        "setup_s": setup,
        "peak_rss_mb": result["peak_rss_mb"],
        "ok_frac": (attempted - failed) / attempted,
        "op_s_p50": p50,
        "op_s_tail": t,
        "items_per_s": items,
        "stored_bytes_ratio": stored,
    }
    return {k: (v, END_TO_END[k]) for k, v in e2e.items()}, named


def _num(v):
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    return v


def emit(correct, attempted, failed, metrics):
    """The result line: exactly correct, attempted, failed and metrics."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": _num(v[0]), "unit": v[1]}
                    for k, v in metrics.items()}})


def print_table(title, metrics):
    print(f"== {title}")
    for k, v in metrics.items():
        val, unit = v[0], v[1]
        note = f"  -> {v[2]}" if len(v) > 2 and v[2] else ""
        s = f"{val:.6g}" if isinstance(val, float) else str(val)
        print(f"  {k:<48} {s:>14} {unit}{note}")
