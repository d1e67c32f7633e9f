"""Per-layer metrics of a traced run, from its spans, Spark jobs, query
scans and filesystem observations.

A span is one benchmark call into a layer's public function; each Spark
job carries the id of the span it ran under (a local property), and its
module is the repo module at the job's recorded call site. Jobs that run
under an operation's root span are the benchmark's own probes and are left
out. Per-operation values are averages over the traced operations.

`per_layer` returns the metrics the JSON line carries (every workload
reports all of them; a layer a workload bypasses reads 0) and a report
that adds the workload's own per-layer times and, for each metric, the
end-to-end metric it should move.
"""
import json
import os
import statistics

from gen import LAKE, STAGES
from metrics import (READS, WRITES, call_s, late_over_early, op_times,
                     unit_tail)

LAYERS = ["client", "ingest", "views", "sources", "plans", "sink",
          "operators", "functions", "multimodal"]
MODULES = ["ingest", "sink", "ledger", "schema", "views", "sources", "plans",
           "operators", "functions", "multimodal"]
LAKE_OPS = ["point_read", "range_read", "agg_read", "cdf_read", "sql_delete",
            "sql_update", "merge", "append", "optimize", "checkpoint"]

# name -> (unit, end-to-end metric it should move); order of BENCHMARK.json
PER_LAYER = {
    "spark.jobs": ("count", "op_s_p50"),
    "spark.stages": ("count", "op_s_p50"),
    "spark.tasks": ("count", "op_s_p50"),
    "spark.job_s": ("s", "op_s_p50"),
    "spark.driver_gap_s": ("s", "op_s_p50"),
    "spark.task_s": ("s", "items_per_s"),
    "jvm.gc_s": ("s", "op_s_tail"),
    "spark.shuffle_write_bytes": ("bytes", "items_per_s"),
    "spark.spill_bytes": ("bytes", "op_s_tail"),
    "spark.input_bytes": ("bytes", "op_s_p50"),
    "fs.bytes_written": ("bytes", "stored_bytes_ratio"),
    "fs.files_written": ("count", "stored_bytes_ratio"),
    "trace.spans": ("count", "op_s_p50"),
    "trace.overhead_frac": ("ratio", "op_s_p50"),
    "late_over_early": ("ratio", "op_s_tail"),
    **{f"self_frac.{l}": ("ratio", "op_s_p50") for l in LAYERS},
    **{f"spark.job_frac.{m}": ("ratio", "op_s_p50") for m in MODULES},
    "ledger.files": ("count", "op_s_p50"),
    "sink.log_bytes_per_commit": ("bytes", "stored_bytes_ratio"),
    "sink.files_per_commit": ("count", "stored_bytes_ratio"),
    "sources.files_read_frac": ("ratio", "op_s_p50"),
    "plans.dml_bytes_read_per_matched_byte": ("ratio", "op_s_p50"),
    "lake.versions_since_checkpoint": ("count", "op_s_tail"),
    "lake.live_files": ("count", "op_s_tail"),
    "sink.bytes_written_per_changed_row": ("bytes", "stored_bytes_ratio"),
    "maintenance.bytes_rewritten": ("bytes", "op_s_tail"),
    "operators.lsh_pair_yield": ("ratio", "items_per_s"),
    **{f"spark.jobs.{k}": ("count", "items_per_s") for k in LAKE_OPS},
}


def _jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(x) for x in fh if x.strip()]


def _union(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


class Trace:
    """Spans, jobs and scans of one traced run, joined."""

    def __init__(self, out_dir):
        self.spans = {s["id"]: s for s in _jsonl(os.path.join(out_dir, "spans.jsonl"))}
        self.jobs = _jsonl(os.path.join(out_dir, "jobs.jsonl"))
        self.queries = _jsonl(os.path.join(out_dir, "queries.jsonl"))
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s)
        # attach each job to its span, by property or else by time
        for j in self.jobs:
            s = self.spans.get(j["span"])
            if s is None:
                inner = [x for x in self.spans.values()
                         if x["t0_ms"] <= j["t0_ms"] <= x["t1_ms"]]
                s = max(inner, key=lambda x: x["t0_ms"]) if inner else None
            j["_span"] = s
            j["_call"] = s is not None and s["parent"] != 0
            if j["t1_ms"] < 0:
                j["t1_ms"] = j["t0_ms"]
            j["_module"] = j["module"] or (s["layer"] if s else "client")

    def dur(self, s):
        return (s["t1_ms"] - s["t0_ms"]) / 1e3

    def self_s(self, s):
        kids = [(c["t0_ms"], c["t1_ms"]) for c in self.children.get(s["id"], [])]
        return self.dur(s) - _union(kids) / 1e3

    def call_jobs(self, op_id=None):
        return [j for j in self.jobs if j["_call"] and
                (op_id is None or j["_span"]["op"] == op_id)]

    def job_covered_s(self, span):
        iv = [(max(j["t0_ms"], span["t0_ms"]), min(j["t1_ms"], span["t1_ms"]))
              for j in self.jobs if j["_span"] is span]
        return _union([(a, b) for a, b in iv if b > a]) / 1e3

    def op_stats(self, op_id):
        """Spark accounting of one operation's call spans."""
        calls = [s for s in self.spans.values()
                 if s["op"] == op_id and s["parent"] != 0]
        js = self.call_jobs(op_id)
        job_s = sum(self.job_covered_s(s) for s in calls)
        return {
            "jobs": len(js), "stages": sum(j["stages"] for j in js),
            "tasks": sum(j["tasks"] for j in js), "job_s": job_s,
            "driver_gap_s": sum(self.dur(s) for s in calls) - job_s,
            "task_s": sum(j["task_ms"] for j in js) / 1e3,
            "gc_task_s": sum(j["gc_ms"] for j in js) / 1e3,
            "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in js),
            "spill_bytes": sum(j["spill_bytes"] for j in js),
            "input_bytes": sum(j["input_bytes"] for j in js),
            "spans": len(calls) + 1,
        }


def overhead(traced, untraced):
    """The tracing overhead: median over operation kinds of (traced p50 /
    untraced p50) - 1, with the per-kind ratios. Its noise floor is the same
    statistic taken between two halves of the untraced samples (alternate
    ones); the overhead is resolved only when it exceeds that floor. Kinds
    without both samples are left out."""
    ratios, noise = {}, []
    for k in sorted({o["kind"] for o in traced}):
        t = [call_s(o) for o in traced if o["kind"] == k]
        u = [call_s(o) for o in untraced if o["kind"] == k]
        if t and u and _med(u) > 0:
            ratios[k] = _med(t) / _med(u) - 1
        if len(u) >= 2 and _med(u[1::2]) > 0:
            noise.append(abs(_med(u[0::2]) / _med(u[1::2]) - 1))
    frac = _med(list(ratios.values())) if ratios else 0.0
    floor = _med(noise)
    return frac, {"by_kind": ratios, "noise_frac": floor,
                  "resolved": bool(ratios) and abs(frac) > floor}


def per_layer(workload, result, ops, out_dir):
    tr = Trace(out_dir)
    traced = [o for o in ops if o["traced"] and o["ok"]]
    untraced = [o for o in ops if not o["traced"] and o["ok"]]
    stats = {o["idx"]: tr.op_stats(o["idx"]) for o in traced}
    n = max(1, len(traced))

    def per_op(key, subset=None):
        xs = [stats[o["idx"]][key] for o in (subset if subset is not None else traced)]
        return _mean(xs)

    m = {k: 0.0 for k in PER_LAYER}
    for k in ("jobs", "stages", "tasks", "job_s", "driver_gap_s", "task_s",
              "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        m[f"spark.{k}"] = per_op(k)
    m["trace.spans"] = per_op("spans")
    m["jvm.gc_s"] = result["gc_s"] / max(1, len(ops))
    m["trace.overhead_frac"], over = overhead(traced, untraced)
    m["late_over_early"] = late_over_early(op_times(workload, ops))

    # self time by layer, job time by module: shares of the traced total
    self_by = {}
    for s in tr.spans.values():
        self_by[s["layer"]] = self_by.get(s["layer"], 0.0) + tr.self_s(s)
    total_self = sum(self_by.values()) or 1.0
    for l in LAYERS:
        m[f"self_frac.{l}"] = self_by.get(l, 0.0) / total_self
    job_by = {}
    for j in tr.call_jobs():
        job_by[j["_module"]] = job_by.get(j["_module"], 0.0) + \
            (j["t1_ms"] - j["t0_ms"]) / 1e3
    total_job = sum(job_by.values()) or 1.0
    for mod in MODULES:
        m[f"spark.job_frac.{mod}"] = job_by.get(mod, 0.0) / total_job

    fs_ops = [o for o in traced if "data_bytes" in o]
    m["fs.bytes_written"] = _mean([o.get("data_bytes", 0) + o.get("log_bytes", 0) +
                                   o.get("ledger_bytes", 0) + o.get("out_bytes", 0)
                                   for o in traced])
    m["fs.files_written"] = _mean([o.get("data_files", 0) + o.get("log_files", 0)
                                   for o in traced])

    named = {}   # the workload's own per-layer metrics: name -> (value, unit, moves)
    summary = result["summary"]
    if workload == "ingest_drip":
        ok = [o for o in ops if o["ok"]]
        m["ledger.files"] = summary.get("ledger_files", 0)
        commits = [o for o in fs_ops if o.get("data_files", 0) > 0]
        m["sink.log_bytes_per_commit"] = _mean([o["log_bytes"] for o in commits])
        m["sink.files_per_commit"] = _mean([o["data_files"] for o in commits])
        named.update({
            "ingest.plan_s": (_med([o["plan_s"] for o in ok]), "s", "ingest.batch_s_p50"),
            "ingest.execute_s": (_med([o["execute_s"] for o in ok]), "s",
                                 "ingest.batch_s_p50, ingest.rows_per_s"),
            "views.read_s": (_med([o["view_s"] for o in ok]), "s", "ingest.batch_s_p50"),
            "ingest.late_over_early": (m["late_over_early"], "ratio", "ingest.batch_s_tail"),
            "ledger.files": (m["ledger.files"], "count", "ingest.plan_s"),
            "sink.log_bytes_per_commit": (m["sink.log_bytes_per_commit"], "bytes",
                                          "ingest.execute_s, ingest.stored_bytes_per_input_byte"),
            "sink.files_per_commit": (m["sink.files_per_commit"], "count",
                                      "ingest.execute_s, ingest.stored_bytes_per_input_byte"),
        })
        for k in ("jobs", "tasks", "job_s", "driver_gap_s"):
            named[f"spark.{k} (per batch)"] = (m[f"spark.{k}"], PER_LAYER[f"spark.{k}"][0],
                                               "ingest.batch_s_p50")
    elif workload == "lakehouse_dml":
        ok = [o for o in ops if o["ok"]]
        for k in LAKE_OPS:
            xs = [call_s(o) for o in ok if o["kind"] == k]
            moves = ("lake.read_s_p50" if k in READS else
                     "lake.write_s_p50" if k in WRITES else "lake.write_s_tail, lake.read_s_tail")
            named[f"lake.{k}_s"] = (_med(xs), "s", moves + ", lake.ops_per_s")
            of = [o for o in traced if o["kind"] == k]
            m[f"spark.jobs.{k}"] = per_op("jobs", of) if of else 0.0
            named[f"spark.jobs.{k}"] = (m[f"spark.jobs.{k}"], "count", moves)
        reads = [o for o in traced if o["kind"] in ("point_read", "range_read", "agg_read")]
        files = {}
        byts = {}
        for q in tr.queries:
            files[q["op"]] = files.get(q["op"], 0) + q["files"]
            byts[q["op"]] = byts.get(q["op"], 0) + q["bytes"]
        m["sources.files_read_frac"] = _mean(
            [files.get(o["idx"], 0) / o["live_files"] for o in reads if o.get("live_files")])
        dml = [o for o in traced if o["kind"] in ("sql_delete", "sql_update")]
        matched = sum(o.get("matched_file_bytes", 0) for o in dml)
        m["plans.dml_bytes_read_per_matched_byte"] = (
            sum(byts.get(o["idx"], 0) for o in dml) / matched if matched else 0.0)
        m["lake.versions_since_checkpoint"] = _mean(
            [o["versions_since_checkpoint"] for o in fs_ops])
        m["lake.live_files"] = _mean([o["live_files_after"] for o in fs_ops])
        changed, written = 0, 0
        for o in traced:
            if o["kind"] not in WRITES:
                continue
            r = (o.get("result") or "").split("|")[0].split(":")
            rows = (LAKE["append_rows"] if o["kind"] == "append" else
                    int(r[0]) + int(r[1]) if o["kind"] == "merge" else
                    int(r[0] or 0))
            changed += rows
            written += o.get("data_bytes", 0) + o.get("log_bytes", 0)
        m["sink.bytes_written_per_changed_row"] = written / changed if changed else 0.0
        m["sink.log_bytes_per_commit"] = _mean(
            [o["log_bytes"] for o in fs_ops if o["kind"] in WRITES])
        m["sink.files_per_commit"] = _mean(
            [o["data_files"] for o in fs_ops if o["kind"] in WRITES])
        opt = [o for o in ops if o["kind"] == "optimize" and "data_bytes" in o]
        m["maintenance.bytes_rewritten"] = _mean([o["data_bytes"] for o in opt])
        p50 = {k: _med([call_s(o) for o in ok if o["kind"] == k]) for k in LAKE_OPS}
        stalls = []
        for i, o in enumerate(ops):
            if o["kind"] == "optimize":
                nxt = next((x for x in ops[i + 1:] if x["kind"] not in
                            ("optimize", "checkpoint")), None)
                if nxt is not None and nxt["ok"]:
                    stalls.append(call_s(nxt) - p50[nxt["kind"]])
        for k, unit, moves in (
                ("sources.files_read_frac", "ratio", "lake.read_s_p50"),
                ("plans.dml_bytes_read_per_matched_byte", "ratio", "lake.write_s_p50"),
                ("sink.log_bytes_per_commit", "bytes", "lake.write_s_tail, lake.read_s_tail"),
                ("lake.versions_since_checkpoint", "count", "lake.write_s_tail, lake.read_s_tail"),
                ("lake.live_files", "count", "lake.write_s_tail, lake.read_s_tail"),
                ("sink.bytes_written_per_changed_row", "bytes",
                 "lake.write_s_p50, lake.stored_bytes_per_live_byte"),
                ("maintenance.bytes_rewritten", "bytes", "lake.write_s_tail, lake.read_s_tail")):
            named[k] = (m[k], unit, moves)
        named["maintenance.stall_s"] = (_mean(stalls), "s", "lake.write_s_tail, lake.read_s_tail")
    else:
        ok = [o for o in ops if o["ok"]]
        mh = [o for o in traced if o["kind"] == "minhash_dedup" and o.get("lsh_candidates")]
        cand = sum(o["lsh_candidates"] for o in mh)
        m["operators.lsh_pair_yield"] = (sum(o["lsh_verified"] for o in mh) / cand
                                         if cand else 0.0)
        for st in STAGES:
            named[f"curate.{st}_s"] = (_med([call_s(o) for o in ok if o["kind"] == st]),
                                       "s", "curate.docs_per_s")
        named["operators.lsh_pair_yield"] = (m["operators.lsh_pair_yield"], "ratio",
                                             "curate.minhash_dedup_s")
        for st in STAGES:
            of = [o for o in traced if o["kind"] == st]
            for k, unit in (("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
                            ("gc_task_s", "s"), ("task_s", "s"), ("driver_gap_s", "s")):
                name = "gc_s" if k == "gc_task_s" else k
                named[f"spark.{name}.{st}"] = (per_op(k, of) if of else 0.0, unit,
                                               "curate.docs_per_s")
        media = [call_s(o) for o in ok if o["kind"] == "media"]
        named["multimodal.images_per_s"] = (
            summary.get("media", 0) / _med(media) if media else 0.0, "images/s",
            "curate.media_s")
    job_s_mod = {f"spark.job_s.{k}": (v / n, "s", "which layer's jobs moved")
                 for k, v in sorted(job_by.items())}
    named.update(job_s_mod)
    self_s = {f"self_s.{k}": (v / n, "s", "") for k, v in sorted(self_by.items())}
    metrics = {k: (v, PER_LAYER[k][0]) for k, v in m.items()}
    report = {
        "workload": workload,
        "traced_ops": len(traced), "untraced_ops": len(untraced),
        "tracing_overhead": {
            "frac": m["trace.overhead_frac"], **over,
            "note": "same run, traced and untraced operations alternating "
                    "(whole cycles and passes for lakehouse and curate), "
                    "the same probes run before both; 'unresolved' when "
                    "the difference is within the untraced samples' own "
                    "spread",
            "status": "resolved" if over["resolved"] else "unresolved"},
        "per_layer": {k: {"value": v, "unit": PER_LAYER[k][0], "moves": PER_LAYER[k][1]}
                      for k, v in m.items()},
        "layer_metrics": {k: v for k, v in {**named, **self_s}.items()},
        "op_tail_percentile": unit_tail([o for o in ops if o["ok"]], 1.0)[1],
    }
    return metrics, report
