"""Tests of the benchmark itself (no JVM needed):

    python3 -m unittest discover -s perfbench/tests

- the same seed gives byte-identical inputs, another seed different ones;
- the printer emits every metric BENCHMARK.json names, with its unit;
- each output check passes a right answer and rejects a planted wrong one;
- the work a run does depends only on `--seconds`, and a tracing overhead
  within the untraced samples' own spread is reported as unresolved;
- outside a checkout (no engine sources) the benchmark fails fast.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)
ROOT = os.path.dirname(PKG)
sys.path.insert(0, PKG)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import metrics  # noqa: E402

SMALL = {
    "ingest_drip": {"batches": 4, "warm_batches": 1, "rows_per_file": 20},
    "lakehouse_dml": {"base_rows": 40_000, "cycles": 2},
    "curate_corpus": {"base_docs": 300, "base_vectors": 120, "replicas": 2},
}


def tree_digest(d):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, d).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Tmp(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench_test_")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)


class SeededInputs(Tmp):
    def gen(self, workload, seed):
        d = os.path.join(self.tmp, workload)
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d, **SMALL[workload])
        return tree_digest(d)

    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a, b, c = self.gen(w, 7), self.gen(w, 7), self.gen(w, 8)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class Printer(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_end_to_end_names_and_units(self):
        want = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual(want, metrics.END_TO_END)
        line = metrics.emit(True, 3, 0, {k: (1.5, u) for k, u in want.items()})
        out = json.loads(line)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)

    def test_per_layer_names_and_units(self):
        want = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(want, {k: v[0] for k, v in layers.PER_LAYER.items()})

    def test_end_to_end_emits_every_metric(self):
        ops = [{"idx": i, "kind": "point_read", "dur_s": 0.1 + i / 100,
                "call_s": 0.1 + i / 100, "ok": True, "traced": False}
               for i in range(30)]
        result = {"boot_s": 2.0, "setup_rep_s": [3.0, 4.0], "warmup_s": 1.0,
                  "loop_s": 10.0,
                  "peak_rss_mb": 900.0,
                  "summary": {"stored_bytes": 120, "live_parquet_bytes": 100}}
        e2e, named = metrics.end_to_end("lakehouse_dml", result, ops, {}, 0.5,
                                        {}, 31, 0)
        self.assertEqual({k: v[1] for k, v in e2e.items()}, metrics.END_TO_END)
        self.assertAlmostEqual(e2e["setup_s"][0], 7.0)
        # one complete cycle of 16 calls, 0.10 s .. 0.25 s
        self.assertAlmostEqual(e2e["op_s_p50"][0], 2.8)
        self.assertAlmostEqual(e2e["items_per_s"][0], 16 / 2.8)
        self.assertTrue(all(v[0] > 0 for v in e2e.values()))
        self.assertIn("lake.read_s_p50", named)

    def test_unit_tail_ignores_one_stalled_call(self):
        kinds = ["read", "write"] * 32
        ops = [{"kind": k, "dur_s": (1.0 if k == "read" else 3.0) *
                (1 + (i % 8) / 100)} for i, k in enumerate(kinds)]
        calm, pct = metrics.unit_tail(ops, 10.0)
        ops[5]["dur_s"] = 60.0
        stalled, _ = metrics.unit_tail(ops, 10.0)
        self.assertEqual(pct, round(100 * 54 / 64, 1))
        self.assertGreater(calm, 10.0)
        self.assertAlmostEqual(stalled, calm, delta=0.01 * calm)

    def test_tail_has_ten_samples_beyond(self):
        v, pct = metrics.tail(list(range(100)))
        self.assertEqual(sum(1 for x in range(100) if x > v), 10)
        self.assertEqual(pct, 90.0)


def _write_pq(path, table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


class IngestCheck(Tmp):
    def run_check(self, dup_row):
        in_dir = os.path.join(self.tmp, "in")
        out = os.path.join(self.tmp, "out")
        truth = gen.generate("ingest_drip", 3, in_dir, **SMALL["ingest_drip"])
        batches = truth["batches"][:3]
        files = [f[len("file://"):] for b in batches for f in b["files"]]
        cols = ["timestamp", "utc_offset", "location", "temp_c", "humidity"]
        con = duckdb.connect()
        rel = con.execute(
            "SELECT CAST(timestamp AS TIMESTAMP) AS timestamp, CAST(utc_offset AS DOUBLE) "
            "AS utc_offset, location, CAST(temp_c AS DOUBLE) AS temp_c, "
            "CAST(humidity AS DOUBLE) AS humidity FROM read_csv([" +
            ",".join(f"'{f}'" for f in files) + "], header=true, union_by_name=true, "
            "null_padding=true, all_varchar=true) WHERE timestamp IS NOT NULL").arrow()
        if dup_row:
            rel = pa.concat_tables([rel, rel.slice(0, 1)])
        _write_pq(os.path.join(out, "final_table"), rel)
        uris = [f for b in batches for f in b["files"]]
        _write_pq(os.path.join(out, "ledger"), pa.table({"uri": uris}))
        ops = [{"idx": i, "batch": b["name"], "ok": True, "files": b["files"],
                "view_rows": b["rows"], "view_local_ms_sum": b["local_ms_sum"],
                "width": b["width"]} for i, b in enumerate(batches)]
        return checks.check_ingest(in_dir, out, truth, ops, {"columns": cols})

    def test_right_answer_passes(self):
        n, fails = self.run_check(dup_row=False)
        self.assertEqual(fails, [])
        self.assertEqual(n, 5)

    def test_duplicated_row_is_rejected(self):
        _, fails = self.run_check(dup_row=True)
        self.assertEqual(len(fails), 1)
        self.assertIn("final table", fails[0])


class LakeCheck(Tmp):
    def run_check(self, wrong_read, wrong_row):
        in_dir = os.path.join(self.tmp, "in")
        out = os.path.join(self.tmp, "out")
        truth = gen.generate("lakehouse_dml", 4, in_dir, **SMALL["lakehouse_dml"])
        # no warm-up cycle: the reference then starts from the base table
        open(os.path.join(in_dir, "warm_schedule.tsv"), "w").close()
        with open(os.path.join(in_dir, "schedule.tsv")) as fh:
            idx, kind, sql, _ = fh.readline().rstrip("\n").split("\t")
        self.assertEqual(kind, "point_read")
        con = duckdb.connect()
        base = os.path.join(in_dir, "base.parquet")
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{base}')")
        result = checks._fmt(con.execute(sql.replace("{t}", "t")).fetchall())
        if wrong_read:
            result = result.split(":")[0] + ":0"
        table = pq.read_table(base)
        if wrong_row:
            vals = table.column("value").to_pylist()
            vals[5] += 1.0
            table = table.set_column(table.schema.get_field_index("value"), "value",
                                     pa.array(vals))
        _write_pq(os.path.join(out, "final_table"), table)
        ops = [{"idx": 0, "kind": kind, "ok": True, "result": result}]
        return checks.check_lake(in_dir, out, truth, ops, {})

    def test_right_answer_passes(self):
        self.assertEqual(self.run_check(False, False)[1], [])

    def test_wrong_read_is_rejected(self):
        fails = self.run_check(True, False)[1]
        self.assertEqual(len(fails), 1)
        self.assertIn("point_read", fails[0])

    def test_wrong_final_row_is_rejected(self):
        fails = self.run_check(False, True)[1]
        self.assertEqual(len(fails), 1)
        self.assertIn("final table", fails[0])


class CurateCheck(Tmp):
    def outputs(self, in_dir, truth, keep_exact_dup=False):
        """Stage outputs a correct pipeline would write, from the truth."""
        con = duckdb.connect()
        docs = os.path.join(in_dir, "docs.parquet")
        s1 = sorted(r[0] for r in con.execute(
            f"SELECT min(doc_id) FROM read_parquet('{docs}') GROUP BY text").fetchall())
        if keep_exact_dup:
            s1.append(truth["exact_pairs"][0][1])
        near_b = {b for _, b in truth["near_pairs"]}
        s2 = [d for d in s1 if d not in near_b]
        pii = set(truth["pii_docs"])
        texts = dict(con.execute(
            f"SELECT doc_id, text FROM read_parquet('{docs}')").fetchall())
        s3 = [d for d in s2 if d not in pii and
              checks.LANG_STOPWORDS & set(texts[d].split())]
        s5 = s3[:int(0.9 * len(s3)) + 1]
        vb = {b for _, b in truth["vec_near_pairs"]}
        s6 = [v for v in range(truth["vectors"]) if v not in vb]
        s7 = ([i for i in range(200) if i % 2 == 0] +
              [checks.MEDIA_ID_OFFSET + d for d in range(truth["docs"])])
        p0 = os.path.join(self.tmp, "out", "pass0")
        ids = lambda xs, name="doc_id": pa.table({name: pa.array(xs, pa.int64())})
        _write_pq(os.path.join(p0, "s1"), ids(s1))
        _write_pq(os.path.join(p0, "s2"), ids(s2))
        _write_pq(os.path.join(p0, "s3"), ids(s3))
        _write_pq(os.path.join(p0, "s4"), pa.table({
            "doc_id": pa.array(s3, pa.int64()),
            "n_removed": pa.array([1] * len(s3), pa.int64())}))
        _write_pq(os.path.join(p0, "s5"), ids(s5))
        _write_pq(os.path.join(p0, "s6"), ids(s6, "vec_id"))
        _write_pq(os.path.join(p0, "s7"), ids(s7, "media_id"))
        return os.path.join(self.tmp, "out")

    def run_check(self, keep_exact_dup=False, digest_drift=False,
                  ref_drift=False, recorded=True):
        in_dir = os.path.join(self.tmp, "in")
        truth = gen.generate("curate_corpus", 5, in_dir, **SMALL["curate_corpus"])
        out = self.outputs(in_dir, truth, keep_exact_dup)
        ops = [{"idx": 7 * p + k, "stage": st, "pass": p, "ok": True,
                "digest": f"{k}:{p if digest_drift and k == 3 else 0}"}
               for p in range(2) for k, st in enumerate(gen.STAGES)]
        rec = {st: f"{k}:9" for k, st in enumerate(gen.STAGES)}
        digest_file = os.path.join(self.tmp, "digests.json")
        if recorded:
            with open(digest_file, "w") as fh:
                json.dump(rec, fh)
        got = dict(rec, lm_gate="4:8") if ref_drift else rec
        return checks.check_curate(in_dir, out, truth, ops,
                                   {"ref_digests": got}, digest_file)

    def test_right_answer_passes(self):
        self.assertEqual(self.run_check()[1], [])

    def test_kept_exact_duplicate_is_rejected(self):
        fails = self.run_check(keep_exact_dup=True)[1]
        self.assertTrue(any("exact_dedup" in f for f in fails), fails)

    def test_digest_drift_is_rejected(self):
        fails = self.run_check(digest_drift=True)[1]
        self.assertTrue(any("digest" in f for f in fails), fails)

    def test_reference_digest_drift_is_rejected(self):
        fails = self.run_check(ref_drift=True)[1]
        self.assertEqual(len(fails), 1)
        self.assertIn("lm_gate", fails[0])

    def test_missing_recorded_digest_is_rejected(self):
        fails = self.run_check(recorded=False)[1]
        self.assertEqual(len(fails), 1)
        self.assertIn("recorded", fails[0])

    def test_recorded_digests_cover_every_stage(self):
        with open(os.path.join(PKG, "digests", "curate_corpus.json")) as fh:
            self.assertEqual(set(json.load(fh)), set(gen.STAGES))

    def test_removal_without_near_duplicate_is_rejected(self):
        texts = {1: "a b c d e f g h", 2: "a b c d e f g x", 3: "p q r s t u v w"}
        self.assertEqual(checks.near_dup_partners(texts, [2, 3], 0.5),
                         {2: True, 3: False})


class RunShape(unittest.TestCase):
    def test_quota_depends_only_on_seconds(self):
        import run
        for w in gen.GENERATORS:
            q = run.quota(w, 15)
            self.assertEqual(q % metrics.UNIT_OPS[w], 0)
            self.assertEqual(q, run.quota(w, 15))
            self.assertGreaterEqual(run.quota(w, 60), q)

    def test_overhead_within_noise_is_unresolved(self):
        mk = lambda k, ts, tr: [{"kind": k, "dur_s": t, "traced": tr} for t in ts]
        noisy = mk("a", [1.0, 1.4, 1.0, 1.4], False)
        frac, info = layers.overhead(mk("a", [1.1, 1.1], True), noisy)
        self.assertFalse(info["resolved"])
        frac, info = layers.overhead(mk("a", [2.0, 2.0], True),
                                     mk("a", [1.0, 1.01, 1.0, 1.01], False))
        self.assertTrue(info["resolved"])
        self.assertAlmostEqual(frac, 2.0 / 1.005 - 1)


class OutsideCheckout(Tmp):
    def test_fails_fast_without_engine_sources(self):
        shutil.copytree(PKG, os.path.join(self.tmp, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), self.tmp)
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            "ingest_drip", "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=self.tmp, capture_output=True,
                           text=True, timeout=120)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"metrics"', r.stdout)


if __name__ == "__main__":
    unittest.main()
