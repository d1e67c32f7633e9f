"""Output checks. Each returns the number of checks it made and the list of
failures; an operation whose own output is wrong is one failure, and each
failed whole-run check (final table, ledger, digests) is one more.

The references are independent of the engine: DuckDB reads the landed CSVs
and replays the lakehouse schedule on its own copy of the table, and the
curation stages are held to the planted truth, to exact Jaccard
similarities computed here, and to the stage digests of the reference
corpus recorded in `digests/curate_corpus.json`.
"""
import glob
import json
import math
import os

import duckdb

from gen import STAGES


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def _pq(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return "[" + ",".join("'" + f + "'" for f in files) + "]"


def _diff(con, a, b):
    """Rows of `a` missing from `b` plus rows of `b` missing from `a`."""
    n1 = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
    n2 = con.execute(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
    return n1 + n2


# ---------------------------------------------------------------- ingest

def check_ingest(in_dir, out_dir, truth, ops, summary):
    fails, n = [], 0
    by_name = {b["name"]: b for b in truth["batches"]}
    expected, loaded = [], []
    for op in ops:
        n += 1
        if not op["ok"]:
            fails.append(f"op {op['idx']} failed")
            continue
        t = by_name[op["batch"]]
        expected += t["files"]
        loaded += op["files"]
        if sorted(op["files"]) != sorted(t["files"]):
            fails.append(f"{op['batch']}: loaded {len(op['files'])} files, "
                         f"expected {len(t['files'])}")
        elif (op["view_rows"] != t["rows"] or
              op["view_local_ms_sum"] != t["local_ms_sum"]):
            fails.append(f"{op['batch']}: view read {op['view_rows']} rows "
                         f"(local time sum {op['view_local_ms_sum']}), expected "
                         f"{t['rows']} ({t['local_ms_sum']})")
        elif op["width"] != t["width"]:
            fails.append(f"{op['batch']}: table width {op['width']}, "
                         f"expected {t['width']}")
    con = _con()
    # the final table equals DuckDB's reading of the distinct landed CSVs
    n += 1
    cols = summary.get("columns", [])
    paths = [f[len("file://"):] for f in sorted(set(expected))]
    if not paths or not cols:
        fails.append("final table: nothing loaded")
    else:
        chans = [c for c in cols if c not in ("timestamp", "utc_offset", "location")]
        proj = ", ".join(['CAST("timestamp" AS TIMESTAMP) AS "timestamp"',
                          'CAST(utc_offset AS DOUBLE) AS utc_offset',
                          'CAST(location AS VARCHAR) AS location'] +
                         [f'CAST("{c}" AS DOUBLE) AS "{c}"' for c in chans])
        csv = ("read_csv([" + ",".join("'" + p + "'" for p in paths) + "], "
               "header=true, union_by_name=true, null_padding=true, "
               "all_varchar=true)")
        try:
            # null_padding reads each file's final newline as one empty row
            d = _diff(con, f'SELECT {proj} FROM {csv} WHERE "timestamp" IS NOT NULL',
                      f"SELECT {proj} FROM read_parquet({_pq(os.path.join(out_dir, 'final_table'))})")
            if d:
                fails.append(f"final table differs from the landed CSVs in {d} rows")
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails
            fails.append(f"final table: {e}")
    # one ledger row per landed file
    n += 1
    try:
        uris = [r[0] for r in con.execute(
            f"SELECT uri FROM read_parquet({_pq(os.path.join(out_dir, 'ledger'))})").fetchall()]
        if len(uris) != len(set(uris)) or set(uris) != set(expected):
            fails.append(f"ledger: {len(uris)} rows for {len(set(uris))} uris, "
                         f"expected one per {len(set(expected))} landed files")
    except Exception as e:  # noqa: BLE001
        fails.append(f"ledger: {e}")
    if len(loaded) != len(set(loaded)):
        fails.append("a file was loaded twice")
    return n, fails


# ------------------------------------------------------------------ lake

def _fmt(rows):
    return "|".join(":".join(str(v) for v in r) for r in rows)


def _schedule(path):
    with open(path) as fh:
        return [line.rstrip("\n").split("\t") for line in fh if line.strip()]


def check_lake(in_dir, out_dir, truth, ops, summary):
    """Replay the warm-up cycle and then every executed operation on a
    DuckDB copy of the base table, comparing each read's result, each DML
    statement's counts and each change-feed read with the replay, then the
    final table."""
    fails, n = [], 0
    con = _con()
    con.execute(f"""CREATE TABLE t AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        user_id, event_type, value, props
        FROM read_parquet('{os.path.join(in_dir, 'base.parquet')}')""")
    con.execute(f"""CREATE TABLE r AS SELECT op, event_id, CAST(ts AS TIMESTAMP) AS ts,
        user_id, event_type, value, props
        FROM read_parquet('{os.path.join(in_dir, 'rows.parquet')}')""")
    changes = [0, 0]   # inserted, deleted rows since the last change-feed read

    def apply(key, kind, arg, pred):
        """Run one operation on the reference; return what the engine's
        result should read (None where it returns nothing to compare)."""
        sql = arg.replace("{t}", "t")
        if kind in ("point_read", "range_read", "agg_read"):
            return _fmt(con.execute(sql).fetchall())
        if kind in ("sql_delete", "sql_update"):
            m = con.execute(f"SELECT count(*) FROM t WHERE {pred}").fetchone()[0]
            con.execute(sql)
            changes[0] += m if kind == "sql_update" else 0
            changes[1] += m
            return str(m)
        if kind in ("merge", "append"):
            src = f"(SELECT event_id FROM r WHERE op = '{key}')"
            m = con.execute(f"SELECT count(*) FROM t WHERE event_id IN {src}").fetchone()[0]
            s = con.execute(f"SELECT count(*) FROM r WHERE op = '{key}'").fetchone()[0]
            con.execute(f"DELETE FROM t WHERE event_id IN {src}")
            con.execute(f"INSERT INTO t SELECT event_id, ts, user_id, event_type, value, "
                        f"props FROM r WHERE op = '{key}'")
            changes[0] += s
            changes[1] += m
            return f"{m}:{s - m}" if kind == "merge" else None
        if kind == "cdf_read":
            want = f"{changes[0]}:{changes[1]}"
            changes[0] = changes[1] = 0
            return want
        return None   # optimize, checkpoint: layout only

    for key, kind, arg, pred in _schedule(os.path.join(in_dir, "warm_schedule.tsv")):
        apply(key, kind, arg, pred)
    changes[0] = changes[1] = 0
    sched = _schedule(os.path.join(in_dir, "schedule.tsv"))
    for k, op in enumerate(ops):
        n += 1
        if not op["ok"]:
            fails.append(f"op {op['idx']} ({op['kind']}) failed")
            continue
        key, kind, arg, pred = sched[k]
        want = apply(key, kind, arg, pred)
        if kind == "cdf_read":
            got = f"{op['inserts']}:{op['deletes']}"
        elif kind == "merge":
            got = _merge_counts(op.get("result"))
        elif kind in ("sql_delete", "sql_update"):
            got = _first_count(op.get("result"))
        else:
            got = op.get("result")
        if want is not None and got != want:
            fails.append(f"op {k} ({kind}): got {got!r}, reference {want!r}")
    n += 1
    cols = ("event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts, user_id, event_type, "
            "value, props")
    try:
        d = _diff(con, f"SELECT {cols} FROM t",
                  f"SELECT {cols} FROM read_parquet({_pq(os.path.join(out_dir, 'final_table'))})")
        if d:
            fails.append(f"final table differs from the reference model in {d} rows")
    except Exception as e:  # noqa: BLE001
        fails.append(f"final table: {e}")
    return n, fails


def _first_count(result):
    """The affected-row count a SQL DELETE or UPDATE returns."""
    return (result or "").split("|")[0].split(":")[0]


def _merge_counts(result):
    """`updated:inserted` from a MERGE's returned
    (updated_rows, inserted_rows, deleted_rows)."""
    return ":".join((result or "").split("|")[0].split(":")[:2])


# ---------------------------------------------------------------- curate

MEDIA_ID_OFFSET = 1_000_000


def check_curate(in_dir, out_dir, truth, ops, summary, digest_file):
    fails, n = [], 0
    con = _con()
    first = {}
    for op in ops:
        n += 1
        if not op["ok"]:
            fails.append(f"op {op['idx']} failed")
            continue
        st = op["stage"]
        if op["pass"] == 0:
            first[st] = op["digest"]
        elif first.get(st) != op["digest"]:
            fails.append(f"pass {op['pass']} {st}: digest {op['digest']} != "
                         f"pass 0 {first.get(st)}")
    # the warm-up pass over the reference corpus against the digests
    # recorded in the benchmark (a missing record is a failure too); after
    # an intended change of a stage's output, the digests this check prints
    # are recorded in their place
    n += 1
    got = summary.get("ref_digests", {})
    rec = {}
    if os.path.exists(digest_file):
        with open(digest_file) as fh:
            rec = json.load(fh)
    bad = [s for s in STAGES if rec.get(s) is None or got.get(s) != rec[s]]
    if bad:
        fails.append(f"reference-corpus stage digests {got} differ from the "
                     f"recorded {rec} in {bad}")
    n += 1
    try:
        fails += planted(con, in_dir, os.path.join(out_dir, "pass0"), truth)
    except Exception as e:  # noqa: BLE001
        fails.append(f"planted checks: {e}")
    return n, fails


def shingles(text):
    """Distinct word 3-grams of the lower-cased, whitespace-split text; a
    shorter text is one shingle (graft.operators.Dedup.shingleSet)."""
    t = text.strip().lower().split()
    if len(t) < 3:
        return {" ".join(t)}
    return {" ".join(t[k:k + 3]) for k in range(len(t) - 2)}


def near_dup_partners(texts, ids, threshold):
    """For each doc in `ids`, whether another doc of `texts` (id -> text)
    has word-3-gram Jaccard similarity >= threshold with it."""
    sh = {i: shingles(t) for i, t in texts.items()}
    inv = {}
    for i, s in sh.items():
        for x in s:
            inv.setdefault(x, []).append(i)
    out = {}
    for i in ids:
        shared = {}
        for x in sh[i]:
            for j in inv[x]:
                if j != i:
                    shared[j] = shared.get(j, 0) + 1
        out[i] = any(c / len(sh[i] | sh[j]) >= threshold - 1e-9
                     for j, c in shared.items())
    return out


# the stopwords language ID matches (graft.functions.TextAnalysis); a
# document with none of them is undetermined and filtered out
LANG_STOPWORDS = {"the", "a", "of", "and", "to", "in", "is", "it",
                  "el", "la", "de", "y", "que", "en", "es", "un",
                  "der", "die", "das", "und", "ist", "ein", "zu", "mit",
                  "le", "et", "est", "une", "dans",
                  "shi", "zai", "he", "you", "wo", "ta"}


def _ids(con, path, col="doc_id"):
    return {r[0] for r in con.execute(
        f"SELECT {col} FROM read_parquet({_pq(path)})").fetchall()}


def planted(con, in_dir, p0, truth):
    """Hold the first pass's stage outputs to the planted truth."""
    fails = []
    docs = os.path.join(in_dir, "docs.parquet")
    s = {k: os.path.join(p0, f"s{k}") for k in range(1, 8)}
    want1 = {r[0] for r in con.execute(
        f"SELECT min(doc_id) FROM read_parquet('{docs}') GROUP BY text").fetchall()}
    s1 = _ids(con, s[1])
    if s1 != want1:
        fails.append(f"exact_dedup kept {len(s1)} docs, expected {len(want1)}")
    s2 = _ids(con, s[2])
    near = [(a, b) for a, b in truth["near_pairs"] if a in s1 and b in s1]
    removed = s1 - s2
    texts = dict(con.execute(f"SELECT doc_id, text FROM read_parquet('{docs}')").fetchall())
    unmatched = [i for i, ok in near_dup_partners(
        {i: texts[i] for i in s1}, removed, 0.8).items() if not ok]
    if unmatched or not s2 <= s1:
        fails.append(f"minhash_dedup removed {len(unmatched)} docs with no "
                     "near duplicate at Jaccard >= 0.8")
    hit = sum(1 for a, b in near if a not in s2 or b not in s2)
    if near and hit < 0.9 * len(near):
        fails.append(f"minhash_dedup found {hit} of {len(near)} planted pairs")
    s3 = _ids(con, s[3])
    pii = set(truth["pii_docs"])
    und = {i for i in s2 if not LANG_STOPWORDS & set(texts[i].lower().split())}
    if s3 & (pii | und) or not s3 <= s2 or len(s3) < 0.9 * len(s2 - pii - und):
        fails.append(f"quality_filter kept {len(s3)} of {len(s2)} docs "
                     f"({len(s3 & pii)} with PII, {len(s3 & und)} with no "
                     "stopword)")
    s4 = _ids(con, s[4])
    n_removed = con.execute(
        f"SELECT coalesce(sum(n_removed), 0) FROM read_parquet({_pq(s[4])})").fetchone()[0]
    if s4 != s3 or n_removed <= 0:
        fails.append(f"segment_dedup kept {len(s4)} of {len(s3)} docs, "
                     f"removed {n_removed} segments")
    s5 = _ids(con, s[5])
    if not s5 <= s4 or not (math.floor(0.89 * len(s4)) <= len(s5) < len(s4)):
        fails.append(f"lm_gate kept {len(s5)} of {len(s4)} docs at the 0.9 cut")
    s6 = _ids(con, s[6], "vec_id")
    vremoved = set(range(truth["vectors"])) - s6
    vmembers = {x for p in truth["vec_near_pairs"] for x in p}
    vhit = sum(1 for a, b in truth["vec_near_pairs"] if a not in s6 or b not in s6)
    # SemDeDup compares vectors only within their IVF cell, so a planted
    # pair split across two cells is missed by design: on the sf0.1 vectors
    # with 16 cells 78% to 92% of the planted pairs share a cell
    if not vremoved <= vmembers or vhit < 0.6 * len(truth["vec_near_pairs"]):
        fails.append(f"semantic_dedup removed {len(vremoved)} vectors, "
                     f"{len(vremoved - vmembers)} unplanted, found {vhit} of "
                     f"{len(truth['vec_near_pairs'])} planted pairs")
    s7 = _ids(con, s[7], "media_id")
    n_media = 200 + truth["docs"]
    mremoved = ({i for i in range(200)} |
                {MEDIA_ID_OFFSET + d for d in range(truth["docs"])}) - s7
    if mremoved != {2 * i + 1 for i in range(100)} or len(s7) != n_media - 100:
        fails.append(f"media removed {len(mremoved)} images, expected the 100 "
                     "planted near-dup partners")
    return fails


def check(workload, in_dir, out_dir, truth, ops, summary, digest_file=None):
    if workload == "ingest_drip":
        return check_ingest(in_dir, out_dir, truth, ops, summary)
    if workload == "lakehouse_dml":
        return check_lake(in_dir, out_dir, truth, ops, summary)
    return check_curate(in_dir, out_dir, truth, ops, summary, digest_file)
