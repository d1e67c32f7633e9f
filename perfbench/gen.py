"""Seeded input generators for the three workloads.

The sensor CSVs of `ingest_drip` are made in the FIXTURES.md shape. The
other two workloads start from the sf0.1 test tables kept in `data/`
(`events`, `documents` and `embeddings`, the tables the repo's own
benchmark reads): `lakehouse_dml` replicates the events with disjoint ids,
and `curate_corpus` plants duplicates, PII and boilerplate into the
documents and embeddings and replicates them with per-replica perturbation,
as `graft.Stress` does.

Each generator takes the seed as an argument and writes its inputs under a
directory; the same seed and directory give byte-identical files, and a
different seed gives different ones. Alongside the inputs each writes a
`truth.json` that only the output checks read (the program never sees it).
"""
import base64
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- ingest

INGEST = {
    "batches": 30,           # a run generates the batches its quota loads
    "warm_batches": 3,
    "files_per_batch": 4,
    "rows_per_file": 200,
    "drift_every": 8,        # a float channel is right-appended every K batches
    "jagged_frac": 0.03,
}
_LOCATIONS = [("perth", 8.0), ("kathmandu", 5.75), ("adelaide", 9.5),
              ("st_johns", -3.5), ("lima", -5.0), ("reykjavik", 0.0)]
_DAY0 = dt.datetime(2026, 8, 1)

MANIFEST = {
    "project": "perfbench",
    "tasks": [{
        "sources": ["**/sensors/**/*.csv"],
        "dataset": "d", "table": "sensors",
        "timePartitioningField": "timestamp",
        "fields": [
            {"name": "timestamp", "type": "timestamp"},
            {"name": "utc_offset", "type": "float"},
            {"name": "location", "type": "string"},
        ],
    }],
}


def _channels(width):
    return ["temp_c", "humidity"] + [f"ch_{k:02d}" for k in range(1, width - 1)]


def _csv(rng, day, width, rows, jagged_frac):
    loc, off = _LOCATIONS[int(rng.integers(len(_LOCATIONS)))]
    chans = _channels(width)
    secs = np.sort(rng.integers(0, 86400, size=rows))
    vals = np.round(rng.uniform(-20.0, 45.0, size=(rows, len(chans))), 2)
    jag = rng.random(rows) < jagged_frac
    out = [",".join(["timestamp", "utc_offset", "location"] + chans)]
    for i in range(rows):
        ts = (day + dt.timedelta(seconds=int(secs[i]))).strftime("%Y-%m-%d %H:%M:%S")
        cells = [ts, f"{off}", loc] + [f"{v:.2f}" for v in vals[i]]
        if jag[i]:
            cells = cells[:-1]   # short row: the last channel is NULL-padded
        out.append(",".join(cells))
    return "\n".join(out) + "\n"


def _local_ms_sum(body):
    """Sum of the `_ordered` view's local_time (epoch ms) over a CSV's rows:
    timestamp + round(utc_offset * 60) minutes."""
    total = 0
    epoch = dt.datetime(1970, 1, 1)
    for line in body.splitlines()[1:]:
        ts, off = line.split(",")[:2]
        t = dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S")
        total += int((t - epoch).total_seconds()) * 1000 + round(float(off) * 60) * 60000
    return total


def _notif(bucket, name, seq, event="OBJECT_FINALIZE"):
    payload = json.dumps({"kind": "storage#object", "bucket": bucket,
                          "name": name, "selfLink": f"{bucket}/{name}"},
                         sort_keys=True)
    return f"{event}\t{base64.b64encode(payload.encode()).decode()}\t{seq}"


def gen_ingest(seed, out, **over):
    """Sensor CSV batches in the FIXTURES.md shape, plus their bucket
    notifications: duplicate notifications, files re-landed after they were
    loaded, a non-FINALIZE event per batch and schema drift."""
    p = dict(INGEST, **over)
    rng = np.random.default_rng([seed, 1])
    bucket = os.path.abspath(os.path.join(out, "bucket"))
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(MANIFEST, fh, indent=1, sort_keys=True)
    truth = {"batches": [], "bucket": bucket}
    for prefix, n, notif_dir, list_file in (
            ("w", p["warm_batches"], "warm_notif", "warm_batches.tsv"),
            ("b", p["batches"], "notif", "batches.tsv")):
        os.makedirs(os.path.join(out, notif_dir), exist_ok=True)
        landed = []
        seq = 0
        listing = []
        for b in range(n):
            name = f"{prefix}{b:04d}"
            day = _DAY0 + dt.timedelta(days=b)
            width = 2 + b // p["drift_every"]
            files, rows, local_ms = [], 0, 0
            for j in range(p["files_per_batch"]):
                rel = f"sensors/{name}/f{j}.csv"
                path = os.path.join(bucket, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                body = _csv(rng, day, width, p["rows_per_file"], p["jagged_frac"])
                with open(path, "w") as fh:
                    fh.write(body)
                local_ms += _local_ms_sum(body)
                files.append(rel)
                rows += p["rows_per_file"]
            events = [(f, "OBJECT_FINALIZE") for f in files]
            events.append((files[int(rng.integers(len(files)))], "OBJECT_FINALIZE"))
            if len(landed) >= 3:   # re-landed after it was loaded
                events.append((landed[int(rng.integers(len(landed) - 2))],
                               "OBJECT_FINALIZE"))
            events.append((files[0], "OBJECT_METADATA_UPDATE"))
            order = rng.permutation(len(events))
            lines = []
            for k in order:
                seq += 1
                lines.append(_notif(bucket, events[k][0], seq, events[k][1]))
            with open(os.path.join(out, notif_dir, name + ".tsv"), "w") as fh:
                fh.write("\n".join(lines) + "\n")
            landed += files
            listing.append(f"{name}\t{day.strftime('%Y-%m-%d')}")
            if prefix == "b":
                truth["batches"].append({
                    "name": name, "day": day.strftime("%Y-%m-%d"),
                    "files": [f"file://{bucket}/{f}" for f in files],
                    "rows": rows, "width": 3 + width, "local_ms_sum": local_ms})
        with open(os.path.join(out, list_file), "w") as fh:
            fh.write("\n".join(listing) + "\n")
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return truth


# ------------------------------------------------------------------ lake

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
LAKE = {
    "base_rows": 1_000_000,  # sf0.1 events (100k rows) replicated 10 times
    "cycles": 4,             # a run generates the cycles its quota runs
    "merge_rows": 200,
    "append_rows": 500,
}
WARM_ID0 = 50_000_000
# the sf0.1 events span 30 days; replica r is shifted r * 30 days, so the
# replicated table keeps ts rising with event_id as the source does
REPLICA_SHIFT_US = 30 * 86400 * 1_000_000
# one cycle of the schedule: fixed shares and order, seeded parameters;
# maintenance (optimize, then checkpoint) closes every cycle
CYCLE = ["point_read", "sql_delete", "point_read", "range_read", "append",
         "cdf_read", "point_read", "sql_update", "agg_read", "merge",
         "point_read", "append", "cdf_read", "point_read", "optimize",
         "checkpoint"]
_EPOCH = dt.datetime(1970, 1, 1)


def _sf_events():
    t = pq.read_table(os.path.join(DATA, "events.parquet"))
    cols = {c: t.column(c).to_numpy() for c in ("user_id", "value")}
    cols["ts_us"] = t.column("ts").cast(pa.int64()).to_numpy()
    cols["event_type"] = np.array(t.column("event_type").to_pylist(), dtype=object)
    cols["props"] = np.array(t.column("props").to_pylist(), dtype=object)
    return cols


def _event_rows(src, ids, take):
    """Rows with the given ids: the time of the sf0.1 event the id replicates
    (shifted by its replica) and the other columns of sf0.1 rows `take`."""
    n0 = len(src["ts_us"])
    return {
        "event_id": ids.astype("int64"),
        "ts": pa.array(src["ts_us"][ids % n0] + (ids // n0) * REPLICA_SHIFT_US,
                       type=pa.timestamp("us", tz="UTC")),
        "user_id": src["user_id"][take].astype("int64"),
        "event_type": pa.array(list(src["event_type"][take])),
        "value": src["value"][take],
        "props": pa.array(list(src["props"][take])),
    }


def _ts_lit(us):
    return (_EPOCH + dt.timedelta(microseconds=int(us))).strftime("%Y-%m-%d %H:%M:%S")


READ_COLS = "count(*) AS n, coalesce(sum(CAST(round(value * 100) AS BIGINT)), 0) AS s"
MERGE_SQL = ("MERGE INTO {t} t USING src s ON t.event_id = s.event_id "
             "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")


def _lake_op(rng, src, kind, key, n_ids, next_id, rows_out):
    """One schedule line (kind, arg, predicate); source rows go to rows_out."""
    n0 = len(src["ts_us"])
    types = sorted(set(src["event_type"]))
    if kind == "point_read":
        i = int(rng.integers(n_ids))
        return f"SELECT {READ_COLS} FROM {{t}} WHERE event_id = {i}", ""
    if kind == "range_read":   # one hour from a base row's time
        i = int(rng.integers(n_ids))
        a = int(src["ts_us"][i % n0] + (i // n0) * REPLICA_SHIFT_US)
        return (f"SELECT {READ_COLS} FROM {{t}} WHERE ts >= TIMESTAMP '{_ts_lit(a)}'"
                f" AND ts < TIMESTAMP '{_ts_lit(a + 3_600_000_000)}'"), ""
    if kind == "agg_read":
        a = int(rng.integers(n_ids - 20_000))
        return (f"SELECT event_type, {READ_COLS} FROM {{t}} WHERE event_id "
                f"BETWEEN {a} AND {a + 20_000} GROUP BY event_type "
                f"ORDER BY event_type"), ""
    if kind == "sql_delete":
        a = int(rng.integers(n_ids - 2000))
        et = types[int(rng.integers(len(types)))]
        pred = f"event_id >= {a} AND event_id <= {a + 2000} AND event_type = '{et}'"
        return f"DELETE FROM {{t}} WHERE {pred}", pred
    if kind == "sql_update":
        a = int(rng.integers(n_ids - 2000))
        pred = f"event_id >= {a} AND event_id <= {a + 2000} AND user_id % 7 = 3"
        return f"UPDATE {{t}} SET value = value + 1.5 WHERE {pred}", pred
    if kind in ("merge", "append"):
        if kind == "merge":
            k = LAKE["merge_rows"]
            old = rng.choice(n_ids, size=k // 2, replace=False)
            ids = np.concatenate([np.sort(old), np.arange(next_id, next_id + k - k // 2)])
        else:
            k = LAKE["append_rows"]
            ids = np.arange(next_id, next_id + k)
        cols = _event_rows(src, ids, rng.integers(n0, size=len(ids)))
        cols["op"] = pa.array([key] * len(ids))
        rows_out.append(cols)
        return (MERGE_SQL if kind == "merge" else ""), ""
    return "", ""   # optimize, checkpoint, cdf_read


def _lake_schedule(rng, src, n_cycles, n_ids, next_id, rows_out, prefix=""):
    lines = []
    for idx in range(n_cycles * len(CYCLE)):
        kind = CYCLE[idx % len(CYCLE)]
        key = f"{prefix}{idx}"
        arg, pred = _lake_op(rng, src, kind, key, n_ids, next_id, rows_out)
        if kind == "merge":
            next_id += LAKE["merge_rows"] - LAKE["merge_rows"] // 2
        elif kind == "append":
            next_id += LAKE["append_rows"]
        lines.append(f"{key}\t{kind}\t{arg}\t{pred}")
    return lines


def _table(cols):
    order = ["op", "event_id", "ts", "user_id", "event_type", "value", "props"]
    return pa.table({k: cols[k] for k in order if k in cols})


def gen_lake(seed, out, **over):
    """The base event table (sf0.1 events replicated with disjoint ids), the
    seeded operation schedule and the source rows of every MERGE and append
    in it (sf0.1 rows under new or existing ids)."""
    p = dict(LAKE, **over)
    rng = np.random.default_rng([seed, 2])
    src = _sf_events()
    n = p["base_rows"]
    ids = np.arange(n)
    pq.write_table(_table(_event_rows(src, ids, ids % len(src["ts_us"]))),
                   os.path.join(out, "base.parquet"), row_group_size=1 << 17)
    rows = []
    lines = _lake_schedule(rng, src, p["cycles"], n, n, rows)
    # a warm-up cycle runs on the same table before measuring; its new rows
    # take ids far above any the measured schedule inserts
    warm = _lake_schedule(rng, src, 1, n, WARM_ID0, rows, prefix="w")
    merged = {k: pa.concat_arrays([pa.array(r[k]) if not isinstance(r[k], pa.Array)
                                   else r[k] for r in rows])
              for k in rows[0]}
    pq.write_table(_table(merged), os.path.join(out, "rows.parquet"))
    for name, ls in (("schedule.tsv", lines), ("warm_schedule.tsv", warm)):
        with open(os.path.join(out, name), "w") as fh:
            fh.write("\n".join(ls) + "\n")
    truth = {"base_rows": n}
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return truth


# ---------------------------------------------------------------- curate

CURATE = {
    "base_docs": 5000,       # all of sf0.1 documents
    "base_vectors": 2000,    # all of sf0.1 embeddings
    "replicas": 2,
    "exact_frac": 0.05,
    "near_frac": 0.05,
    "pii_frac": 0.03,
    "boiler_frac": 0.10,
    "vec_near_frac": 0.05,
}
# the seed of the reference corpus the warm-up pass runs on; its stage
# digests are recorded in digests/curate_corpus.json
REF_SEED = 0
# a near duplicate changes one token of a document this long or longer, so
# its word-3-gram Jaccard similarity to the original stays >= 0.8
NEAR_MIN_TOKENS = 36
STOPWORDS = {"the", "a", "of", "and", "to", "in", "is", "it"}
# the curation pass, in order (perfbench.CurateCorpus runs them)
STAGES = ["exact_dedup", "minhash_dedup", "quality_filter", "segment_dedup",
          "lm_gate", "semantic_dedup", "media"]
_BOILER = "all rights reserved by the original authors of this page".split()


def _write_corpus(rng, p, out, docs_name, emb_name):
    """Plant duplicates, PII and boilerplate into the sf0.1 documents and
    near-dup vectors into the sf0.1 embeddings, replicate both, and write
    them; returns the planted truth."""
    nb, R = p["base_docs"], p["replicas"]
    d = pq.read_table(os.path.join(DATA, "documents.parquet"))
    base = [t.split() for t in d.column("text").to_pylist()[:nb]]
    sources = d.column("source").to_pylist()[:nb]
    langs = d.column("lang").to_pylist()[:nb]
    near, exact, pii = [], [], []
    long_ids = [i for i, t in enumerate(base) if len(t) >= NEAR_MIN_TOKENS]
    for i in range(nb):
        r = rng.random()
        n_older = int(np.searchsorted(long_ids, i))
        if i > 10 and r < p["exact_frac"]:
            j = int(rng.integers(i))
            base[i] = list(base[j])
            exact.append([j, i])
        elif i > 10 and r < p["exact_frac"] + p["near_frac"] and n_older:
            j = long_ids[int(rng.integers(n_older))]
            toks = list(base[j])
            k = int(rng.integers(len(toks)))
            toks[k] = "zz" + toks[k]
            base[i] = toks
            near.append([j, i])
        else:
            if rng.random() < p["pii_frac"]:
                base[i].insert(int(rng.integers(len(base[i]))),
                               f"mail.user{i}@example.com")
                pii.append(i)
            if rng.random() < p["boiler_frac"]:
                base[i] = base[i] + _BOILER
    ids, texts, lang, srcs = [], [], [], []
    for rep in range(R):
        for i, toks in enumerate(base):
            # the Stress.scala perturbation: every token carries a replica
            # tag, so replicas are not near duplicates of each other; the
            # stopwords are kept so the language filter still applies
            t = toks if rep == 0 else [
                w if w in STOPWORDS or "@" in w else f"{w}r{rep}" for w in toks]
            ids.append(rep * nb + i)
            texts.append(" ".join(t))
            lang.append(langs[i])
            srcs.append(sources[i])
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array(srcs),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), os.path.join(out, docs_name))

    e = pq.read_table(os.path.join(DATA, "embeddings.parquet"))
    nv = p["base_vectors"]
    vecs = np.array(e.column("embedding").to_pylist()[:nv], dtype=np.float32)
    labels = np.array(e.column("label").to_pylist()[:nv], dtype=np.int32)
    dim = vecs.shape[1]
    vnear = []
    for i in range(nv):
        if i > 10 and rng.random() < p["vec_near_frac"]:
            j = int(rng.integers(i))
            vecs[i] = vecs[j] + rng.standard_normal(dim).astype(np.float32) * 0.02
            vnear.append([j, i])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    all_v, all_id, all_l = [], [], []
    for rep in range(R):
        # replicas: a seeded sign flip and permutation of the dimensions keep
        # every cosine within a replica and none across replicas
        flip = np.where(rng.random(dim) < 0.5, -1.0, 1.0).astype(np.float32) \
            if rep else np.ones(dim, dtype=np.float32)
        perm = rng.permutation(dim) if rep else np.arange(dim)
        all_v.append((vecs * flip)[:, perm])
        all_id.append(np.arange(nv) + rep * nv)
        all_l.append(labels)
    v = np.round(np.concatenate(all_v), 6).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.concatenate(all_id).astype("int64")),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(np.concatenate(all_l).astype("int32")),
    }), os.path.join(out, emb_name))

    def per_rep(pairs, n):
        return [[a + r * n, b + r * n] for r in range(R) for a, b in pairs]
    return {"docs": nb * R, "vectors": nv * R,
            "exact_pairs": per_rep(exact, nb), "near_pairs": per_rep(near, nb),
            "pii_docs": [i + r * nb for r in range(R) for i in pii],
            "vec_near_pairs": per_rep(vnear, nv)}


def gen_curate(seed, out, **over):
    """The sf0.1 documents and embeddings with seeded planted exact and near
    duplicates, PII, boilerplate segments and near-dup vectors, replicated
    with per-replica perturbation; and the same built from REF_SEED, the
    seed-independent corpus whose stage digests are recorded."""
    p = dict(CURATE, **over)
    truth = _write_corpus(np.random.default_rng([seed, 3]), p, out,
                          "docs.parquet", "emb.parquet")
    _write_corpus(np.random.default_rng([REF_SEED, 3]), p, out,
                  "ref_docs.parquet", "ref_emb.parquet")
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return truth


GENERATORS = {"ingest_drip": gen_ingest, "lakehouse_dml": gen_lake,
              "curate_corpus": gen_curate}


# the parameter that sets how many units of work (metrics.UNIT_OPS) the
# inputs hold; curation passes all read the same corpus
UNITS = {"ingest_drip": "batches", "lakehouse_dml": "cycles"}


def generate(workload, seed, out, **over):
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out, **over)
