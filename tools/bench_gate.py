#!/usr/bin/env python3
"""Bench regression tripwire: diff a fresh graft.Bench JSON line against the
committed previous round and FAIL (exit non-zero) on per-query regression at
equal code.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" \
        2>/dev/null | grep '"metric"' > /tmp/bench_new.json
    python3 tools/bench_gate.py bench_ref.json /tmp/bench_new.json [ratio]

bench_ref.json is the committed reference line (graft.Bench also writes its
line to bench_out.json, but that path is gitignored by the driver).

Both inputs are the one-line {"metric":"total",...,"queries":{...}} JSON the
bench prints. The line carries an "errors" object ({query: message}) ONLY
when some query failed: it is omitted on a clean run to keep the line inside
the capture's byte budget, so a missing field means {} (read it with
doc.get("errors", {}), never doc["errors"]). A failed query still has its
elapsed time in "queries"; this gate lists the new run's errors and trips on
any. Default gate ratio is 1.5x per query; total is gated at the
same ratio. Host timing noise on a shared box is real (BASELINE.md documents
+-3x single-run swings; the bench already takes min-of-reps) — a tripped
gate means "rerun to confirm, then investigate", not necessarily a code
regression, but it turns silent drift into a loud diff either way.
"""
import json
import sys


def load(path):
    # a committed (pretty-printed) ref is a whole-file JSON document;
    # a raw capture is one bench line, possibly "[info] "-prefixed
    with open(path) as f:
        body = f.read()
    try:
        doc = json.loads(body)
        if "queries" in doc:
            return doc
    except json.JSONDecodeError:
        pass
    for line in body.splitlines():
        brace = line.find("{")
        if brace >= 0 and '"queries"' in line:
            return json.loads(line[brace:])
    raise SystemExit(f"no bench JSON line found in {path}")


def main():
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    prev, new = load(sys.argv[1]), load(sys.argv[2])
    ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    floor = float(sys.argv[4]) if len(sys.argv) > 4 else 0.3
    pq, nq = prev["queries"], new["queries"]
    tripped = []
    for name in sorted(nq):
        if name not in pq:
            print(f"NEW  {name}: {nq[name]:.3f}s (no previous number)")
            continue
        r = nq[name] / pq[name] if pq[name] > 0 else float("inf")
        # sub-floor queries are all scheduling jitter — display, don't gate
        trip = r > ratio and nq[name] > floor
        flag = "TRIP" if trip else "ok  "
        if trip:
            tripped.append((name, pq[name], nq[name], r))
        print(f"{flag} {name}: {pq[name]:.3f}s -> {nq[name]:.3f}s ({r:.2f}x)")
    for name in sorted(set(pq) - set(nq)):
        print(f"GONE {name}: query disappeared from the bench")
        tripped.append((name, pq[name], None, None))
    for name, msg in sorted(new.get("errors", {}).items()):
        print(f"ERR  {name}: {msg}")
        tripped.append((name, pq.get(name), nq.get(name), None))
    tr = new["value"] / prev["value"] if prev.get("value") else 1.0
    print(f"TOTAL {prev.get('value', 0):.2f}s -> {new['value']:.2f}s ({tr:.2f}x)")
    if tr > ratio:
        tripped.append(("TOTAL", prev["value"], new["value"], tr))
    if tripped:
        print(f"\nBENCH GATE TRIPPED ({len(tripped)} > {ratio}x): "
              + ", ".join(t[0] for t in tripped))
        sys.exit(1)
    print(f"\nbench gate clean (all <= {ratio}x)")


if __name__ == "__main__":
    main()
