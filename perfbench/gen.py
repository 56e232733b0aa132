#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Writes parquet files only. The same seed and knobs give byte-identical
files; a different seed gives different draws with the same shape.

    python3 perfbench/gen.py --workload stream_identity --seed 7 --out DIR

Tables written, by workload:
  stream_identity  events.parquet, wire/ (8 parquet files), meta.json
  insight_mix      events.parquet plus the dimension and TPC-H tables
                   copied from --dims
  curation         documents.parquet, embeddings.parquet, planted.parquet
                   (the planted duplicates)

`events` has the schema of the registry's `events` table. `wire` holds
one PostHog request body per row: plain JSON items, batch envelopes,
gzip / gzip-js `data` envelopes and form-encoded base64 bodies, plus a
share of malformed bodies that ingest must route to dead letters. The
person-side content of each item follows the registry's wire pipeline
(`StateQueries.wireBodies`), so `StateQueries.pipeWireSql` is the closed
form of the person table; `view` items also carry `$groups` and
`$group_set`, so the input holds group events too.
"""
import argparse
import base64
import gzip
import json
import os
import re
import shutil
import urllib.parse
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("insight_mix", "stream_identity", "curation")
DIM_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast the row agg key query a scan batch").split()
T0 = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
T1 = int(np.datetime64("2024-01-31T00:00:00", "us").astype(np.int64))
DIM = 64
WIRE_FILES = 8
MAX_LAG = 2  # a late body arrives 1..MAX_LAG batches late


def knobs_parser():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--events", type=int, default=100_000, help="events rows")
    p.add_argument("--users", type=int, default=1_500, help="distinct users")
    p.add_argument("--user-skew", type=float, default=0.8,
                   help="Zipf exponent of events per user (0 = uniform)")
    p.add_argument("--signup-share", type=float, default=0.10,
                   help="share of signup events; a user's first signup is an alias merge")
    p.add_argument("--encoding-mix", default="plain=0.40,batch=0.25,gzip=0.15,zlib=0.10,form=0.10",
                   help="body encodings and their shares")
    p.add_argument("--malformed-share", type=float, default=0.01,
                   help="malformed bodies per well-formed body")
    p.add_argument("--late-share", type=float, default=0.05,
                   help="share of bodies that arrive late")
    p.add_argument("--docs", type=int, default=5_000)
    p.add_argument("--near-dup-share", type=float, default=0.01,
                   help="share of documents that are planted near-duplicates")
    p.add_argument("--vectors", type=int, default=2_000, help="embeddings rows")
    p.add_argument("--dims", default=None,
                   help="directory holding the sf0.1 dimension and TPC-H tables "
                        "(default: the sf0.1 directory TESTDATA.md names)")
    return p


def testdata_sf01():
    """The sf0.1 test-data directory, as the repository's TESTDATA.md lists it."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "TESTDATA.md")) as f:
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    if not m:
        raise SystemExit("gen: TESTDATA.md lists no sf0.1 directory")
    return m.group(1).rstrip("/")


def write(tbl, path):
    pq.write_table(tbl, path, compression="snappy")


def gen_events(rng, a):
    n, users = a.events, a.users
    ts = np.sort(rng.integers(T0, T1, n))
    ranks = np.arange(1, users + 1, dtype=np.float64)
    p = ranks ** -a.user_skew
    p /= p.sum()
    ids = rng.permutation(users)  # which user id gets which popularity rank
    user = ids[rng.choice(users, n, p=p)]
    rest = (1.0 - a.signup_share) / 4
    et = rng.choice(5, n, p=[a.signup_share, rest, rest, rest, rest])
    k = rng.integers(0, 100, n)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": user.astype(np.int64),
        "event_type": et,
        "value": np.round(rng.exponential(50.0, n), 2),
        "k": k,
    }


def write_events(ev, path):
    write(pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": pa.array(ev["ts"], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[ev["event_type"]]),
        "value": pa.array(ev["value"], pa.float64()),
        "props": pa.array(['{"k": %d}' % x for x in ev["k"]]),
    }), path)


def items(ev):
    """One wire item per event, person content as StateQueries.wireBodies."""
    first_signup = {}
    for i in range(len(ev["event_id"])):
        if ev["event_type"][i] == 0:
            first_signup.setdefault(int(ev["user_id"][i]), i)
    out = []
    for i in range(len(ev["event_id"])):
        uid, k = int(ev["user_id"][i]), int(ev["k"][i])
        et = EVENT_TYPES[ev["event_type"][i]]
        fs = first_signup.get(uid)
        anon, ident = f"anon-u{uid}", f"u{uid}"
        did = anon if fs is None or i < fs else ident
        stamp = {"eid": str(i),
                 "timestamp": np.datetime64(int(ev["ts"][i]), "us").astype(str) + "Z"}
        plan = f"p{k % 3}"
        if et == "signup" and i == fs:
            it = {"type": "identify", "distinct_id": ident, "$anon_distinct_id": anon,
                  "properties": {"email": ident + "@x.com"}}
        elif et == "purchase":
            it = {"event": "purchase", "distinct_id": did,
                  "properties": {"$set": {"plan": plan}, "$set_once": {"first_plan": plan}}}
        elif et == "error" and k % 3 == 0:
            it = {"distinct_id": did, "$unset": ["plan", "first_plan"]}
        elif et == "error" and k % 3 == 1:
            it = {"distinct_id": did, "$unset": {"plan": 1, "first_plan": 1}}
        elif et == "error":
            it = {"distinct_id": did, "$unset": "plan"}
        else:
            props = {"$set": {"last_event": et}, "$set_once": {"first_et": et}}
            if et == "view":
                props["$groups"] = {"team": f"t{uid % 7}"}
                props["$group_set"] = {"team": {"last_k": k}}
            it = {"event": et, "distinct_id": did, "properties": props}
        it.update(stamp)
        out.append(json.dumps(it, separators=(",", ":")))
    return out


def parse_mix(spec):
    kv = [s.split("=") for s in spec.split(",")]
    names = [k for k, _ in kv]
    p = np.array([float(v) for _, v in kv])
    return names, p / p.sum()


MALFORMED = (
    '{"event":"broken","distinct_id":"x"',                          # truncated JSON
    '{"data":"bm90Z3ppcA==","compression":"gzip"}',                 # not a gzip stream
    '{"data":"e30=","compression":"brotli"}',                       # unsupported label
    "",                                                             # empty body
)


def encode(kind, its):
    """(body, is_form) for a run of item JSON strings."""
    arr = "[" + ",".join(its) + "]"
    if kind == "plain":
        return its[0], False
    if kind == "batch":
        return '{"api_key":"phc_bench","batch":' + arr + "}", False
    if kind == "gzip":
        data = base64.b64encode(gzip.compress(arr.encode(), mtime=0)).decode()
        return json.dumps({"api_key": "phc_bench", "compression": "gzip", "data": data}), False
    if kind == "zlib":
        data = base64.b64encode(zlib.compress(arr.encode())).decode()
        return json.dumps({"api_key": "phc_bench", "compression": "gzip-js", "data": data}), False
    data = base64.b64encode(arr.encode()).decode()
    return "data=" + urllib.parse.quote(data, safe="") + "&api_key=phc_bench", True


def gen_wire(rng, a, ev, path):
    its = items(ev)
    names, p = parse_mix(a.encoding_mix)
    rows = {k: [] for k in ("body", "is_form", "n_items", "min_eid", "max_eid", "lag", "malformed")}

    def add(body, form, n, lo, hi, lag, bad):
        for k, v in zip(rows, (body, form, n, lo, hi, lag, bad)):
            rows[k].append(v)

    i, n = 0, len(its)
    while i < n:
        kind = names[rng.choice(len(names), p=p)]
        size = 1 if kind == "plain" else int(rng.integers(2, 7) if kind == "batch" else rng.integers(1, 5))
        run = its[i:i + size]
        body, form = encode(kind, run)
        late = rng.random() < a.late_share
        lag = int(rng.integers(1, MAX_LAG + 1)) if late else 0
        add(body, form, len(run), i, i + len(run) - 1, lag, False)
        i += len(run)
        if rng.random() < a.malformed_share:
            add(MALFORMED[int(rng.integers(0, len(MALFORMED)))], False, 0, i - 1, i - 1, 0, True)
    tbl = pa.table({
        "seq": pa.array(np.arange(len(rows["body"])), pa.int64()),
        "body": pa.array(rows["body"], pa.string()),
        "is_form": pa.array(rows["is_form"], pa.bool_()),
        "n_items": pa.array(rows["n_items"], pa.int32()),
        "min_eid": pa.array(rows["min_eid"], pa.int64()),
        "max_eid": pa.array(rows["max_eid"], pa.int64()),
        "lag": pa.array(rows["lag"], pa.int32()),
        "malformed": pa.array(rows["malformed"], pa.bool_()),
    })
    # request logs land as several files, so the scan has parallel splits
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // WIRE_FILES)
    for i in range(WIRE_FILES):
        write(tbl.slice(i * step, step), f"{path}/part-{i:02d}.parquet")
    return {"bodies": len(rows["body"]), "events": n,
            "malformed": int(sum(rows["malformed"])), "max_lag": MAX_LAG}


def gen_documents(rng, a, path):
    langs = np.array(["en", "zh", "fr", "es", "de"])
    lang_p = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
    vocab = np.array(VOCAB)
    texts, planted = [], {"doc_id": [], "src_id": [], "kind": []}
    exact_share = a.near_dup_share * 0.16
    for i in range(a.docs):
        r = rng.random()
        if i > 10 and r < exact_share:
            src = int(rng.integers(0, i))
            texts.append(texts[src])
            planted["doc_id"].append(i); planted["src_id"].append(src); planted["kind"].append("exact")
        elif i > 10 and r < a.near_dup_share:
            src = int(rng.integers(0, i))
            words = texts[src].split()
            for pos in rng.integers(0, len(words), 3):
                words[pos] = "dup"
            texts.append(" ".join(words))
            planted["doc_id"].append(i); planted["src_id"].append(src); planted["kind"].append("near")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 106))]))
    write(pa.table({
        "doc_id": pa.array(np.arange(a.docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.choice(5, a.docs, p=lang_p)]),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, a.docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)
    write(pa.table({"doc_id": pa.array(planted["doc_id"], pa.int64()),
                    "src_id": pa.array(planted["src_id"], pa.int64()),
                    "kind": pa.array(planted["kind"], pa.string())}),
          os.path.join(os.path.dirname(path), "planted.parquet"))
    return {"docs": a.docs, "planted_dups": len(planted["doc_id"])}


def gen_embeddings(rng, a, path):
    # ten label clusters, so nearest neighbours are meaningful for recall
    centers = rng.standard_normal((10, DIM))
    label = rng.integers(0, 10, a.vectors)
    v = centers[label] + 0.9 * rng.standard_normal((a.vectors, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(pa.table({
        "vec_id": pa.array(np.arange(a.vectors), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), path)
    return {"vectors": a.vectors}


def generate(a):
    os.makedirs(a.out, exist_ok=True)
    rng = np.random.default_rng([a.seed, WORKLOADS.index(a.workload)])
    meta = {"workload": a.workload, "seed": a.seed}
    if a.workload == "curation":
        meta.update(gen_documents(rng, a, f"{a.out}/documents.parquet"))
        meta.update(gen_embeddings(rng, a, f"{a.out}/embeddings.parquet"))
    else:
        ev = gen_events(rng, a)
        write_events(ev, f"{a.out}/events.parquet")
        meta["events"] = a.events
        if a.workload == "insight_mix":
            dims = a.dims or testdata_sf01()
            for t in DIM_TABLES:
                shutil.copyfile(f"{dims}/{t}.parquet", f"{a.out}/{t}.parquet")
        else:
            meta.update(gen_wire(rng, a, ev, f"{a.out}/wire"))
    with open(f"{a.out}/meta.json", "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


if __name__ == "__main__":
    print(json.dumps(generate(knobs_parser().parse_args())))
