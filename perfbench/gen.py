"""Seeded input generator.

Every table is derived from the base tables in perfbench/data (the sf0.1
events, documents and embeddings of graft's test data). The seed changes
ids, tokens and embedding sign patterns only, so entity series, duplicate
density, embedding geometry and the January 2024 timestamps the keys filter
on are the same for every seed: two seeds cost the same work.

  * ids shift by a seed-derived offset that is a multiple of 18018000, so
    every `id % m` the keys use (m <= 16, and 50) keeps its value;
  * each document token t becomes t + "_" + tag(seed), a fixed-width
    suffix, which keeps every shingle relation between documents (the
    rewrite graft.ScaleBench applies per corpus copy);
  * each embedding's dimensions are rotated and multiplied by a
    seed-dependent sign pattern: norms and angles are exact.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
ID_STEP = 18018000  # lcm(1..16) * 25

# Workload sizes. nightly_batch: entities of the events month (the sf0.1
# month has 1,500), and documents and embeddings (of 5,000 and 2,000).
# daily_serve: entities and days replayed, the intraday batch cuts (each
# batch repeats the previous one's last SERVE_OVERLAP_H hours), and how often
# a past day is restated.
MARKET_ENTITIES = 300
CURATION_DOCS = 2000
CURATION_EMBEDDINGS = 800
SERVE_ENTITIES = 200
SERVE_DAYS = 2
SERVE_CUTS_H = (8, 16, 24)
SERVE_OVERLAP_H = 2
RESTATE_EVERY = 2


def id_offset(seed):
    return ID_STEP * (1 + seed % 100)


def _read(name):
    return pq.read_table(os.path.join(DATA, f"{name}.parquet")).replace_schema_metadata(None)


def _shift(t, cols, off):
    for c in cols:
        i = t.schema.get_field_index(c)
        t = t.set_column(i, c, pc.add(t[c], pa.scalar(off, t[c].type)))
    return t


def _write(t, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(t, path)
    return t.num_rows, os.path.getsize(path)


def events(seed, n_entities):
    t = _read("events")
    t = t.filter(pc.less(t["user_id"], n_entities))
    return _shift(t, ["event_id", "user_id"], id_offset(seed))


def _tag(seed):
    a = "abcdefghijklmnopqrstuvwxyz"
    return a[(seed // 26) % 26] + a[seed % 26]


def documents(seed, n):
    t = _read("documents").slice(0, n)
    suffix = "_" + _tag(seed)
    text = [" ".join(w + suffix for w in s.split(" ")) for s in t["text"].to_pylist()]
    return pa.table({
        "doc_id": pc.add(t["doc_id"], id_offset(seed)),
        "text": pa.array(text, pa.string()),
        "lang": t["lang"], "source": t["source"],
        "n_chars": pa.array([len(s) for s in text], pa.int64()),
    })


def embeddings(seed, n):
    t = _read("embeddings").slice(0, n)
    m = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    sign = np.random.default_rng(seed).choice(np.array([1.0, -1.0], dtype=np.float32),
                                              size=m.shape[1])
    v = np.roll(m, -(seed % m.shape[1]), axis=1) * sign
    return pa.table({
        "vec_id": pc.add(t["vec_id"], id_offset(seed)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": t["label"],
    })


def correct(t):
    """The restatement's correction: a late upstream fix re-prices every
    tick whose event_id % 7 == 3 by +1%."""
    mask = pa.array(t["event_id"].to_numpy() % 7 == 3)
    fixed = pc.round(pc.multiply(t["value"], 1.01), 6)
    return t.set_column(t.schema.get_field_index("value"), "value",
                        pc.if_else(mask, fixed, t["value"]))


def _serve(seed, out):
    """The replay script: per day, intraday batches appended with
    Sinks.appendNewerThan, each followed by one lookup (cycling latest /
    history / sector); every RESTATE_EVERY days one past day is restated
    and then read back. Each lookup's expected store state (the day rows
    below its cut, restatements so far applied) is written to
    expect/<script line>.parquet for the checker."""
    ev = events(seed, SERVE_ENTITIES)
    ts = ev["ts"]
    day0 = pc.min(ts).as_py().replace(hour=0, minute=0, second=0, microsecond=0)
    rng = np.random.default_rng(seed)
    uids = sorted(set(ev["user_id"].to_pylist()))
    lines, state, restated = [], [], []
    stats = {"appended_rows": 0, "appended_bytes": 0, "restated_rows": 0}
    lookup_kinds = ("latest", "history", "sector")
    n_appends = 0

    def between(t, lo, hi):
        return t.filter(pc.and_(pc.greater_equal(t["ts"], pa.scalar(lo, ts.type)),
                                pc.less(t["ts"], pa.scalar(hi, ts.type))))

    def lookup(kind, param):
        _write(pa.concat_tables(state), f"{out}/expect/{len(lines)}.parquet")
        lines.append(("lookup", kind, param))

    for d in range(SERVE_DAYS):
        start = day0 + dt.timedelta(days=d)
        day = start.date().isoformat()
        day_rows = between(ev, start, start + dt.timedelta(days=1))
        state.append(day_rows.slice(0, 0))
        prev = 0
        for i, cut in enumerate(SERVE_CUTS_H):
            lo = start + dt.timedelta(hours=max(0, prev - SERVE_OVERLAP_H) if i else 0)
            hi = start + dt.timedelta(hours=cut)
            name = f"batches/b_{day}_{i}.parquet"
            rows, size = _write(between(day_rows, lo, hi), f"{out}/{name}")
            stats["appended_rows"] += rows
            stats["appended_bytes"] += size
            lines.append(("append", day, name))
            # appendNewerThan keeps the rows past each entity's stored
            # maximum: the overlap was stored by the previous batch
            state[d] = between(day_rows, start, hi)
            kind = lookup_kinds[n_appends % len(lookup_kinds)]
            n_appends += 1
            lookup(kind, {"latest": "-", "history": str(uids[int(rng.integers(len(uids)))]),
                          "sector": day}[kind])
            prev = cut
        if (d + 1) % RESTATE_EVERY == 0:
            target = max(0, d - 2)
            state[target] = correct(state[target])
            rday = (day0 + dt.timedelta(days=target)).date().isoformat()
            name = f"batches/r_{rday}.parquet"
            rows, _ = _write(state[target], f"{out}/{name}")
            stats["restated_rows"] += rows
            restated.append(rday)
            lines.append(("restate", rday, name))
            lookup("day", rday)
    with open(f"{out}/script.tsv", "w") as f:
        f.write("".join("\t".join(x) + "\n" for x in lines))
    stats.update({"ops": {k: sum(1 for x in lines if x[0] == k) for k in ("append", "restate", "lookup")},
                  "restated_days": restated, "final_rows": sum(t.num_rows for t in state)})
    return stats


def _nightly(seed, out):
    return {"events": _write(events(seed, MARKET_ENTITIES), f"{out}/events.parquet"),
            "documents": _write(documents(seed, CURATION_DOCS), f"{out}/documents.parquet"),
            "embeddings": _write(embeddings(seed, CURATION_EMBEDDINGS), f"{out}/embeddings.parquet")}


BUILDERS = {"nightly_batch": _nightly, "daily_serve": _serve}


def generate(workload, seed, root):
    """Write the workload's inputs (root/inputs) and return a manifest of
    rows and bytes per table. Cached: a finished root is reused."""
    manifest_path = f"{root}/manifest.json"
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = f"{root}.tmp{os.getpid()}"
    m = {"inputs": BUILDERS[workload](seed, f"{tmp}/inputs")}
    with open(f"{tmp}/manifest.json", "w") as f:
        json.dump(m, f, indent=1)
    os.makedirs(os.path.dirname(root), exist_ok=True)
    os.rename(tmp, root)
    return m
