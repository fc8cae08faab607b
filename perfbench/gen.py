"""Seeded input generator for the benchmark workloads.

Every workload gets the three tables graft reads (events, documents,
embeddings) as single-file, single-row-group parquet, the same layout as
graft's sf test data, plus `truth.json` with what was planted. The same
(workload, seed) always gives byte-identical tables; sizes do not depend on
the seed, only the values do.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START = np.datetime64("2024-01-01T00:00:00", "us")
HOUR_US = 3_600_000_000
HOURS = 720  # one month of hourly points per series

# query_floor's sf0.01-shaped events: 5 series, 10^4 events over one month.
SMALL_TYPES = ["click", "signup", "error", "view", "purchase"]
SMALL_EVENTS = 10_000
LANGS = ["en", "de", "fr", "es", "it"]

# series_fleet: hourly series with planted daily seasonality, trend and one level shift.
FLEET_SERIES = 240
SHIFT_SIGMAS = 12.0

# query_floor's corpus: planted exact-duplicate groups and near-duplicate pairs.
CORPUS_DOCS = 500
CORPUS_VOCAB = 5000
EXACT_GROUPS = 15        # groups of 2-4 identical texts
NEAR_PAIRS = 30          # (base, clone) pairs with ~5% of tokens replaced
VEC_DIM = 64
VEC_CLUSTER = 8          # vectors per planted neighbourhood


def _table_events(ts_us, etype, value, user, seed):
    order = np.lexsort((etype, ts_us))
    rng = np.random.default_rng(seed + 17)
    n = len(ts_us)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us[order].astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(user[order].astype(np.int64)),
        "event_type": pa.array(etype[order].tolist(), pa.string()),
        "value": pa.array(value[order].astype(np.float64)),
        "props": pa.array(props.tolist(), pa.string()),
    })


def small_events(rng, seed):
    n = SMALL_EVENTS
    ts = START.astype(np.int64) + rng.integers(0, 30 * 24 * HOUR_US, n)
    etype = np.array(SMALL_TYPES)[rng.integers(0, len(SMALL_TYPES), n)]
    value = np.round(rng.exponential(50.0, n), 2) + 0.01
    user = rng.integers(0, 150, n)
    return _table_events(ts, etype, value, user, seed)


def fleet_events(rng, seed):
    """One event per series-hour, so the hourly sum is the planted value."""
    s, h = FLEET_SERIES, HOURS
    t = np.arange(h)
    level = rng.uniform(50, 150, s)[:, None]
    phase = rng.uniform(0, 2 * np.pi, s)[:, None]
    trend = rng.uniform(-0.02, 0.02, s)[:, None]
    sigma = rng.uniform(1.0, 3.0, s)[:, None]
    amp = sigma * rng.uniform(0.5, 1.0, s)[:, None]
    cp = rng.integers(h // 4, 3 * h // 4, s)
    sign = np.where(rng.random(s) < 0.5, -1.0, 1.0)
    shift = (sign * SHIFT_SIGMAS * sigma[:, 0])[:, None] * (t[None, :] >= cp[:, None])
    x = level + trend * t + amp * np.sin(2 * np.pi * t / 24 + phase) + shift \
        + sigma * rng.standard_normal((s, h))
    x = np.round(x, 2)
    names = np.array([f"s{i:04d}" for i in range(s)])
    ts = START.astype(np.int64) + t[None, :] * HOUR_US + rng.integers(0, HOUR_US, (s, h))
    etype = np.repeat(names, h)
    user = rng.integers(0, 1000, s * h)
    truth = {"series": names.tolist(), "shift_hour": cp.tolist()}
    return _table_events(ts.ravel(), etype, x.ravel(), user, seed), truth


def _doc_table(texts, rng):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)].tolist(), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def corpus_documents(rng):
    """Unique docs over a Zipf vocabulary, then planted families at seeded positions."""
    vocab = np.array([f"w{i}" for i in range(CORPUS_VOCAB)])
    p = 1.0 / np.arange(1, CORPUS_VOCAB + 1) ** 0.8
    p /= p.sum()
    n = CORPUS_DOCS
    texts = [" ".join(vocab[rng.choice(CORPUS_VOCAB, rng.integers(40, 120), p=p)])
             for _ in range(n)]
    slots = rng.permutation(n)
    pos = 0
    exact_groups = []
    for _ in range(EXACT_GROUPS):
        size = int(rng.integers(2, 5))
        g = sorted(int(i) for i in slots[pos:pos + size])
        pos += size
        for i in g[1:]:
            texts[i] = texts[g[0]]
        exact_groups.append(g)
    near_pairs = []
    for _ in range(NEAR_PAIRS):
        base, clone = int(slots[pos]), int(slots[pos + 1])
        pos += 2
        toks = texts[base].split(" ")
        for i in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
            toks[i] = vocab[rng.integers(0, CORPUS_VOCAB)]
        texts[clone] = " ".join(toks)
        near_pairs.append([min(base, clone), max(base, clone)])
    return _doc_table(texts, rng), {"exact_groups": exact_groups, "near_pairs": near_pairs}


def embeddings(rng, n):
    """Unit vectors in planted neighbourhoods of VEC_CLUSTER around random centres."""
    centers = rng.standard_normal((n // VEC_CLUSTER + 1, VEC_DIM))
    member = np.arange(n) // VEC_CLUSTER
    x = centers[member] + 0.15 * rng.standard_normal((n, VEC_DIM))
    label = member % 10
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    perm = rng.permutation(n)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x[perm]), pa.list_(pa.float32())),
        "label": pa.array(label[perm].astype(np.int32)),
    })


def generate(workload, seed, out):
    """series_fleet: the fleet's events beside query_floor-sized documents and
    vectors; query_floor: sf0.01-sized events, corpus and vectors."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    truth = {"workload": workload, "seed": seed}
    if workload == "series_fleet":
        events, t = fleet_events(rng, seed)
        truth.update(t)
    else:
        events = small_events(rng, seed)
    docs, t = corpus_documents(rng)
    truth.update(t)
    embs = embeddings(rng, CORPUS_DOCS)
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, tab in (("events", events), ("documents", docs), ("embeddings", embs)):
        pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    truth["rows"] = {"events": events.num_rows, "documents": docs.num_rows,
                     "embeddings": embs.num_rows}
    truth["series_count"] = len(set(events.column("event_type").to_pylist()))
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    os.replace(tmp, out)
