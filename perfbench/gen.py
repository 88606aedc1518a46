"""Seeded input generator for the graft benchmark.

Every table is written in the TESTDATA.md layout (one parquet file per
table, the same column names and parquet types as the repo's test-data
star schema): ``events.ts`` is TIMESTAMP(us, isAdjustedToUTC=false),
``embeddings.embedding`` is list<float> of 64 dims.  The domain is the
one the queries assume: January 2024, five event types, ``props`` JSON,
5 languages, 20 sources, 10 labels.  The same seed gives byte-identical
files (numpy's PCG64 stream + pyarrow's deterministic writer).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_P = [0.3, 0.3, 0.15, 0.1, 0.15]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("a the key agg row scan slow fast table value part hash batch "
         "window spark order data column join small line customer query "
         "filter sort group big merge stream vector").split()
JAN_START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
DAY_US = 86_400 * 1_000_000

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])
DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32())])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def events(rng, n_stations, obs_per_station, days, first_id=0, day0=0):
    """Station observations spread uniformly over `days` days from
    2024-01-01 + day0, sorted by time, ids ascending in time order."""
    n = n_stations * obs_per_station
    span = days * DAY_US
    ts = np.sort(rng.integers(0, span, n)) + JAN_START_US + day0 * DAY_US
    uid = rng.integers(0, n_stations, n)
    et = rng.choice(len(EVENT_TYPES), n, p=EVENT_P)
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(uid, pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in et], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {v}}}' for v in k], pa.string()),
    }, schema=EVENTS_SCHEMA)


def _text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def _mutate(rng, text, share):
    words = text.split()
    for i in np.nonzero(rng.random(len(words)) < share)[0]:
        words[i] = VOCAB[rng.integers(0, len(VOCAB))]
    return " ".join(words)


def documents(rng, n_docs, near_dup_share, hot_bucket):
    """Random-vocabulary documents.  `near_dup_share` of them copy an
    earlier document with ~3% of words replaced; `hot_bucket` more are
    near-identical copies of ONE base text (a single word changed at
    the tail), planting an LSH bucket far above the dedup cap."""
    texts = []
    n_base = n_docs - hot_bucket
    for i in range(n_base):
        if i > 10 and rng.random() < near_dup_share:
            src = texts[int(rng.integers(0, len(texts)))]
            texts.append(_mutate(rng, src, 0.03) + " dup")
        else:
            texts.append(_text(rng, int(rng.integers(8, 90))))
    hot = _text(rng, 60)
    for _ in range(hot_bucket):
        texts.append(hot + " " + VOCAB[int(rng.integers(0, len(VOCAB)))])
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    lang = rng.choice(len(LANGS), n_docs, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in lang], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOCS_SCHEMA)


def embeddings(rng, n_vecs, near_dup_share, dim=64):
    """Unit vectors; `near_dup_share` of them are small perturbations
    (cosine ~0.97) of an earlier vector, forming near-duplicate
    clusters."""
    x = rng.standard_normal((n_vecs, dim))
    for i in range(1, n_vecs):
        if rng.random() < near_dup_share:
            x[i] = x[int(rng.integers(0, i))] + 0.25 * rng.standard_normal(dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    label = rng.integers(0, 10, n_vecs)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }, schema=EMB_SCHEMA)


def generate(spec, seed, out_dir):
    """Write the workload's tables under `out_dir`; returns a manifest
    (rows and bytes per table, plus the drop schedule for cron)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    inp = spec["inputs"]
    manifest = {"seed": seed, "tables": {}}
    if "events" in inp:
        e = inp["events"]
        t = events(rng, e["stations"], e["obs_per_station"], e["days"])
        manifest["tables"]["events"] = _write(t, f"{out_dir}/events.parquet")
    if "documents" in inp:
        d = inp["documents"]
        t = documents(rng, d["docs"], d["near_dup_share"], d["hot_bucket"])
        manifest["tables"]["documents"] = _write(t, f"{out_dir}/documents.parquet")
    if "embeddings" in inp:
        d = inp["embeddings"]
        t = embeddings(rng, d["vecs"], d["near_dup_share"])
        manifest["tables"]["embeddings"] = _write(t, f"{out_dir}/embeddings.parquet")
    if "drops" in inp:
        d = inp["drops"]
        stage = f"{out_dir}/staged"
        os.makedirs(stage, exist_ok=True)
        drops = []
        first = 0
        for day in range(d["days"]):
            t = events(rng, d["stations"], d["obs_per_station_day"], 1,
                       first_id=first, day0=day)
            first += t.num_rows
            name = f"drop_{day:02d}.parquet"
            info = _write(t, f"{stage}/{name}")
            info.update(name=name, day=f"2024-01-{day + 1:02d}")
            drops.append(info)
        manifest["drops"] = drops
    with open(f"{out_dir}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
