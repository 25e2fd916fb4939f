#!/usr/bin/env python3
"""Seeded input generators, one per workload.

Every generator takes the workload seed and writes files; the program under
test receives only those files. The same seed always gives the same bytes.

  etl      query_range response documents, one per 300 s window, for the
           stub Prometheus to stream, plus the compact series/value tables
           the output check renders its reference from (check_etl.py).
  events   events.parquet bootstrapped from the sf0.1 profile.
  docs     documents.parquet + embeddings.parquet bootstrapped from the
           sf0.1 profile, with planted near-duplicate documents and vectors.

Tables the chosen queries never read are written as empty stand-ins so the
DuckDB oracle (tools/check.py, which binds a view per fixture table) opens.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
STAND_INS = ("region", "nation", "customer", "supplier", "part", "orders",
             "lineitem")

# R6 geometry of the ETL job: 300 s windows at a 15 s step, re-covering the
# last 60 s of the previous window.
STEP_S = 15
WINDOW_S = 300
OVERLAP_S = 60
T0 = 1704067200  # 2024-01-01T00:00:00Z, a multiple of the step

# Value tokens as Prometheus sends them. Specials are planted at a fixed
# small share; UNPARSEABLE tokens are skip-counted by the job (R2).
SPECIALS = ["NaN", "+Inf", "-Inf", "1.5e-07", "-2.5E+21", "3e-05",
            "6.02214076e+23"]
UNPARSEABLE = ["abc", "", "1.2.3"]
# label values carrying every character R3 escapes
ODD_LABELS = ["tab\there", "new\nline", "back\\slash", "it's", "mix\t'\\\n"]


def profile():
    with open(os.path.join(HERE, "profile.json")) as f:
        return json.load(f)


def stand_ins(out, extra=()):
    empty = pa.table({"unused": pa.array([], pa.int64())})
    for t in STAND_INS + tuple(extra):
        pq.write_table(empty, os.path.join(out, f"{t}.parquet"))


def gen_etl(seed, out, n_series, n_windows):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(os.path.join(out, "windows"), exist_ok=True)
    stride = WINDOW_S - OVERLAP_S
    n_ts = (n_windows - 1) * stride // STEP_S + WINDOW_S // STEP_S + 1

    # value pool: ordinary decimals of many magnitudes, then the specials
    # and the unparseable tokens; each point picks one entry
    mags = 10.0 ** rng.integers(-3, 7, 4000)
    ordinary = [repr(float(x)) for x in np.round(rng.random(4000) * mags, 6)]
    ordinary[:200] = [str(int(x)) for x in rng.integers(0, 10**6, 200)]
    pool = ordinary + SPECIALS + UNPARSEABLE
    n_ord = len(ordinary)
    idx = rng.integers(0, n_ord, (n_series, n_ts)).astype(np.uint16)
    special = rng.random((n_series, n_ts)) < 0.004
    idx[special] = (n_ord + rng.integers(
        0, len(SPECIALS) + len(UNPARSEABLE), int(special.sum())))

    series = []
    for i in range(n_series):
        m = {"job": f"job{i % 7}", "instance": f"host{i}",
             "zone": f"z{i % 3}"}
        if i % 97 == 5:
            m["path"] = ODD_LABELS[(i // 97) % len(ODD_LABELS)]
        if i % 1000 != 0:  # every 1000th series has no __name__
            m["__name__"] = f"metric_{i % 40}"
        keys = list(m)
        rng.shuffle(keys)  # the parser must sort keys itself (R1)
        series.append({k: m[k] for k in keys})

    pool_json = [json.dumps(v) for v in pool]
    heads = ['{"metric":' + json.dumps(m) + ',"values":[' for m in series]
    for w in range(n_windows):
        j0 = w * stride // STEP_S
        js = range(j0, j0 + WINDOW_S // STEP_S + 1)  # query_range is [s, e]
        pre = [f"[{T0 + j * STEP_S}," for j in js]
        parts = []
        for i in range(n_series):
            row = idx[i]
            parts.append(heads[i] + ",".join(
                p + pool_json[row[j]] + "]" for p, j in zip(pre, js)) + "]}")
        doc = ('{"status":"success","data":{"resultType":"matrix","result":['
               + ",".join(parts) + "]}}\n")
        start = T0 + w * stride
        with open(os.path.join(out, "windows", f"{start}.json"), "w") as f:
            f.write(doc)

    np.save(os.path.join(out, "idx.npy"), idx)
    with open(os.path.join(out, "etl.json"), "w") as f:
        json.dump({"t0": T0, "step_s": STEP_S, "window_s": WINDOW_S,
                   "overlap_s": OVERLAP_S, "windows": n_windows,
                   "series": series, "pool": pool}, f)


def _interp(quantiles, u):
    q = np.asarray(quantiles, dtype=np.float64)
    return np.interp(u * (len(q) - 1), np.arange(len(q)), q)


def gen_events(seed, out, n_events):
    p = profile()["events"]
    rng = np.random.default_rng([seed, 2])
    ts = _interp(p["ts_us_quantiles"], rng.random(n_events)).astype(np.int64)
    ts = ts + rng.integers(0, 1000000, n_events)
    value = np.round(np.abs(_interp(p["value_quantiles"], rng.random(n_events))
                            + rng.normal(0, 0.5, n_events)), 2)
    w = np.asarray(p["event_type_weights"], dtype=np.float64)
    types = np.asarray(p["event_types"])[
        rng.choice(len(w), n_events, p=w / w.sum())]
    props = [f'{{"k": {k}}}' for k in rng.integers(0, p["props_k"], n_events)]
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(1, n_events + 1), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, p["users"], n_events), pa.int64()),
        "event_type": pa.array(types),
        "value": value,
        "props": props,
    }), os.path.join(out, "events.parquet"))


def gen_docs(seed, out, n_docs, n_vecs):
    prof = profile()
    p = prof["documents"]
    rng = np.random.default_rng([seed, 3])
    vocab = np.asarray(p["vocab"])
    wc = np.asarray(p["word_counts"])
    wcw = np.asarray(p["word_count_weights"], dtype=np.float64)
    # ~5% near-dup copies (10-20% of words edited), 10 exact copies
    n_base = int(n_docs * 0.95)
    texts = [" ".join(rng.choice(vocab, n))
             for n in rng.choice(wc, n_base, p=wcw / wcw.sum())]
    while len(texts) < n_docs - 10:
        base = texts[int(rng.integers(0, n_base))].split(" ")
        k = max(1, int(len(base) * rng.uniform(0.1, 0.2)))
        for j in rng.choice(len(base), min(k, len(base)), replace=False):
            base[j] = str(rng.choice(vocab))
        texts.append(" ".join(base))
    while len(texts) < n_docs:
        texts.append(texts[int(rng.integers(0, n_base))])
    texts = [texts[i] for i in rng.permutation(n_docs)]
    lw = np.asarray(p["lang_weights"], dtype=np.float64)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(np.asarray(p["langs"])[
            rng.choice(len(lw), n_docs, p=lw / lw.sum())]),
        "source": [f"src{s}" for s in rng.integers(0, p["sources"], n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    e = prof["embeddings"]
    cents = np.asarray(e["centroids"])
    labels = rng.integers(0, len(cents), n_vecs)
    emb = cents[labels] + rng.normal(0, e["residual"], (n_vecs, e["dim"]))
    ndup = int(n_vecs * 0.05)  # planted near-dup vectors
    src = rng.integers(0, n_vecs - ndup, ndup)
    emb[n_vecs - ndup:] = emb[src] + rng.normal(
        0, 0.01 * e["residual"], (ndup, e["dim"]))
    labels[n_vecs - ndup:] = labels[src]
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))
