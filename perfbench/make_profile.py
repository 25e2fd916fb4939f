#!/usr/bin/env python3
"""Extract the distribution profile the workload generators bootstrap from.

The generators (gen.py) never read the source fixture at run time: the
benchmark reads and writes only inside its own checkout, so the empirical
distributions of the sf0.1 events, documents and embeddings tables are
captured once, into profile.json, and resampled from there under the
workload seed. Regenerate after the source fixture changes:

    python3 perfbench/make_profile.py <sf0.1 dir> > perfbench/profile.json
"""
import json
import sys

import duckdb
import numpy as np


def main(src):
    q = lambda sql: duckdb.sql(sql.replace("@", src)).fetchnumpy()
    ev = q("select epoch_us(ts) ts, value, event_type, user_id, props "
           "from '@/events.parquet'")
    types, counts = np.unique(ev["event_type"], return_counts=True)
    grid = np.linspace(0, 1, 1001)
    docs = q("select text, lang, source from '@/documents.parquet'")
    words = [t.split(" ") for t in docs["text"]]
    vocab = sorted({w for ws in words for w in ws})
    lens, lcounts = np.unique([len(ws) for ws in words], return_counts=True)
    langs, lang_counts = np.unique(docs["lang"], return_counts=True)
    emb = q("select embedding, label from '@/embeddings.parquet'")
    vecs = np.stack(emb["embedding"])
    labels = emb["label"]
    cents = np.stack([vecs[labels == l].mean(axis=0) for l in range(10)])
    resid = float(np.mean([vecs[labels == l].std(axis=0).mean()
                           for l in range(10)]))
    profile = {
        "source": "sf0.1",
        "events": {
            "rows": int(len(ev["ts"])),
            "ts_us_quantiles": [int(x) for x in np.quantile(ev["ts"], grid)],
            "value_quantiles": [round(float(x), 4)
                                for x in np.quantile(ev["value"], grid)],
            "event_types": [str(t) for t in types],
            "event_type_weights": [int(c) for c in counts],
            "users": int(ev["user_id"].max()) + 1,
            "props_k": 100,
        },
        "documents": {
            "rows": int(len(words)),
            "vocab": vocab,
            "word_counts": [int(x) for x in lens],
            "word_count_weights": [int(c) for c in lcounts],
            "langs": [str(x) for x in langs],
            "lang_weights": [int(c) for c in lang_counts],
            "sources": int(len(set(docs["source"]))),
        },
        "embeddings": {
            "rows": int(len(labels)),
            "dim": int(vecs.shape[1]),
            "centroids": [[round(float(x), 5) for x in c] for c in cents],
            "residual": round(resid, 6),
        },
    }
    json.dump(profile, sys.stdout, indent=1)
    sys.stdout.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
