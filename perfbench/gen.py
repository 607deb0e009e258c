"""Seeded input generator for the benchmark.

Writes `events`, `documents` and `embeddings` parquet tables with the
schemas of the sf0.1 test tables and the properties the queries depend on
(measured from those tables; see perfbench/README.md):

- events: 100,000 rows over 5 assets (event types) in equal shares,
  1,500 users, timestamps spread uniformly over 30 days from 2024-01-01,
  values exponential with mean 50 at cent precision, props `{"k": 0..99}`;
- documents: 5,000 rows, language mix en 41% / de 14% / es, fr, zh 15%,
  10-99 words from a 30-word vocabulary, 5% near duplicates (another
  document's text plus " dup") and 0.16% exact duplicates;
- embeddings: 2,000 unit vectors of dimension 64 with 10 labels.

Each seed goes to its own directory, written once: a directory
that exists is reused and never rewritten, because the library caches
staged streaming sources by path for the life of a process.

    python3 perfbench/gen.py <out_root> <seed>
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64
N_LABELS = 10
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016
T0_US = 1704067200 * 1_000_000          # 2024-01-01T00:00:00
SPAN_US = 30 * 86400 * 1_000_000


def events(rng):
    ts = np.sort(rng.integers(T0_US, T0_US + SPAN_US, N_EVENTS))
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)]),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })


def documents(rng, n):
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
             for _ in range(n)]
    n_near, n_exact = round(n * NEAR_DUP_SHARE), round(n * EXACT_DUP_SHARE)
    perm = rng.permutation(n)
    copied = rng.choice(perm[n_near + n_exact:], n_near + n_exact, replace=False)
    for k, (i, j) in enumerate(zip(perm[:n_near + n_exact], copied)):
        texts[i] = texts[j] + " dup" if k < n_near else texts[j]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n):
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)),
        pa.array(v.reshape(-1)),
        type=pa.list_(pa.field("element", pa.float32())))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, N_LABELS, n), pa.int32()),
    })


def data_dir(out_root, seed):
    return os.path.join(out_root, f"seed{seed}")


def generate(out_root, seed):
    """Returns the directory of this seed's tables, writing it if absent."""
    d = data_dir(out_root, seed)
    if os.path.isdir(d):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # One independent stream per table, so a table's rows depend only on
    # the seed and its own size.
    r_ev, r_doc, r_emb = (np.random.default_rng([seed, k]) for k in range(3))
    pq.write_table(events(r_ev), os.path.join(tmp, "events.parquet"))
    pq.write_table(documents(r_doc, N_DOCS), os.path.join(tmp, "documents.parquet"))
    pq.write_table(embeddings(r_emb, N_VECS), os.path.join(tmp, "embeddings.parquet"))
    os.rename(tmp, d)
    return d


def properties(d):
    """The input properties the generator promises, measured from `d`."""
    ev = pq.read_table(os.path.join(d, "events.parquet")).to_pandas()
    doc = pq.read_table(os.path.join(d, "documents.parquet")).to_pandas()
    emb = pq.read_table(os.path.join(d, "embeddings.parquet")).to_pandas()
    span = ev.ts.max() - ev.ts.min()
    return {
        "events_rows": len(ev),
        "event_types": int(ev.event_type.nunique()),
        "event_type_share_max_min": [round(float(x), 3) for x in (
            ev.event_type.value_counts(normalize=True).max(),
            ev.event_type.value_counts(normalize=True).min())],
        "ts_span_days": round(span.total_seconds() / 86400, 2),
        "users": int(ev.user_id.nunique()),
        "value_mean": round(float(ev.value.mean()), 2),
        "documents_rows": len(doc),
        "lang_share": {k: round(float(v), 3) for k, v in
                       sorted(doc.lang.value_counts(normalize=True).items())},
        "words_min_median_max": [int(x) for x in np.quantile(
            doc.text.str.split().str.len(), [0, 0.5, 1])],
        "near_dup_share": round(float(doc.text.str.endswith(" dup").mean()), 4),
        "exact_dup_share": round(float(doc.text.duplicated().mean()), 4),
        "embeddings_rows": len(emb),
        "embedding_dim": int(emb.embedding.map(len).max()),
        "labels": int(emb.label.nunique()),
    }


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2])))
