"""Seeded synthesis of the engine's seed tables (`events`, `documents`).

The engine derives every transcript input from these two parquet tables
(`graft.gen.Transcripts` reads `<dir>/events.parquet`, the text operators read
`<dir>/documents.parquet`). The benchmark writes its own copies, shaped like the
scale-factor tables the test suite uses, so a run needs nothing outside its
checkout and the same seed always gives byte-identical inputs:

- events: `event_id` 0..n-1 in time order over 30 days of January 2024,
  `user_id` uniform over 1.5% of n users, five event types, an exponential
  `value` with mean 50 and `props` = `{"k": 0..99}`;
- documents: word-salad over a fixed 31-word vocabulary, 20 sources, five
  languages, with some exact copies (exact dedup finds groups) and some
  one-word edits of earlier documents (MinHash LSH finds pairs).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
JAN_2024_US = 1704067200 * 1_000_000
DAYS_30_US = 30 * 86400 * 1_000_000


def events_table(n, rng):
    gaps = rng.exponential(1.0, n)
    ts = JAN_2024_US + (np.cumsum(gaps) / gaps.sum() * (DAYS_30_US - 60_000_000)).astype(np.int64)
    users = max(1, int(round(n * 0.015)))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def documents_table(n, rng):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.08:  # near duplicate: one word replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def materialize(out_dir, seed, n_events, n_docs):
    """Write events.parquet and documents.parquet for (seed, sizes) into
    out_dir once; a directory that already holds both is reused."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, n_events, n_docs])
    pq.write_table(events_table(n_events, rng), os.path.join(out_dir, "events.parquet"))
    pq.write_table(documents_table(n_docs, rng), os.path.join(out_dir, "documents.parquet"))
    open(done, "w").close()
    return out_dir
