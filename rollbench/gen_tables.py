"""Seeded query_mix tables, made apart from the engine.

`write` makes events, documents and embeddings parquet files with the
schema the declared queries read (`SparkEntry.queries(name)(spark, dir)`):
events become transcripts (one conversation per user), documents feed
the dedup operators and embeddings the similarity operators.

The make-up follows the sf0.1 test tables, measured with DuckDB (the
figures are in README.md), at the row counts of the sf0.01 tables:
one tenth of sf0.1's events, users and documents, and a quarter of its
embeddings. The same seed gives the same tables.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS = 10_000
USERS = 150
DAYS = 30
DOCUMENTS = 500
EMBEDDINGS = 500
DIMS = 64

EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
VALUE_MEAN = 50.0          # event values: exponential, rounded to cents
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_SHARE = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SOURCES = 20
WORDS = ("a the data row key value table part hash merge batch window spark "
         "scan join filter group order sort column query line stream vector "
         "fast slow big small agg customer").split()
MIN_WORDS, MAX_WORDS = 10, 99
DUP_SHARE = 0.05           # near-duplicates: another text plus " dup"


def events(rng):
    """Timestamps uniform over 30 days, event ids in time order, users,
    event types and props keys uniform, values exponential."""
    start = dt.datetime(2024, 1, 1)
    offsets_us = np.sort(rng.integers(0, DAYS * 86_400 * 1_000_000, EVENTS))
    ts = [start + dt.timedelta(microseconds=int(u)) for u in offsets_us]
    return pa.table({
        "event_id": pa.array(np.arange(EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, EVENTS), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, EVENTS)]),
        "value": pa.array(np.round(rng.exponential(VALUE_MEAN, EVENTS), 2), pa.float64()),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, EVENTS)]),
    })


def documents(rng):
    """Texts of 10-99 words drawn uniformly from a 30-word vocabulary;
    5% of documents are replaced by another document's drawn text with
    " dup" appended (that document may itself have been replaced)."""
    drawn = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n))
             for n in rng.integers(MIN_WORDS, MAX_WORDS + 1, DOCUMENTS)]
    texts = list(drawn)
    for i in np.flatnonzero(rng.random(DOCUMENTS) < DUP_SHARE):
        j = int(rng.integers(0, DOCUMENTS - 1))
        texts[i] = drawn[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), DOCUMENTS, p=LANG_SHARE)]),
        "source": pa.array(["src%d" % (i % SOURCES) for i in range(DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng):
    """Gaussian vectors scaled to unit length, labels uniform 0-9."""
    vecs = rng.normal(0.0, 1.0, (EMBEDDINGS, DIMS))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBEDDINGS), pa.int32()),
    })


def write(out_dir, seed):
    """Write the three tables into `out_dir`; returns their row counts."""
    rng = np.random.default_rng(seed % 2**64)
    tables = {"events": events(rng), "documents": documents(rng),
              "embeddings": embeddings(rng)}
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
