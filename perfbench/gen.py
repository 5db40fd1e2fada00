"""Seeded input generators for the graft benchmark.

Everything the program under test reads is made here from a seed, so the
same seed always gives byte-identical inputs.

* ``stream_files`` -- the reference-topology event stream, cut into files
  that are ordered by event time (disorder only inside a file), with
  Zipf-skewed users, ~10 % exact re-sends and value spikes.
* ``corpus_tables`` -- documents, embeddings and events for the curation
  pass. The corpus itself comes from a fixed seed (``CORPUS_SEED``) so that
  store-serve results can be checked against recorded hashes; the run's
  seed picks the ingest split (``run.write_split``).
"""
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64())])

# the stream's shape: one file spans FILE_SPAN_MS of event time
STREAM_USERS = 1000
ROWS_PER_FILE = 50
FILE_SPAN_MS = 150_000
RESEND_RATE = 0.10
LATE_SHARE = 0.1   # share of re-sends redelivered past the 2 h watermark
LATE_FILES = (110, 150)  # files back: past the watermark at any batch size
SPIKE_RATE = 0.01


def _zipf_users(rng, n, n_users, s=1.1):
    w = 1.0 / np.arange(1, n_users + 1) ** s
    perm = rng.permutation(n_users)  # hot users are not simply the low ids
    return perm[rng.choice(n_users, size=n, p=w / w.sum())]


def stream_files(seed, n_files):
    """Return ``n_files`` event lists, one per staged file.

    Each file holds ``ROWS_PER_FILE`` originals whose timestamps fall in
    that file's own event-time slot, shuffled inside the file, plus exact
    re-sends (same row, same ``event_id``) -- a Kafka redelivery. Most
    re-send an original of the same or one of the previous two files; once
    the stream is long enough a ``LATE_SHARE`` of them re-send one from
    ``LATE_FILES`` files back, older than the 2 h watermark. Only re-sends
    are ever older than the watermark. Every row dict has the extra key
    ``orig`` (True for an original).
    """
    rng = np.random.default_rng([seed, 1])
    files = []
    originals = []  # per file, for re-sends
    next_id = 0
    for f in range(n_files):
        n = ROWS_PER_FILE
        lo = T0_MS + f * FILE_SPAN_MS
        ts = np.sort(rng.integers(lo, lo + FILE_SPAN_MS, size=n))
        users = _zipf_users(rng, n, STREAM_USERS)
        types = EVENT_TYPES[rng.choice(5, size=n, p=[.5, .3, .1, .05, .05])]
        # values with two decimals: exact in decimal, so the z-score
        # reference below reproduces the operator's arithmetic exactly
        base = np.round(rng.lognormal(3.0, 0.35, size=n), 2)
        spikes = rng.random(n) < SPIKE_RATE
        value = np.where(spikes, np.round(base * rng.uniform(6, 12, n), 2), base)
        value = np.maximum(value, 0.01)
        rows = [dict(event_id=next_id + i, ts=int(ts[i]), user_id=int(users[i]),
                     event_type=str(types[i]), value=float(value[i]), orig=True)
                for i in range(n)]
        next_id += n
        originals.append(rows)
        pool = [r for fr in originals[-3:] for r in fr]
        n_dup = int(round(n * RESEND_RATE))
        n_late = int(round(n_dup * LATE_SHARE)) if f >= LATE_FILES[1] else 0
        dups = [dict(pool[j], orig=False)
                for j in rng.choice(len(pool), size=n_dup - n_late, replace=False)]
        for _ in range(n_late):
            old = originals[f - int(rng.integers(*LATE_FILES))]
            dups.append(dict(old[int(rng.integers(0, len(old)))], orig=False))
        out = rows + dups
        order = rng.permutation(len(out))
        files.append([out[j] for j in order])
    return files


def write_stream(out_dir, files):
    """Write each file of ``stream_files`` as ``events-<index>.parquet`` with
    mtimes increasing in file (= event-time) order, 10 ms apart: the file
    source takes new files in mtime order, so this is the order it reads
    them in. Returns the file names in order."""
    os.makedirs(out_dir, exist_ok=True)
    base = time.time_ns() - 3600 * 10**9
    names = []
    for i, rows in enumerate(files):
        name = f"events-{i:05d}.parquet"
        path = os.path.join(out_dir, name)
        write_events(path, rows)
        t = base + i * 10_000_000
        os.utime(path, ns=(t, t))
        names.append(name)
    return names


def write_events(path, rows):
    tbl = pa.table({
        "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
        "ts": pa.array([r["ts"] * 1000 for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
        "event_type": pa.array([r["event_type"] for r in rows], pa.string()),
        "value": pa.array([r["value"] for r in rows], pa.float64()),
    }, schema=EVENT_SCHEMA)
    pq.write_table(tbl, path)


# ---------------------------------------------------------------- corpus

# the corpus has the shape of the sf0.1 test data: 5000 documents of 10-90
# words, 2000 64-d embeddings, 100,000 events over 1500 users
CORPUS_SEED = 20240101
N_DOCS = 5000
N_VECS = 2000
VEC_DIM = 64
N_CORPUS_EVENTS = 100_000
N_CORPUS_USERS = 1500
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]


def corpus_tables(out_dir):
    """Write documents, embeddings and events parquet tables (fixed seed)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    texts = []
    for i in range(N_DOCS):
        if i >= 40 and rng.random() < 0.06:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 40 and rng.random() < 0.08:  # near duplicate
            w = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.choice(len(w), size=max(1, len(w) // 12), replace=False):
                w[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w))
            continue
        n = int(rng.integers(10, 90))
        texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), n)))
    docs = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(rng.choice(5, p=[.44, .14, .14, .14, .14]))]
                          for _ in range(N_DOCS)], pa.string()),
        "source": pa.array([f"src{int(rng.integers(0, 20))}" for _ in range(N_DOCS)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    centers = rng.normal(0, 1, (10, VEC_DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centers[labels] + rng.normal(0, 0.6, (N_VECS, VEC_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array([list(map(float, v.astype(np.float32))) for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))

    n = N_CORPUS_EVENTS
    ts = np.sort(rng.integers(T0_MS, T0_MS + 30 * 86_400_000, n))
    ev = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts * 1000, pa.timestamp("us")),
        "user_id": pa.array(_zipf_users(rng, n, N_CORPUS_USERS), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(rng.lognormal(3.0, 0.5, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })
    pq.write_table(ev, os.path.join(out_dir, "events.parquet"))


def split_of(seed, n, held_out):
    """The seed's ingest split over ids ``0..n-1``: a boolean array, True for
    the ids the initial build sees. Ids in ``held_out`` are never in either
    side; the caller handles them."""
    rng = np.random.default_rng([seed, 2])
    build = rng.random(n) < 0.6
    build[list(held_out)] = False
    return build
