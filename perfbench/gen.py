"""Seeded input generators for the benchmark.

Every generator takes a seed and returns (or writes) the same bytes for
the same seed. The program under test only ever receives the parquet
files written here, read back through ``sources.readers.load_table``
(whose schemas pin the column types); the ground truth the checks use
stays on the benchmark side.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The word list the repository's documents fixture draws its texts from
#: (30 words, two of them English stopwords, so the language and quality
#: gates of the curation funnel see the same token statistics).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

#: Reference instant the RFM features are computed against
#: (operators.features.DEFAULT_REF_INSTANT).
REF_US = int(np.datetime64("2024-07-01T00:00:00", "us").astype(np.int64))
DAY_US = 86_400_000_000

# Parquet writes are pinned so the same seed gives byte-identical files.
_PQ_OPTS = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per (seed, input stream); any int seed."""
    return np.random.default_rng([seed % (1 << 64), stream])


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size, **_PQ_OPTS)
    return os.path.getsize(path)


def events_table(seed: int, n_rows: int, n_customers: int) -> pa.Table:
    """Retail-style events: every customer has at least one row.

    About 1.5 % of rows are refunds (negative value) and about 0.5 % are
    dated after the reference instant, so the RFM HAVING filter
    (recency >= 0, monetary > 0) drops a seed-dependent set of customers.
    Roughly one row in eight repeats the invoice id of the customer's
    previous row, so frequency is a real COUNT(DISTINCT).
    """
    if n_rows < n_customers:
        raise ValueError("n_rows must be >= n_customers")
    rng = _rng(seed, 1)
    ids = rng.choice(50 * n_customers, size=n_customers, replace=False).astype(np.int64)
    owner = np.concatenate(
        [np.arange(n_customers), rng.integers(0, n_customers, n_rows - n_customers)]
    )
    owner.sort(kind="stable")
    user = ids[owner]
    # invoice ids: a new invoice per row, except rows that continue the
    # same customer's previous invoice
    same_cust = np.concatenate([[False], owner[1:] == owner[:-1]])
    repeat = same_cust & (rng.random(n_rows) < 0.125)
    event_id = np.cumsum(~repeat).astype(np.int64)
    late = rng.random(n_rows) < 0.005
    ts = np.where(
        late,
        REF_US + rng.integers(0, 30 * DAY_US, n_rows),
        REF_US - rng.integers(1, 180 * DAY_US, n_rows),
    )
    value = np.round(rng.gamma(2.0, 30.0, n_rows), 2)
    value = np.where(rng.random(n_rows) < 0.015, -value, value)
    etype = np.array(["view", "click", "purchase", "signup", "error"])[
        rng.integers(0, 5, n_rows)
    ]
    perm = rng.permutation(n_rows)
    return pa.table(
        {
            "event_id": pa.array(event_id[perm], pa.int64()),
            "ts": pa.array(ts[perm], pa.timestamp("us")),
            "user_id": pa.array(user[perm], pa.int64()),
            "event_type": pa.array(etype[perm]),
            "value": pa.array(value[perm], pa.float64()),
            "props": pa.array(np.char.add('{"k": ', np.char.add(
                (perm % 97).astype(str), "}"))),
        }
    )


def write_events(seed: int, out_dir: str, n_rows: int, n_customers: int) -> int:
    """Write ``<out_dir>/events.parquet``; returns its size in bytes."""
    return _write(
        events_table(seed, n_rows, n_customers),
        os.path.join(out_dir, "events.parquet"),
        row_group_size=128 * 1024,
    )


def documents_table(
    seed: int, n_docs: int, dup_frac: float = 0.1
) -> tuple[pa.Table, np.ndarray]:
    """Documents with planted near-duplicate clusters.

    Returns the table and the ground truth: ``cluster[i]`` is the planted
    cluster of doc_id ``i`` (-1 for documents planted in no cluster).
    About ``dup_frac`` of the documents belong to clusters of 2-5
    near-copies of one base text, each copy ending in one or two tokens of
    its own (an appended footer), so any two copies share at least 85 % of
    their word 3-shingles once the quality gate has dropped texts under
    20 tokens. Lengths span 12-90 tokens; about 40 % of documents are not
    English.
    """
    rng = _rng(seed, 2)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    cluster: list[int] = []
    n_planted = int(n_docs * dup_frac)
    cid = 0
    while len(texts) < n_docs:
        length = int(rng.integers(12, 91))
        base = rng.integers(0, len(vocab), length)
        if len(texts) < n_planted:
            copies = min(int(rng.integers(2, 6)), n_docs - len(texts))
            for _ in range(copies):
                footer = rng.integers(0, len(vocab), int(rng.integers(1, 3)))
                texts.append(" ".join(vocab[np.concatenate([base, footer])]))
                cluster.append(cid if copies > 1 else -1)
            cid += 1
        else:
            texts.append(" ".join(vocab[base]))
            cluster.append(-1)
    perm = rng.permutation(n_docs)
    texts = [texts[p] for p in perm]
    truth = np.asarray(cluster, dtype=np.int64)[perm]
    lang = np.array(["en"] * 6 + ["de", "es", "fr", "zh"])[rng.integers(0, 10, n_docs)]
    source = np.char.add("src", rng.integers(0, 20, n_docs).astype(str))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(lang),
            "source": pa.array(source),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    return table, truth


def write_documents(seed: int, out_dir: str, n_docs: int) -> tuple[int, np.ndarray]:
    """Write ``<out_dir>/documents.parquet``; returns (bytes, cluster truth)."""
    table, truth = documents_table(seed, n_docs)
    return _write(table, os.path.join(out_dir, "documents.parquet")), truth


def embeddings_matrix(seed: int, n: int, dim: int = 64, n_clusters: int = 100) -> np.ndarray:
    """float32 (n, dim) corpus: Gaussian blobs around ``n_clusters`` centres."""
    rng = _rng(seed, 3)
    centres = rng.normal(size=(n_clusters, dim))
    label = rng.integers(0, n_clusters, n)
    return (centres[label] + 0.3 * rng.normal(size=(n, dim))).astype(np.float32)


def write_embeddings(seed: int, out_dir: str, n: int, dim: int = 64) -> tuple[int, np.ndarray]:
    """Write ``<out_dir>/embeddings.parquet``; returns (bytes, matrix)."""
    x = embeddings_matrix(seed, n, dim)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, dim, dtype=np.int32))
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(np.zeros(n, dtype=np.int32)),
        }
    )
    return _write(table, os.path.join(out_dir, "embeddings.parquet")), x


def rfm_points(seed: int, n: int) -> list[tuple[float, float, float]]:
    """Raw (recency days, frequency, monetary) triples for predict requests."""
    rng = _rng(seed, 4)
    r = np.round(rng.uniform(0.0, 180.0, n), 3)
    f = rng.integers(1, 60, n).astype(float)
    m = np.round(rng.gamma(2.0, 400.0, n), 2)
    return [(float(a), float(b), float(c)) for a, b, c in zip(r, f, m)]


def ann_queries(seed: int, corpus: np.ndarray, n: int) -> list[list[float]]:
    """Query vectors: corpus points plus small noise, 6-dp literals."""
    rng = _rng(seed, 5)
    picks = corpus[rng.integers(0, len(corpus), n)].astype(np.float64)
    q = np.round(picks + 0.05 * rng.normal(size=picks.shape), 6)
    return q.tolist()
