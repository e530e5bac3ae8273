"""Seeded input generators for the benchmark workloads.

Every table keeps the schema and value domains of the repository's
``events`` and ``documents`` test tables, so registered queries and their
DuckDB oracles run on the generated files unchanged. The properties the
engine's behaviour depends on -- key skew, the zero-value share, the
out-of-order share, the near-duplicate share and clique sizes -- are
explicit parameters, and every parquet file written here carries the
seed and all parameters in its schema metadata (key ``perfbench.generator``).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
PROPS = np.array([f'{{"k": {k}}}' for k in range(100)])
# the 31-word vocabulary of the repository's documents table
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EPOCH_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
CHAIN_WORDS = 40  # neighbours share 35 of 41 shingles (0.85), docs two apart 32 of 44 (0.73)
STREAM_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"


def _rng(*keys: int) -> np.random.Generator:
    # SeedSequence entropy must be non-negative; fold any integer seed
    return np.random.default_rng([k % 2**63 for k in keys])


def _stamp(table: pa.Table, params: dict) -> pa.Table:
    meta = dict(table.schema.metadata or {})
    meta[b"perfbench.generator"] = json.dumps(params, sort_keys=True).encode()
    return table.replace_schema_metadata(meta)


def events_table(
    seed: int,
    n: int,
    *,
    n_users: int = 5000,
    zipf_a: float = 1.2,
    zero_share: float = 0.05,
    ooo_share: float = 0.1,
    ooo_max_s: float = 600.0,
    span_s: float = 30 * 86400.0,
    start_id: int = 0,
) -> tuple[pa.Table, dict]:
    """``events`` rows: ``ts`` advances with ``event_id`` over ``span_s``
    seconds, except an ``ooo_share`` of rows pulled back by up to
    ``ooo_max_s`` (out of order); ``user_id`` is Zipf(``zipf_a``) over
    ``n_users`` keys; ``value`` is exactly 0.0 for a ``zero_share`` of rows."""
    params = {
        "table": "events", "seed": seed, "n": n, "n_users": n_users, "zipf_a": zipf_a,
        "zero_share": zero_share, "ooo_share": ooo_share, "ooo_max_s": ooo_max_s,
        "span_s": span_s, "start_id": start_id,
    }
    rng = _rng(seed, start_id, n)
    eid = np.arange(start_id, start_id + n, dtype=np.int64)
    step_us = max(1, int(span_s * 1e6 / max(n, 1)))
    ts = EPOCH_US + eid * step_us + rng.integers(0, step_us, n)
    late = rng.random(n) < ooo_share
    ts[late] -= rng.integers(0, int(ooo_max_s * 1e6) + 1, int(late.sum()))
    users = (rng.zipf(zipf_a, n) - 1) % n_users
    value = np.round(rng.lognormal(3.5, 1.0, n), 2)
    value[rng.random(n) < zero_share] = 0.0
    table = pa.table(
        {
            "event_id": eid,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": users.astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": value,
            "props": PROPS[rng.integers(0, len(PROPS), n)],
        }
    )
    return _stamp(table, params), params


def documents_table(
    seed: int,
    n: int,
    *,
    near_dup_share: float = 0.1,
    clique_min: int = 2,
    clique_max: int = 8,
    big_clique: int = 64,
    big_clique_words: int = 100,
    chain: int = 4,
    min_words: int = 10,
    max_words: int = 100,
) -> tuple[pa.Table, dict]:
    """``documents`` rows. A ``near_dup_share`` of docs sit in cliques:
    one oversized clique of ``big_clique`` docs (key skew) plus cliques of
    ``clique_min``..``clique_max`` docs. Each member is its clique's base
    text of 40+ words with at most one word substituted, so every member
    clears the 0.8 shingle-Jaccard threshold of the banded dedup family
    against the base's copy and the clique stays one cluster.

    The oversized clique's base has ``big_clique_words`` words, so its
    members clear the threshold pairwise too, on every seed (a random
    length makes it all-pairs on some seeds and a star on others). Beside
    the cliques sits a ``chain`` of docs whose ids ascend along it, each
    the previous doc with one more word substituted 7 words on, so only
    neighbours clear the threshold. The star rounds of connected
    components depend on the id order inside each component, and over the
    random cliques alone they are one on some seeds and two on others,
    which doubles the construction jobs of the banded queries; a 4-doc
    ascending chain takes exactly two, so every seed runs two."""
    params = {
        "table": "documents", "seed": seed, "n": n, "near_dup_share": near_dup_share,
        "clique_min": clique_min, "clique_max": clique_max, "big_clique": big_clique,
        "big_clique_words": big_clique_words, "chain": chain, "min_words": min_words, "max_words": max_words,
    }
    rng = _rng(seed, n)
    words: list = [None] * n
    sizes = [min(big_clique, n)]
    while sum(sizes) < int(n * near_dup_share):
        sizes.append(int(rng.integers(clique_min, clique_max + 1)))
    order = rng.permutation(n)
    pos = 0
    for k, size in enumerate(sizes):
        n_words = big_clique_words if k == 0 else int(rng.integers(40, max_words + 1))
        base = rng.integers(0, len(VOCAB), n_words)
        for j, doc in enumerate(order[pos : pos + size]):
            w = base.copy()
            if j:
                w[rng.integers(0, len(w))] = rng.integers(0, len(VOCAB))
            words[doc] = w
        pos += size
    w = rng.integers(0, len(VOCAB), CHAIN_WORDS)
    for k, doc in enumerate(np.sort(order[pos : pos + chain])):
        if k:
            w = w.copy()
            at = 7 * k % CHAIN_WORDS
            w[at] = (w[at] + rng.integers(1, len(VOCAB))) % len(VOCAB)
        words[doc] = w
    pos += chain
    for doc in order[pos:]:
        words[doc] = rng.integers(0, len(VOCAB), int(rng.integers(min_words, max_words + 1)))
    texts = [" ".join(VOCAB[w]) for w in words]
    table = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{d % 20}" for d in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return _stamp(table, params), params


def write_table(table: pa.Table, sf_dir: str, name: str, row_group_rows: int = 131072) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=row_group_rows)
    return path


def stream_events(seed: int, n: int, start_id: int = 0) -> tuple[pa.Table, dict]:
    """Events for the streaming workload: event time advances 1 ms per
    event and an out-of-order share lags by up to 2 s, always inside the
    pipeline's 5 s watermark, so no event is dropped as late."""
    return events_table(
        seed, n, ooo_share=0.1, ooo_max_s=2.0, span_s=n / 1000.0, start_id=start_id
    )


def write_file(table: pa.Table, path: str) -> None:
    """Write ``table`` so that a file-stream source sees it whole: the
    file source skips names starting with ``.``, and the rename is atomic."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)
