"""Seeded input generator for the benchmark workloads.

Every table is derived from one ``numpy.random.Generator`` seeded with the
run's ``--seed``; the row counts depend only on ``scale`` (the sf the shapes
are taken from), never on the seed. Value distributions follow the engine's
sf testdata (TPC-H-ish star schema, an ``events`` stream, a ``documents``
corpus and 64-d ``embeddings``), so the engine's query functions run on them
unchanged. The engine only ever sees the parquet files written here.

Writers use fixed row-group sizes and no wall-clock metadata, so the same
seed writes byte-identical files (the smoke test checks this).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts at sf = 1 (testdata sf0.1 has a tenth of each)
_ROWS_PER_SF = {
    "customer": 150_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch micros
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def rows(table: str, scale: float) -> int:
    return max(8, int(round(_ROWS_PER_SF[table] * scale)))


def _write(table: pa.Table, path: str) -> str:
    # fixed row groups + no pandas metadata: byte-identical per seed
    pq.write_table(
        table.replace_schema_metadata(None),
        path,
        compression="snappy",
        row_group_size=1 << 20,
    )
    return path


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi + 1, n).astype(np.int64) / 100.0


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, values).cast(pa.string())


# -- relational tables (olap_read) ------------------------------------------


def nation_table() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def customer_table(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_cents(rng, -99_999, 999_999, n)),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )


def orders_table(
    rng: np.random.Generator,
    n: int,
    n_cust: int,
    first_key: int = 0,
    start_us: int = _EPOCH_1995,
    days: int = 2404,
) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(first_key, first_key + n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_cents(rng, 100_191, 49_999_318, n)),
            "o_orderdate": _ts(start_us + rng.integers(0, days + 1, n) * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )


def lineitem_table(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(np.sort(rng.integers(0, n_orders, n)).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, 20_000, n).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_cents(rng, 90_068, 10_499_991, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n) * _DAY_US),
        }
    )


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    n_users = max(2, n // 66)
    value = np.round(rng.gamma(2.0, 40.0, n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n)),
            "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(value),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def make_relational(out_dir: str, seed: int, scale: float) -> dict[str, str]:
    """The tables the olap_read query set scans, as ``<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_ord = rows("customer", scale), rows("orders", scale)
    tables = {
        "nation": nation_table(),
        "customer": customer_table(rng, n_cust),
        "orders": orders_table(rng, n_ord, n_cust),
        "lineitem": lineitem_table(rng, rows("lineitem", scale), n_ord),
        "events": events_table(rng, rows("events", scale)),
    }
    return {
        name: _write(t, os.path.join(out_dir, f"{name}.parquet"))
        for name, t in tables.items()
    }


# -- lake table batches (lake_dml) ------------------------------------------

LAKE_START_US = _EPOCH_2024
LAKE_DAYS = 365  # twelve month partitions


def lake_orders(seed: int, batch: int, n: int, first_key: int, n_cust: int) -> pa.Table:
    """One batch of lake orders; ``batch`` keys an independent stream so a
    batch's content does not depend on how many batches came before."""
    rng = np.random.default_rng([seed, 2, batch])
    return orders_table(rng, n, n_cust, first_key, LAKE_START_US, LAKE_DAYS - 1)


def write_table(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return _write(table, path)


# -- corpus (llm_curate) ----------------------------------------------------


def make_corpus(out_dir: str, seed: int, scale: float) -> dict[str, str]:
    """``documents``, ``embeddings`` and search ``probes``, with planted
    duplicate documents.

    Planted pairs are disjoint (every document is in at most one pair):
    - exact: doc j is a byte copy of doc i;
    - near: doc j is doc i with one of its last three words replaced,
      so word 5-shingle Jaccard stays above 0.88.
    The pairs are written to ``truth.json`` beside the tables. Embeddings
    are ten Gaussian clusters; probes are perturbed corpus vectors.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n_docs, n_vec = rows("documents", scale), rows("embeddings", scale)
    n_words = rng.integers(8, 100, n_docs)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in n_words]
    n_pairs = max(1, n_docs // 50)
    order = rng.permutation(n_docs)
    exact = [(int(a), int(b)) for a, b in order[: 2 * n_pairs].reshape(-1, 2)]
    near_src = order[2 * n_pairs : 4 * n_pairs].reshape(-1, 2)
    near = []
    for a, b in near_src:
        words = texts[a].split()
        pos = len(words) - 1 - int(rng.integers(0, 3))
        words[pos] = VOCAB[(VOCAB.index(words[pos]) + 1 + int(rng.integers(0, len(VOCAB) - 1))) % len(VOCAB)]
        texts[b] = " ".join(words)
        near.append((int(a), int(b)))
    for a, b in exact:
        texts[b] = texts[a]
    # whitespace and control-character noise that clean_text must
    # normalize, on documents outside the planted pairs
    for i in order[4 * n_pairs :][rng.random(n_docs - 4 * n_pairs) < 0.05]:
        texts[i] = "  " + texts[i].replace(" ", " \t ", 1) + "\x07 "
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, LANG_P),
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )

    labels = rng.integers(0, N_LABELS, n_vec)
    centers = rng.normal(0.0, 0.12, (N_LABELS, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.12, (n_vec, EMBED_DIM))
    vecs = vecs.astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    probes = vecs[rng.integers(0, n_vec, 16)] + rng.normal(0.0, 0.05, (16, EMBED_DIM)).astype(np.float32)
    probe_t = pa.table(
        {
            "query_id": pa.array(np.arange(len(probes), dtype=np.int64)),
            "embedding": pa.array(list(probes.astype(np.float32)), type=pa.list_(pa.float32())),
        }
    )
    paths = {
        "documents": _write(docs, os.path.join(out_dir, "documents.parquet")),
        "embeddings": _write(emb, os.path.join(out_dir, "embeddings.parquet")),
        "probes": _write(probe_t, os.path.join(out_dir, "probes.parquet")),
    }
    truth = {
        "exact_pairs": exact,
        "near_pairs": near,
    }
    paths["truth"] = os.path.join(out_dir, "truth.json")
    with open(paths["truth"], "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return paths
