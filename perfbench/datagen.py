"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is made here from the
``--seed`` argument, so the same seed always gives the same bytes and
the program never sees anything but the generated inputs.

- :func:`write_corpus` writes the query-pack corpus (the TPC-H-ish star
  schema plus ``events``/``documents``/``embeddings``) with the schemas
  and value domains of the project's synthetic test tables, at a chosen
  scale factor (``lineitem`` has ``6e6 * sf`` rows).
- :func:`ingest_batches` makes the Arrow record batches the sink
  workload pushes into ``ParquetStreamWriter``, with one narrower-than-declared
  integer column so the writer's cast does real work.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "red", "small", "big", "old", "new", "hot", "cold"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()

_EPOCH_MS_1995 = int(dt.datetime(1995, 1, 1).timestamp() * 1000)
_EPOCH_US_2024 = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)
_DAY_MS = 86_400_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_ms(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    days = rng.integers(0, span_days, n)
    return pa.array(_EPOCH_MS_1995 + days * _DAY_MS, pa.timestamp("ms"))


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The query-pack corpus as Arrow tables, fully determined by
    ``(seed, sf)``."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(50, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days_ms(rng, n_ord, 2400),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days_ms(rng, n_line, 2500),
        }
    )
    # Events: monotone timestamps over 30 days, skewed 2-dp values.
    gaps = rng.exponential(30 * 86_400_000_000 / n_ev, n_ev)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(_EPOCH_US_2024 + np.cumsum(gaps).astype(np.int64), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_cust, n_ev), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.lognormal(3.0, 1.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # Documents: bag-of-words text; ~5 % are an earlier document plus
    # a " dup" suffix, so near-duplicate mining has work to find.
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_corpus(out_dir: Path, seed: int, sf: float) -> dict[str, int]:
    """Write the corpus as one parquet file per table; returns each
    table's uncompressed Arrow bytes."""
    out_dir.mkdir(parents=True, exist_ok=True)
    sizes = {}
    for name, table in corpus_tables(seed, sf).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
        sizes[name] = table.nbytes
    return sizes


#: The schema the sink workload's push streams declare to the writer. The pushed
#: batches carry ``qty`` as int32, so every push casts it to int64.
INGEST_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("qty", pa.int64()),
        ("price", pa.float64()),
        ("tag", pa.string()),
        ("payload", pa.string()),
    ]
)

_TAGS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]


def ingest_batches(seed: int, n_batches: int, rows_per_batch: int) -> list[pa.RecordBatch]:
    """``n_batches`` record batches of ``rows_per_batch`` rows each,
    in push order. Payload lengths vary, so batch byte sizes do too."""
    rng = np.random.default_rng(seed)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", np.uint8)
    n = n_batches * rows_per_batch
    lens = rng.integers(16, 112, n)
    chars = alphabet[rng.integers(0, len(alphabet), int(lens.sum()))]
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    payload = pa.StringArray.from_buffers(n, pa.py_buffer(offsets), pa.py_buffer(chars.tobytes()))
    table = pa.table(
        {
            "id": pa.array(np.arange(n), pa.int64()),
            "qty": pa.array(rng.integers(0, 1000, n), pa.int32()),
            "price": _money(rng, 0.0, 1000.0, n),
            "tag": pa.array(rng.choice(_TAGS, n)),
            "payload": payload,
        }
    )
    return [
        table.slice(i * rows_per_batch, rows_per_batch).combine_chunks().to_batches()[0]
        for i in range(n_batches)
    ]
