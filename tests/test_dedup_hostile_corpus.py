"""Hostile-corpus differential for the MinHash/LSH mining family.

The generated corpora are well-formed: one row per doc_id, every text long
enough to shingle, no repeated phrases, no LSH bucket anywhere near
``_BUCKET_CAP``.  This corpus has each of the shapes the per-document
shingle-set miner must treat exactly like the oracle's shingle-row
formulation:

- a doc_id spread over several rows (its shingle set is the union of
  its rows' sets).  The oracle shingles with ``lead`` over ``ORDER BY
  pos`` per doc_id, which interleaves the tokens of two texts that
  share a doc_id, so the differential repeats a doc_id only with a
  NULL text (no tokens on the oracle side); the union itself is
  pinned against a pure-Python shingler;
- documents with fewer than three tokens (no shingles at all);
- empty and NULL text;
- shingles repeated within one document (set, not multiset, sizes);
- a family of identical documents larger than ``_BUCKET_CAP`` (every
  band bucket of the family is dropped by the skew guard).

Every mining key that reads the pair set is compared Spark vs DuckDB.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_stream_writer_spark.operators import dedup

from tests.conftest import assert_results_match

_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor"
).split()
_HOT_COPIES = dedup._BUCKET_CAP + 5


def _hostile_rows() -> list[tuple]:
    rows: list[tuple] = []
    text = " ".join(_WORDS[:12])
    # near-dup family: a base text and one-token edits of it
    rows += [(1, text), (2, text + " zulu"), (3, "x " + text), (4, text.replace("golf", "gulf"))]
    # doc_id 5 spans two rows, one of them NULL; it near-duplicates doc 6
    rows += [(5, " ".join(_WORDS[10:22])), (5, None), (6, " ".join(_WORDS[10:21]))]
    # fewer than three tokens, empty and NULL text
    rows += [(7, "alpha"), (8, "alpha bravo"), (9, ""), (10, None), (11, "   ")]
    # repeated shingles: set sizes differ from row counts
    rows += [(12, "one two three " * 6), (13, "one two three " * 2 + "four"), (14, "one two three four")]
    # identical family larger than the bucket cap
    hot = " ".join(reversed(_WORDS))
    rows += [(100 + i, hot) for i in range(_HOT_COPIES)]
    return rows


@pytest.fixture(scope="module")
def hostile_sf(tmp_path_factory):
    out = tmp_path_factory.mktemp("hostile_dedup_sf")
    rows = _hostile_rows()
    table = pa.Table.from_pydict(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": [f"src{r[0] % 3}" for r in rows],
            "n_chars": [len(r[1] or "") for r in rows],
        },
        schema=_SCHEMA,
    )
    pq.write_table(table, out / "documents.parquet")
    return str(out)


@pytest.fixture(scope="module")
def hostile_con(hostile_sf):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{hostile_sf}/documents.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize(
    "key",
    [
        "dedup_minhash_lsh",
        "dedup_lsh_recall_audit",
        "dedup_minhash_estimate_audit",
        "dedup_connected_components",
    ],
)
def test_mining_key_matches_oracle_on_hostile_corpus(spark, hostile_sf, hostile_con, key):
    dedup.clear_dedup_memo()
    assert_results_match(dedup.QUERIES[key](spark, hostile_sf), hostile_con, dedup.ORACLE[key])


def test_hostile_corpus_exercises_the_bucket_cap(spark, hostile_sf):
    """The corpus must actually reach the shapes it exists for: mined
    pairs exist, and the over-cap family's exact pairs are missing from
    the candidates (recall < 1), which only the skew guard causes."""
    dedup.clear_dedup_memo()
    pairs = {(r["d1"], r["d2"]) for r in dedup.dedup_minhash_lsh(spark, hostile_sf).collect()}
    assert (1, 2) in pairs and (5, 6) in pairs, pairs
    assert not any(100 <= d1 < 100 + _HOT_COPIES for d1, _ in pairs), pairs
    audit = dedup.dedup_lsh_recall_audit(spark, hostile_sf).collect()[0]
    n_hot_pairs = _HOT_COPIES * (_HOT_COPIES - 1) // 2
    assert audit["n_exact_pairs"] - audit["n_matched"] >= n_hot_pairs, audit


def _py_shingles(text: str | None) -> set[str]:
    if text is None:
        return set()
    toks = text.lower().split(" ")
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def test_shingle_sets_union_rows_of_a_doc_id(spark, tmp_path):
    """A doc_id on several rows gets the union of its rows' shingle
    sets (the semantics of per-row shingling + a distinct on
    (doc_id, shingle)); documents without a shingle get no row."""
    rows = [
        (1, "a b c d"),
        (1, "c d e a b c"),
        (1, None),
        (2, "x y"),
        (3, ""),
        (4, "p q r p q r p q r"),
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                  "text": [r[1] for r in rows]}),
        tmp_path / "documents.parquet",
    )
    got = {
        r["doc_id"]: sorted(r["sh"])
        for r in dedup._shingle_sets(spark, str(tmp_path)).collect()
    }
    want: dict[int, set[str]] = {}
    for doc_id, text in rows:
        want.setdefault(doc_id, set()).update(_py_shingles(text))
    assert got == {k: sorted(v) for k, v in want.items() if v}
