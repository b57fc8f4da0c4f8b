"""Invalidation behavior of the in-session memos.

Three memos carry cross-query state: the dedup mining memo
(``operators.dedup._MEMO`` — shingle sets, LSH candidates, verified
pairs, CC labels), the ``scan_parallel`` split-probe memo
(``sources._SPLITS_ENOUGH``) and the inferred-schema memo
(``sources._SCHEMAS``).  All key on a stat() fingerprint of the
backing table, so an in-process rewrite of the corpus must yield
fresh results, never a replay of the previous corpus's checkpoint.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from parquet_stream_writer_spark.operators import dedup
from parquet_stream_writer_spark.sources import (
    _SPLITS_ENOUGH,
    clear_scan_cache,
    scan_parallel,
    table_fingerprint,
)

#: Ten-token documents so 3-gram shingling produces real shingles.
_BASE = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"


def _write_docs(spark, sf, rows):
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(str(sf / "documents.parquet"))


def test_dedup_memo_invalidated_by_corpus_rewrite(spark, tmp_path):
    """Rewriting documents.parquet in-process must invalidate every
    memoized mining intermediate: the second corpus has different
    near-dup pairs, and a stale checkpoint replay would return the
    first corpus's answer."""
    sf = tmp_path / "sf"
    sf.mkdir()
    # corpus 1: docs 1 and 2 are near-identical -> one pair.
    _write_docs(
        spark,
        sf,
        [
            (1, _BASE, "en", "a", 60),
            (2, _BASE + " kilo", "en", "a", 64),
            (3, "totally different words with no shared shingles at all here now", "en", "a", 64),
        ],
    )
    pairs1 = dedup.dedup_minhash_lsh(spark, str(sf)).collect()
    assert {(r["d1"], r["d2"]) for r in pairs1} == {(1, 2)}

    # Parquet mtime resolution can swallow a fast rewrite.
    time.sleep(0.05)

    # corpus 2: docs 2 and 3 are the near-dups instead.
    _write_docs(
        spark,
        sf,
        [
            (1, "totally different words with no shared shingles at all here now", "en", "a", 64),
            (2, _BASE, "en", "a", 60),
            (3, _BASE + " kilo", "en", "a", 64),
        ],
    )
    pairs2 = dedup.dedup_minhash_lsh(spark, str(sf)).collect()
    assert {(r["d1"], r["d2"]) for r in pairs2} == {(2, 3)}, (
        "stale memoized pair set survived a corpus rewrite"
    )


def test_dedup_memo_shared_across_family(spark, tmp_path):
    """Connected components and the cluster representative must reuse
    the SAME verified-pair DataFrame object the miner produced (the
    memo is the sharing mechanism — object identity proves no
    re-mining)."""
    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(
        spark,
        sf,
        [
            (1, _BASE, "en", "a", 60),
            (2, _BASE + " kilo", "en", "a", 64),
        ],
    )
    dedup.clear_dedup_memo()
    mined = dedup._verified_pairs(spark, str(sf))
    assert dedup._verified_pairs(spark, str(sf)) is mined
    labels = dedup.dedup_connected_components(spark, str(sf)).collect()
    assert {(r["doc_id"], r["component"]) for r in labels} == {(1, 1), (2, 1)}
    # the CC run must not have replaced the memoized pair set
    assert dedup._verified_pairs(spark, str(sf)) is mined


def test_clear_dedup_memo_forces_rebuild(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(spark, sf, [(1, _BASE, "en", "a", 60)])
    first = dedup._verified_pairs(spark, str(sf))
    dedup.clear_dedup_memo()
    assert dedup._verified_pairs(spark, str(sf)) is not first


def test_memo_failed_build_keeps_old_entries(spark, tmp_path):
    """Eviction is deferred until a build SUCCEEDS: a failing rebuild
    (e.g. corpus rewritten mid-flight) must not destroy the previous
    entry (ADVICE r4)."""
    import pytest

    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(spark, sf, [(1, _BASE, "en", "a", 60)])
    dedup.clear_dedup_memo()
    first = dedup._verified_pairs(spark, str(sf))
    n_before = len(dedup._MEMO)
    time.sleep(0.05)
    _write_docs(spark, sf, [(1, _BASE, "en", "a", 60), (2, _BASE, "en", "a", 60)])

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        dedup._memo(spark, str(sf), "pairs", boom)
    assert len(dedup._MEMO) == n_before, "failed build evicted live entries"
    assert dedup._verified_pairs(spark, str(sf)) is not first  # rebuilds fine


def test_memo_unrelated_stages_do_not_serialize(spark, tmp_path):
    """A long-running build of one stage must NOT block a different
    stage's memo access (per-key locks, ADVICE r4: a concurrent
    harness serialized every dedup query behind the CC build)."""
    import threading

    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(spark, sf, [(1, _BASE, "en", "a", 60)])
    dedup.clear_dedup_memo()

    slow_started = threading.Event()
    release_slow = threading.Event()
    docs = spark.createDataFrame([(1,)], "doc_id long")

    def slow_build():
        slow_started.set()
        assert release_slow.wait(timeout=30), "deadlock: slow build never released"
        return docs

    t = threading.Thread(
        target=lambda: dedup._memo(spark, str(sf), "slow_stage", slow_build)
    )
    t.start()
    try:
        assert slow_started.wait(timeout=30)
        # while slow_stage's build is in flight, another stage completes
        out = dedup._memo(spark, str(sf), "fast_stage", lambda: docs)
        assert out is docs
    finally:
        release_slow.set()
        t.join(timeout=30)
    assert not t.is_alive()


def test_memo_evicts_dead_application_entries(spark, tmp_path):
    """Entries recorded under a stopped SparkContext's applicationId
    are evicted on the next successful build — their checkpoint blocks
    died with the context (ADVICE r4)."""
    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(spark, sf, [(1, _BASE, "en", "a", 60)])
    dedup.clear_dedup_memo()
    docs = spark.createDataFrame([(1,)], "doc_id long")
    dead_key = ("shingles", "app-long-gone", str(sf), ("x",))
    with dedup._MEMO_LOCK:
        dedup._MEMO[dead_key] = docs
    dedup._memo(spark, str(sf), "other_stage", lambda: docs)
    assert dead_key not in dedup._MEMO


def test_memo_size_is_bounded(spark, tmp_path):
    """The memo never exceeds _MEMO_CAP entries (LRU), so long test
    sessions over many tmp corpora stay flat."""
    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(spark, sf, [(1, _BASE, "en", "a", 60)])
    dedup.clear_dedup_memo()
    docs = spark.createDataFrame([(1,)], "doc_id long")
    for i in range(dedup._MEMO_CAP + 5):
        dedup._memo(spark, str(sf), f"stage_{i}", lambda: docs)
    assert len(dedup._MEMO) <= dedup._MEMO_CAP
    # most-recently-used entries survive
    assert any(k[0] == f"stage_{dedup._MEMO_CAP + 4}" for k in dedup._MEMO)
    dedup.clear_dedup_memo()


def test_scan_parallel_probe_invalidated_by_conf_change(spark, tmp_path):
    """The split-probe memo keys on the file-split confs: shrinking
    maxPartitionBytes so one file yields many splits must re-probe,
    not reuse the stale 'repartition needed' decision (ADVICE r3)."""
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.range(0, 200_000).select(
        F.col("id").alias("doc_id"),
        F.lit(_BASE).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("a").alias("source"),
        F.lit(60).cast("long").alias("n_chars"),
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))

    clear_scan_cache()
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        n_default = len(_SPLITS_ENOUGH)
        scan_parallel(spark, str(sf), "documents", "doc_id")
        assert len(_SPLITS_ENOUGH) == n_default + 1
        # a different split conf must produce a NEW memo entry
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        scan_parallel(spark, str(sf), "documents", "doc_id")
        assert len(_SPLITS_ENOUGH) == n_default + 2
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        clear_scan_cache()


def test_table_fingerprint_changes_on_rewrite(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(spark, sf, [(1, _BASE, "en", "a", 60)])
    fp1 = table_fingerprint(str(sf), "documents")
    time.sleep(0.05)
    _write_docs(spark, sf, [(1, _BASE, "en", "a", 60), (2, _BASE, "en", "a", 60)])
    fp2 = table_fingerprint(str(sf), "documents")
    assert fp1 != fp2
    assert table_fingerprint(str(sf), "nope") == ("missing",)


def _jobs_started(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_schema_memo_matches_inference_for_every_table(spark):
    """The memoized schema a second load declares is the schema the
    first load inferred, for all ten corpus tables (``events`` under
    its nanos-as-long read), and the rows read with it are the same."""
    from parquet_stream_writer_spark.sources import (
        TABLES,
        clear_schema_cache,
        load_table,
    )
    from tests.conftest import SF_DIR

    clear_schema_cache()
    inferred = {t: load_table(spark, SF_DIR, t) for t in TABLES}
    for t in TABLES:
        declared = load_table(spark, SF_DIR, t)
        assert declared.schema == inferred[t].schema, t
    for t in ("events", "documents"):
        a, b = load_table(spark, SF_DIR, t), inferred[t]
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, t


def test_schema_memo_second_load_starts_no_job(spark):
    from parquet_stream_writer_spark.sources import clear_schema_cache, load_table
    from tests.conftest import SF_DIR

    clear_schema_cache()
    for t in ("documents", "events"):
        assert _jobs_started(spark, f"schema-first-{t}", lambda: load_table(spark, SF_DIR, t)) >= 1
        assert _jobs_started(spark, f"schema-second-{t}", lambda: load_table(spark, SF_DIR, t)) == 0


def test_schema_memo_reinfers_after_rewrite(spark, tmp_path):
    from parquet_stream_writer_spark.sources import load_table

    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(spark, sf, [(1, _BASE, "en", "a", 60)])
    assert "extra" not in load_table(spark, str(sf), "documents").columns
    time.sleep(0.05)
    spark.createDataFrame(
        [(1, _BASE, "en", "a", 60, 7)],
        "doc_id long, text string, lang string, source string, n_chars long, extra int",
    ).coalesce(1).write.mode("overwrite").parquet(str(sf / "documents.parquet"))
    df = load_table(spark, str(sf), "documents")
    assert "extra" in df.columns and df.collect()[0]["extra"] == 7


def test_schema_memo_reinfers_on_type_conf_flip(spark, tmp_path):
    """A conf that changes the inferred types is part of the memo key:
    with ``nanosAsLong`` off, a TIMESTAMP(NANOS) column cannot be
    inferred at all, so the read must raise rather than replay the
    memoized BIGINT schema; ``binaryAsString`` flips BINARY to STRING."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from parquet_stream_writer_spark.sources import _read_parquet

    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([1_000_000_001], pa.timestamp("ns")),
                "b": pa.array([b"xy"], pa.binary()),
            }
        ),
        sf / "t.parquet",
    )
    confs = ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString")
    old = {c: spark.conf.get(c, None) for c in confs}
    try:
        spark.conf.set(confs[0], "true")
        spark.conf.set(confs[1], "false")
        assert dict(_read_parquet(spark, str(sf), "t").dtypes) == {"ts": "bigint", "b": "binary"}
        spark.conf.set(confs[1], "true")
        assert dict(_read_parquet(spark, str(sf), "t").dtypes)["b"] == "string"
        spark.conf.set(confs[0], "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL|Illegal Parquet type"):
            _read_parquet(spark, str(sf), "t")
    finally:
        for c, v in old.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)
