"""Deduplication operators over the ``documents`` corpus.

The reference has no dedup surface (SURVEY.md §2b); these are the
north-star LLM-pipeline extensions. Four families, each a different
point on the exactness/scale tradeoff:

- ``dedup_exact``            — hash groupBy on normalized text; the
  O(n) baseline, one shuffle on the text key.
- ``dedup_ngram_jaccard``    — exact Jaccard over 3-token shingles for
  every pair sharing a shingle. Exact but quadratic in the worst case;
  the small-corpus ground truth the approximate methods are judged
  against.
- ``dedup_minhash_lsh``      — MinHash signatures + banded LSH: only
  pairs sharing a band bucket are verified. This is the 100 TB path,
  built on one cached relation, each document's set of distinct
  shingles (doc_id, sh): signatures are map-side ``array_min`` over
  the set (no shuffle of the shingle stream), banding is one shuffle
  of (doc × bands) rows into bucket aggregates that emit the pairs,
  and exact verification joins only candidate pairs to the two
  documents' sets. Hot buckets (degenerate shingles) are capped at
  ``_BUCKET_CAP`` docs — the standard LSH skew guard; the cap is
  replicated in the oracle so results stay bit-identical.
- ``dedup_simhash``          — 16-bit SimHash over token frequencies;
  identical-fingerprint grouping (Hamming-0). Cheapest signature;
  demonstrates the bit-arithmetic lane.

Everything is built-in JVM expressions — no Python UDFs. The hash
family is md5 (same lowercase hex in Spark and DuckDB), which makes
even the *approximate* pipelines exactly reproducible by the oracle:
min over a fixed-width integer prefix of the digest is a valid
uniform MinHash, identical across engines.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from parquet_stream_writer_spark.functions import pround
from parquet_stream_writer_spark.sources import load_table, scan_parallel, table_fingerprint

#: MinHash signature length and LSH banding (K = BANDS * ROWS_PER_BAND).
_K = 12
_BANDS = 4
_ROWS_PER_BAND = 3
#: Skip LSH buckets with more than this many docs (skew guard).
_BUCKET_CAP = 50
#: Exact-Jaccard inverted index: drop shingles appearing in more than
#: this many documents (the analogue of ``_BUCKET_CAP`` for the exact
#: path — a stop-phrase shingle shared by f docs alone contributes
#: f(f-1)/2 join rows, so the self-join is bounded at
#: O(#shingles · CAP²) instead of quadratic in the corpus).
_NGRAM_DF_CAP = 200
#: Exact-Jaccard acceptance threshold for near-dup pairs.
_J_THRESHOLD = 0.5


# ---------------------------------------------------------------------------
# In-session sharing of the expensive dedup intermediates
# ---------------------------------------------------------------------------

#: Memoized heavy intermediates (shingle sets, LSH candidates,
#: verified pairs, CC labels), keyed by (stage, application, sf_dir,
#: corpus fingerprint). Five queries build on the same mined pair set
#: (`dedup_minhash_lsh` → connected components → cluster
#: representative, plus the recall audit's candidate set); without
#: sharing, each re-runs shingling + signatures + bucketing from
#: scratch — the most expensive job in the repo, three times over.
#: The fingerprint (mtime+size stat of documents.parquet) invalidates
#: entries when a test rewrites the corpus in-process; a new
#: SparkContext gets a fresh applicationId and therefore fresh
#: entries (localCheckpoint blocks die with their context).
_MEMO: "OrderedDict[tuple, DataFrame]" = OrderedDict()
#: Guards the memo DICTIONARIES only — never held across a build().
_MEMO_LOCK = threading.Lock()
#: One lock per memo key: concurrent queries on UNRELATED stages (or
#: corpora) proceed in parallel; only same-key callers wait for the
#: in-flight build. Builds nest (_cc_labels -> _verified_pairs ->
#: shingle_sets) on DIFFERENT keys in a fixed DAG order, so there is no
#: lock cycle; RLock covers same-thread same-key reentry.
_BUILD_LOCKS: dict[tuple, threading.RLock] = {}
#: Max memoized DataFrames across all corpora (4 stages per corpus; a
#: long pytest session touches many tmp corpora — the LRU bound keeps
#: the process flat instead of accumulating dead checkpoint refs).
_MEMO_CAP = 16

#: Stages persistable ACROSS sessions as bucketed warehouse tables
#: keyed on the corpus fingerprint — ONLY when the deployment opts in
#: via ``SPARK_GRAFT_MEMO_DIR`` (VERDICT r18 item 1: the always-on
#: disk tier let bench/driver runs skip the mining cost — cross-run
#: result caching, removed; with the env unset these stages are
#: session-local like every other memo entry).  Values are (bucket
#: column, bucket count).  THREE stages qualify — the LSH candidate
#: set, the verified pairs, and the CC labels; each is a deterministic
#: function of the corpus bytes (md5 shingling + banded buckets, exact
#: Jaccard, min-label fixpoint), so a reload is value-identical to a
#: rebuild.  The corpus-sized shingle-set relation (the one
#: intermediate that scales with total corpus bytes rather than with
#: the near-dup pair count) is never persisted.
_PERSIST_STAGES: dict[str, tuple[str, int]] = {
    "lsh_candidates": ("d1", 16),
    "verified_pairs": ("d1", 16),
    "cc_labels": ("node", 16),
}


def _drop_entry(key: tuple) -> None:
    """Pop + unpersist one memo entry (caller holds ``_MEMO_LOCK``)."""
    stale_df = _MEMO.pop(key, None)
    _BUILD_LOCKS.pop(key, None)
    if stale_df is not None:
        try:
            stale_df.unpersist()
        except Exception:
            pass


def _memo(
    spark: SparkSession, sf_dir: str, stage: str, build: Callable[[], DataFrame]
) -> DataFrame:
    app_id = spark.sparkContext.applicationId
    key = (stage, app_id, sf_dir, table_fingerprint(sf_dir, "documents"))
    with _MEMO_LOCK:
        df = _MEMO.get(key)
        if df is not None:
            _MEMO.move_to_end(key)
            return df
        build_lock = _BUILD_LOCKS.setdefault(key, threading.RLock())
    with build_lock:
        # Double-check: another thread may have finished this key's
        # build while we waited on its lock.
        with _MEMO_LOCK:
            df = _MEMO.get(key)
            if df is not None:
                _MEMO.move_to_end(key)
                return df
        # The (possibly eager — localCheckpoint + convergence probes)
        # build runs OUTSIDE the dict lock: unrelated stages never
        # serialize behind it, and a build failure leaves the old
        # entries untouched (eviction is deferred until success).
        if stage in _PERSIST_STAGES:
            from parquet_stream_writer_spark.operators._memo_store import (
                load_or_build_table,
            )

            bucket_col, buckets = _PERSIST_STAGES[stage]
            df = load_or_build_table(
                spark,
                stage=stage,
                sf_dir=sf_dir,
                fingerprint=key[3],
                bucket_col=bucket_col,
                buckets=buckets,
                build=build,
            )
        else:
            df = build()
        with _MEMO_LOCK:
            # Superseded same-(stage, app, dir) entries: the corpus
            # was rewritten, their checkpoints describe dead data.
            for old_key in [k for k in _MEMO if k[:3] == key[:3]]:
                _drop_entry(old_key)
            # Entries from stopped SparkContexts: their localCheckpoint
            # blocks died with the context; the DataFrames only pin GC.
            for old_key in [k for k in _MEMO if k[1] != app_id]:
                _drop_entry(old_key)
            _MEMO[key] = df
            while len(_MEMO) > _MEMO_CAP:  # LRU bound
                _drop_entry(next(iter(_MEMO)))
    return df


def clear_dedup_memo() -> None:
    """Drop all memoized dedup intermediates (test hook)."""
    with _MEMO_LOCK:
        for key in list(_MEMO):
            _drop_entry(key)
        _BUILD_LOCKS.clear()


def _shingle_sets_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cached per-document shingle-set relation, one instance per
    corpus: every dedup op that touches shingles reuses the same cached
    DataFrame (Spark's CacheManager would usually dedupe identical
    plans anyway; the memo makes the sharing explicit and survives
    plan-probe variance in ``scan_parallel``)."""
    return _memo(
        spark, sf_dir, "shingle_sets", lambda: _shingle_sets(spark, sf_dir).cache()
    )


def _shingles_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) rows of the cached set relation."""
    return _explode_sets(_shingle_sets_shared(spark, sf_dir))


def _hex_to_int_sql(col: str, width: int) -> str:
    """Portable SQL: integer value of the first ``width`` hex chars of
    an md5 digest.

    Both Spark SQL and DuckDB lack a shared hex→int builtin, so build
    it from ``instr`` over a hex alphabet (identical semantics in
    both dialects; 1-based, returns 0 when absent — digests only
    contain [0-9a-f] so every lookup hits).
    """
    terms = []
    for p in range(1, width + 1):
        # cast the place-value multiplier to BIGINT: at width 8 the
        # high place is 16^7 and the product overflows INT32 (ANSI
        # Spark raises; DuckDB would silently widen — keep both long).
        terms.append(
            f"(instr('0123456789abcdef', substr({col}, {p}, 1)) - 1)"
            f" * cast({16 ** (width - p)} as bigint)"
        )
    return "(" + " + ".join(terms) + ")"


def _hex4_to_int_sql(col: str) -> str:
    return _hex_to_int_sql(col, 4)


def _hex_prefix_sql(expr: str, width: int) -> str:
    """Spark-side fast path of :func:`_hex_to_int_sql`: integer value
    of the first ``width`` hex chars of a digest via ``conv`` — ONE
    digest evaluation per row instead of one per hex digit (the
    instr-sum inlines the digest call into every place-value term; at
    K=12 signatures that is 96 md5 calls per shingle without
    common-subexpression elimination). DuckDB has no ``conv``, so the
    oracle keeps the portable instr-sum — the VALUES are identical
    (both read the prefix as a base-16 integer), which the oracle
    hash-match verifies end-to-end."""
    return f"cast(conv(substring({expr}, 1, {width}), 16, 10) as bigint)"


def _hex_prefix_int(expr: str, width: int) -> F.Column:
    """:func:`_hex_prefix_sql` as a Column."""
    return F.expr(_hex_prefix_sql(expr, width))


def _shingle_sets(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Each document's set of distinct ``n``-token shingles: (doc_id,
    sh), one row per doc_id, documents without a shingle dropped.

    Shingles are built map-side with array higher-order functions
    (``transform`` over a ``sequence`` of start offsets), in contrast
    to the posexplode + window-``lead`` shape which sorts every token.
    The per-row arrays are then unioned per doc_id
    (``array_distinct(flatten(collect_list(...)))``), which keeps set
    semantics when a doc_id spans several rows. When ``scan_parallel``
    repartitions it hash-partitions on doc_id, so the grouping adds no
    exchange; otherwise it shuffles one row per input row. The
    exploded shingle stream itself is never shuffled.
    """
    # Materialize the token array as its own column first: expressions
    # referenced inside a higher-order-function lambda are re-evaluated
    # per array element, so inlining ``split()`` there would re-split
    # the text O(tokens) times per row.
    docs = scan_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    # 0-based bracket indexing (GetArrayItem) stays inside codegen;
    # the ``element_at`` lambda variant is ~6x slower interpreted.
    concat = ", ".join(f"toks[i+{j}]" for j in range(n))
    rows = docs.select(
        "doc_id",
        F.expr(
            f"case when size(toks) >= {n} then "
            f"transform(sequence(0, size(toks)-{n}), "
            f"i -> concat_ws(' ', {concat})) end"
        ).alias("sh"),
    )
    return (
        rows.groupBy("doc_id")
        .agg(F.array_distinct(F.flatten(F.collect_list("sh"))).alias("sh"))
        .where(F.size("sh") > 0)
    )


def _explode_sets(sets: DataFrame) -> DataFrame:
    """(doc_id, sh) → distinct (doc_id, shingle) rows, map-side."""
    return sets.select("doc_id", F.explode("sh").alias("shingle"))


#: Oracle twin of :func:`_shingle_sets`, exploded, as a CTE body (DuckDB dialect —
#: unnest/generate_subscripts instead of posexplode; lead is shared).
_SQL_SHINGLES = """
toks AS (
  SELECT doc_id,
         unnest(string_split(lower(text), ' ')) AS tok,
         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
  FROM documents
),
shingled AS (
  SELECT doc_id,
         CASE WHEN lead(tok, 2) OVER w IS NOT NULL
              THEN tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
         END AS shingle
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
ds AS (SELECT DISTINCT doc_id, shingle FROM shingled WHERE shingle IS NOT NULL)
"""


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate removal on normalized text: keep the lowest
    doc_id per group (deterministic, unlike dropDuplicates), report
    group size. One hash shuffle on the normalized key — at 100 TB
    group on a fixed-width hash (``xxhash64(text)``) instead of the
    full text to shrink shuffle rows; here the text itself keeps the
    oracle trivially equivalent."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    w = Window.partitionBy(norm).orderBy("doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy(norm)))
        .where(F.col("rk") == 1)
        .select("doc_id", "lang", "source", F.col("n_copies").cast("long").alias("n_copies"))
    )


ORACLE_DEDUP_EXACT = """
SELECT doc_id, lang, source, CAST(n_copies AS BIGINT) AS n_copies
FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lower(trim(text)) ORDER BY doc_id) AS rk,
         count(*)     OVER (PARTITION BY lower(trim(text)))                 AS n_copies
  FROM documents
) WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (ground truth for the approximate methods)
# ---------------------------------------------------------------------------

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (j >= 0.5).

    Candidate generation = self-join on shared shingle (inverted
    index), so cost is bounded by shingle co-occurrence, not n².
    Hot shingles — document frequency above ``_NGRAM_DF_CAP`` — are
    dropped from the shingle universe before anything else (a DF-200
    stop-phrase shingle alone would emit ~20k join rows; the cap
    bounds the self-join at O(#shingles · CAP²) the same way
    ``_BUCKET_CAP`` bounds the LSH buckets). The cap defines the
    universe for BOTH the intersection and the union sizes, so the
    reported value is the exact Jaccard over non-degenerate shingles
    — and the oracle replicates the cap, keeping results
    bit-identical. The window count shares the per-shingle shuffle
    with the self-join key, so the cap adds no extra exchange.
    Still the exact method — at 100 TB use ``dedup_minhash_lsh``;
    this one is the correctness yardstick.
    """
    wdf = Window.partitionBy("shingle")
    # Optimization r18 (guide §5): the capped relation fans out to
    # three consumers (sizes, both self-join sides) — without
    # materialization each one re-ran the DF window (exchange + sort
    # over the whole shingle stream; AQE reuses the exchange but not
    # the sort/window above it). One localCheckpoint = one window pass;
    # on a real cluster it becomes persist(DISK_ONLY). It is eager:
    # lazily, the three consumers' stages compute it concurrently, the
    # first to finish checkpoints it and drops the lineage, and the
    # others' tasks then report SQL metrics that the JVM may already
    # have collected ("attempted to access non-existent accumulator",
    # ~100 log entries per sf0.1 run).
    ds = (
        _shingles_shared(spark, sf_dir)
        .withColumn("df", F.count(F.lit(1)).over(wdf))
        .where(F.col("df") <= _NGRAM_DF_CAP)
        .drop("df")
        .localCheckpoint(eager=True)
    )
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = ds.alias("a")
    b = ds.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    # No broadcast hint on `sizes`: it is one row PER DOCUMENT, so at
    # 100 TB it is corpus-sized — let the planner shuffle-join it on
    # doc_id (candidates are already keyed by doc_id; AQE may still
    # pick broadcast at small SF where it genuinely fits).
    jac = (
        inter.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .select(
            "d1",
            "d2",
            (
                F.col("n_common")
                / (F.col("s1.n") + F.col("s2.n") - F.col("n_common"))
            ).alias("j"),
        )
    )
    return jac.where(F.col("j") >= _J_THRESHOLD).select(
        "d1", "d2", pround(F.col("j"), 6).alias("jaccard")
    )


ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH {_SQL_SHINGLES},
capped AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
    FROM ds
  ) WHERE df <= {_NGRAM_DF_CAP}
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       floor((n_common * 1.0 / (s1.n + s2.n - n_common)) * 1000000 + 0.5) / 1000000.0 AS jaccard
FROM inter
JOIN sizes s1 ON d1 = s1.doc_id
JOIN sizes s2 ON d2 = s2.doc_id
WHERE n_common * 1.0 / (s1.n + s2.n - n_common) >= {_J_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MinHash + banded LSH (the scale path)
# ---------------------------------------------------------------------------

def _minhash_signatures(sets: DataFrame) -> DataFrame:
    """The set relation plus K md5-seeded min-hashes per doc (columns
    ``h0``..``h{K-1}``), computed map-side as ``array_min`` over each
    document's shingle set: no shuffle, no aggregation.

    Each min-hash reads a fixed-width BIGINT (first 8 hex chars of the
    digest) — the same value the oracle's portable ``instr``
    conversion yields, so the min over a document's shingles matches
    the oracle's ``min(...) GROUP BY doc_id`` exactly."""
    mins = [
        F.expr(
            "array_min(transform(sh, s -> "
            + _hex_prefix_sql(f"md5(concat(s, '#{i}'))", 8)
            + "))"
        ).alias(f"h{i}")
        for i in range(_K)
    ]
    return sets.select("*", *mins)


def _band_keys(sets: DataFrame) -> DataFrame:
    """(doc_id, band_id, bkey): one row per document and band, the key
    being md5 of the band's r concatenated min-hashes. Map-side from
    the set relation — the first exchange of the miner is the bucket
    aggregate in :func:`_lsh_candidates`."""
    sig = _minhash_signatures(sets)
    bands = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"h{b * _ROWS_PER_BAND + r}") for r in range(_ROWS_PER_BAND)]
                )
            ).alias("bkey"),
        )
        for b in range(_BANDS)
    ]
    return sig.select("doc_id", F.explode(F.array(*bands)).alias("bk")).select(
        "doc_id", F.col("bk.band_id").alias("band_id"), F.col("bk.bkey").alias("bkey")
    )


def _lsh_candidates(sets: DataFrame) -> DataFrame:
    """Distinct banded-LSH candidate pairs (d1 < d2) from the set
    relation: band keys → one aggregate per (band, key) bucket → every
    doc pair within a bucket of at most ``_BUCKET_CAP`` docs.

    The skew guard counts every row of a bucket (a NULL doc_id too,
    like the oracle's ``count(*)``) and drops degenerate buckets
    before any pair is formed. Pairs come from the bucket's sorted
    doc list, so there is no self-join: the (band, key) exchange and
    the final ``distinct`` are the miner's only shuffles. A hot
    bucket's doc list is buffered until the cap drops it, as the
    window partition of a bucket-count formulation would be."""
    buckets = (
        _band_keys(sets)
        .groupBy("band_id", "bkey")
        .agg(
            F.count(F.lit(1)).alias("bn"),
            F.array_sort(F.collect_list("doc_id")).alias("docs"),
        )
        .where(F.col("bn") <= _BUCKET_CAP)
    )
    # docs[i] paired with every later element; the CASE keeps the
    # sequence from running backwards on a 0- or 1-doc list.
    pairs = F.expr(
        "case when size(docs) >= 2 then flatten(transform("
        "sequence(0, size(docs) - 2), "
        "i -> transform(slice(docs, i + 2, size(docs)), "
        "d -> named_struct('d1', docs[i], 'd2', d)))) end"
    )
    return buckets.select(F.explode(pairs).alias("p")).select("p.d1", "p.d2").distinct()


def _lsh_candidates_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized, lazily-checkpointed LSH candidate pair set — shared
    by the verified-pair miner and the audits so the signature +
    banding pipeline runs once per (session, corpus)."""
    return _memo(
        spark,
        sf_dir,
        "lsh_candidates",
        lambda: _lsh_candidates(_shingle_sets_shared(spark, sf_dir)).localCheckpoint(
            eager=False
        ),
    )


def _with_sides(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """Pairs (d1, d2) joined to both documents' rows of ``docs`` (keyed
    on ``doc_id``), each side's other columns suffixed ``1``/``2`` —
    a doc-level join, one row per pair, never a shingle-level one."""
    cols = [c for c in docs.columns if c != "doc_id"]

    def side(k: int) -> DataFrame:
        return docs.select(
            F.col("doc_id").alias(f"d{k}"), *[F.col(c).alias(f"{c}{k}") for c in cols]
        )

    return pairs.join(side(1), "d1").join(side(2), "d2")


def _exact_jaccard() -> F.Column:
    """Exact shingle Jaccard of a :func:`_with_sides` row over the set
    columns ``sh1``/``sh2``: |A∩B| / (|A| + |B| − |A∩B|), the same
    integer counts the oracle's shingle join + ``count(*)`` yields."""
    common = F.size(F.array_intersect("sh1", "sh2"))
    return common / (F.size("sh1") + F.size("sh2") - common)


def _verified_pairs_plan(
    spark: SparkSession, sf_dir: str, candidates: DataFrame | None = None
) -> DataFrame:
    """The un-checkpointed verified-pair plan (exact-Jaccard over the
    LSH candidate set) — factored out so plan tests can inspect the
    join/aggregate structure that the memoized checkpoint in
    :func:`_verified_pairs` otherwise hides behind a LogicalRDD."""
    sets = _shingle_sets_shared(spark, sf_dir)
    if candidates is None:
        candidates = _lsh_candidates(sets)
    # No broadcast hint on the set relation: it is one row PER
    # DOCUMENT, so at 100 TB it is corpus-sized — plain equi-joins
    # keyed on doc_id (AQE may still pick broadcast at small SF).
    jac = _with_sides(candidates, sets).select("d1", "d2", _exact_jaccard().alias("j"))
    return jac.where(F.col("j") >= _J_THRESHOLD).select(
        "d1", "d2", pround(F.col("j"), 6).alias("jaccard")
    )


def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized exact-Jaccard-verified near-dup pair set
    (d1, d2, jaccard) — the output of the MinHash/LSH mining pipeline
    and the input to every dedup op downstream of it (connected
    components, cluster representatives, incremental ingest). Lazily
    ``localCheckpoint``-ed: the first consumer's action materializes
    it; later consumers re-read executor-local blocks instead of
    re-mining."""
    return _memo(
        spark,
        sf_dir,
        "verified_pairs",
        lambda: _verified_pairs_plan(
            spark, sf_dir, _lsh_candidates_shared(spark, sf_dir)
        ).localCheckpoint(eager=False),
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH near-dup pairs, exact-Jaccard-verified (j >= 0.5).

    Pipeline: per-document shingle sets → K-wide signature
    (``array_min`` per set, map-side) → band keys (md5 of r
    concatenated mins) → every doc pair within a (band, key) bucket,
    with a ``_BUCKET_CAP`` skew guard → distinct candidate pairs → exact
    verification by a doc-level join of each candidate to both
    documents' sets (``size(array_intersect(...))``).

    The mined pair set is memoized per (session, corpus) — see
    :func:`_verified_pairs` — so the downstream dedup family
    (connected components, cluster representative, recall audit,
    incremental ingest) shares one mining pass instead of re-running
    it per query.
    """
    return _verified_pairs(spark, sf_dir)


def _sql_minhash_core() -> str:
    hcols = ",\n         ".join(
        "min(" + _hex_to_int_sql("md5(shingle || '#%d')" % i, 8) + ") AS h%d" % i
        for i in range(_K)
    )
    bcols = ",\n         ".join(
        "md5("
        + " || '|' || ".join(f"h{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND))
        + f") AS band{b}"
        for b in range(_BANDS)
    )
    bunion = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_id, band{b} AS bkey FROM banded"
        for b in range(_BANDS)
    )
    return f"""
sig AS (
  SELECT doc_id,
         {hcols}
  FROM ds GROUP BY doc_id
),
banded AS (
  SELECT doc_id,
         {bcols}
  FROM sig
),
stacked AS (
{bunion}
),
ok_buckets AS (
  SELECT band_id, bkey FROM stacked GROUP BY band_id, bkey
  HAVING count(*) <= {_BUCKET_CAP}
),
pruned AS (
  SELECT s.* FROM stacked s SEMI JOIN ok_buckets o
    ON s.band_id = o.band_id AND s.bkey = o.bkey
),
candidates AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
  FROM pruned l JOIN pruned r
    ON l.band_id = r.band_id AND l.bkey = r.bkey AND l.doc_id < r.doc_id
)
"""


ORACLE_DEDUP_MINHASH_LSH = f"""
WITH {_SQL_SHINGLES},
{_sql_minhash_core().strip()},
sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, count(*) AS n_common
  FROM candidates c
  JOIN ds a ON c.d1 = a.doc_id
  JOIN ds b ON c.d2 = b.doc_id AND a.shingle = b.shingle
  GROUP BY c.d1, c.d2
)
SELECT d1, d2,
       floor((n_common * 1.0 / (s1.n + s2.n - n_common)) * 1000000 + 0.5) / 1000000.0 AS jaccard
FROM inter
JOIN sizes s1 ON d1 = s1.doc_id
JOIN sizes s2 ON d2 = s2.doc_id
WHERE n_common * 1.0 / (s1.n + s2.n - n_common) >= {_J_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash buckets: docs whose token-frequency fingerprints
    collide exactly (Hamming distance 0).

    Per doc: token counts → each token contributes ±count to each of
    16 bit positions (sign = bit of md5(token)) → fingerprint bit j =
    1 iff the sum is positive. Pairs are reported per colliding
    bucket. All arithmetic is generated SQL shared verbatim with the
    oracle (see ``_hex4_to_int_sql``).
    """
    docs = scan_parallel(spark, sf_dir, "documents", "doc_id")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("w"))
    counts = counts.withColumn("h16", _hex_prefix_int("md5(tok)", 4))
    bit_sums = counts.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h16 div {1 << j}) % 2") == 1, F.col("w")).otherwise(-F.col("w"))
            ).alias(f"b{j}")
            for j in range(16)
        ]
    )
    fp = bit_sums.select(
        "doc_id",
        sum(
            [F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(16)],
            F.lit(0),
        ).cast("long").alias("simhash"),
    )
    l = fp.alias("l")
    r = fp.alias("r")
    return l.join(
        r, (F.col("l.simhash") == F.col("r.simhash")) & (F.col("l.doc_id") < F.col("r.doc_id"))
    ).select(
        F.col("l.doc_id").alias("d1"),
        F.col("r.doc_id").alias("d2"),
        F.col("l.simhash").alias("simhash"),
    )


def _sql_simhash() -> str:
    h = _hex4_to_int_sql("md5(tok)")
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h16 // {1 << j}) % 2 = 1 THEN w ELSE -w END) AS b{j}"
        for j in range(16)
    )
    fp_expr = " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
counts AS (
  SELECT doc_id, tok, count(*) AS w, {h} AS h16
  FROM toks GROUP BY doc_id, tok
),
bit_sums AS (
  SELECT doc_id,
         {bit_sums}
  FROM counts GROUP BY doc_id
),
fp AS (
  SELECT doc_id, CAST({fp_expr} AS BIGINT) AS simhash FROM bit_sums
)
SELECT l.doc_id AS d1, r.doc_id AS d2, l.simhash AS simhash
FROM fp l JOIN fp r ON l.simhash = r.simhash AND l.doc_id < r.doc_id
"""


ORACLE_DEDUP_SIMHASH = _sql_simhash()


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
}

ORACLE = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_ngram_jaccard": ORACLE_DEDUP_NGRAM_JACCARD,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH_LSH,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
}


# ---------------------------------------------------------------------------
# Connected components over near-dup pairs (dedup clustering)
# ---------------------------------------------------------------------------

#: Convergence cap for label propagation (components here are tiny;
#: the cap only guards against pathological chains).
_CC_MAX_ITERS = 50


def _symmetric_edges(pairs: DataFrame) -> DataFrame:
    """Undirected pair set → distinct directed edge set, hash-
    partitioned on the propagation join key ``d2``. Hash partitioning
    is kept unconditionally — a single-partition collapse would be
    marginally faster on today's tiny pair sets but becomes a
    one-task convergence loop the moment the dup rate grows; the
    partitioning survives the checkpoint, so every propagation round
    joins without re-shuffling the edge side."""
    return (
        pairs.unionByName(
            pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
        )
        .distinct()
        .repartition(F.col("d2"))
    )


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized fixpoint labels of min-label propagation over the
    mined near-dup pairs: (node, label) with label = the component's
    minimum doc_id. Shared by ``dedup_connected_components`` and
    ``dedup_cluster_representative`` so the iterative loop runs once
    per (session, corpus)."""

    def build() -> DataFrame:
        # The memoized pair set is already checkpointed; the symmetric
        # union therefore re-reads executor-local blocks, not the
        # whole MinHash pipeline, in each branch.
        pairs = _verified_pairs(spark, sf_dir).select("d1", "d2")
        edges = _symmetric_edges(pairs).localCheckpoint(eager=True)
        labels = (
            edges.select(F.col("d1").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint(eager=True)
        )
        # Convergence probe: min-label propagation only ever *decreases*
        # labels, so sum(label) is strictly monotone until fixpoint —
        # comparing it round-over-round detects convergence without the
        # extra join-and-count job per round (one scalar agg action,
        # whose job the eager localCheckpoint shares work with).
        prev_sum = None
        for _ in range(_CC_MAX_ITERS):
            nbr_min = (
                edges.join(labels, edges["d2"] == labels["node"])
                .groupBy("d1")
                .agg(F.min("label").alias("nbr_label"))
            )
            # Lazy checkpoint: the convergence-probe aggregate below is
            # the round's ONE action and doubles as the checkpoint
            # materializer — an eager checkpoint here would run a
            # second, redundant job per round (measurable driver
            # overhead when the pair set is tiny and every round is
            # sub-100ms of real work).
            new_labels = (
                labels.join(nbr_min, labels["node"] == nbr_min["d1"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=False)
            )
            label_sum = new_labels.agg(F.sum("label")).first()[0]
            labels = new_labels
            if label_sum == prev_sum:
                break
            prev_sum = label_sum
        return labels

    return _memo(spark, sf_dir, "cc_labels", build)


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster the MinHash/LSH near-dup pairs into duplicate groups:
    each doc gets its component's minimum doc_id as the canonical
    label — the final step of every dedup pipeline (keep one doc per
    component).

    Iterative min-label propagation (Pregel shape): each node adopts
    ``min(own label, neighbours' labels)`` until fixpoint, converging
    in O(component diameter) rounds. Each round is one join + one
    aggregation; ``localCheckpoint`` truncates the growing lineage so
    round N doesn't replan rounds 1..N-1 (on a cluster use
    ``checkpoint`` to HDFS instead). The driver-side loop only ever
    collects a single change-count per round — the data never leaves
    the executors. Both the input pair set and the fixpoint labels
    are memoized per (session, corpus) — see :func:`_cc_labels`.

    Oracle: DuckDB recursive CTE computing the transitive closure of
    the same edge set (exact for these component sizes).
    """
    labels = _cc_labels(spark, sf_dir)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


#: Shared transitive-closure CTE chain over the MinHash pair set
#: (``pairs`` → symmetric ``edges`` → recursive ``reach`` → ``comp``
#: labels). Interpolated into every oracle that builds on components.
_SQL_CC_COMPONENTS = f"""pairs AS (
{ORACLE_DEDUP_MINHASH_LSH}
),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a
)"""

ORACLE_DEDUP_CONNECTED_COMPONENTS = f"""
WITH RECURSIVE {_SQL_CC_COMPONENTS}
SELECT doc_id, component FROM comp
"""


QUERIES["dedup_connected_components"] = dedup_connected_components
ORACLE["dedup_connected_components"] = ORACLE_DEDUP_CONNECTED_COMPONENTS


# ---------------------------------------------------------------------------
# Fuzzy string matching (edit distance with length blocking)
# ---------------------------------------------------------------------------

def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy duplicate candidates among part names: pairs within edit
    distance 3. The naive formulation is an all-pairs nested loop;
    here each name emits three length-block keys (len..len+2) so the
    candidate join is hash-equi on the block key — only pairs whose
    lengths differ by ≤2 (a necessary condition for distance ≤3 when
    names differ mostly by substitution) ever meet, and the O(n·m)
    levenshtein kernel runs on the surviving candidates only. The
    same blocking discipline (on length, prefix, or phonetic key) is
    how fuzzy entity resolution stays subquadratic at scale."""
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct().select(
        "p_name", F.length("p_name").alias("ln")
    )
    blocked = names.select(
        "p_name", "ln", F.explode(F.expr("sequence(ln, ln + 2)")).alias("blk")
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, "blk")
        .where(
            (F.col("a.p_name") < F.col("b.p_name"))
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= 2)
        )
        .select(
            F.col("a.p_name").alias("name_a"), F.col("b.p_name").alias("name_b")
        )
        .distinct()
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= 3)
        .select("name_a", "name_b", F.col("dist").cast("int").alias("dist"))
    )


ORACLE_DEDUP_FUZZY = """
WITH names AS (SELECT DISTINCT p_name FROM part),
pairs AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b,
         levenshtein(a.p_name, b.p_name) AS dist
  FROM names a JOIN names b
    ON a.p_name < b.p_name
   AND abs(len(a.p_name) - len(b.p_name)) <= 2)
SELECT name_a, name_b, CAST(dist AS INTEGER) AS dist
FROM pairs WHERE dist <= 3
"""


QUERIES["dedup_fuzzy_levenshtein"] = dedup_fuzzy_levenshtein
ORACLE["dedup_fuzzy_levenshtein"] = ORACLE_DEDUP_FUZZY


# ---------------------------------------------------------------------------
# Canonical representative per near-dup cluster (dedup collapse step)
# ---------------------------------------------------------------------------

def dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse each near-dup component to one canonical document —
    the decision step that turns dedup *detection* into dedup
    *execution* in a training-data pipeline.

    Policy: keep the longest document (``n_chars`` desc), tie-broken
    by lowest ``doc_id`` — "longest member" is the usual choice when
    near-dups are truncations of one another. Emits per component the
    kept doc, the member count and the chars that would be dropped.

    Scale shape: the component labels come from
    :func:`dedup_connected_components` (bucketed LSH pairs, Pregel
    propagation); this step adds one broadcast-sized join (components
    are a minuscule fraction of the corpus) plus ONE per-component
    window shuffle — the rank and the member/char aggregates all ride
    the same component partitioning (no separate groupBy or re-join),
    and partitions are component-sized (tiny by the ``_BUCKET_CAP``
    skew guard upstream).
    """
    labels = dedup_connected_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = labels.join(docs, "doc_id")
    wo = Window.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    wa = Window.partitionBy("component")
    ranked = (
        members.withColumn("rk", F.row_number().over(wo))
        .withColumn("n_members", F.count(F.lit(1)).over(wa).cast("long"))
        .withColumn("total_chars", F.sum("n_chars").over(wa).cast("long"))
    )
    return ranked.where(F.col("rk") == 1).select(
        "component",
        F.col("doc_id").alias("rep_doc_id"),
        "n_members",
        (F.col("total_chars") - F.col("n_chars").cast("long")).alias("chars_dropped"),
    )


ORACLE_DEDUP_CLUSTER_REPRESENTATIVE = f"""
WITH RECURSIVE {_SQL_CC_COMPONENTS},
members AS (
  SELECT c.component, c.doc_id, d.n_chars
  FROM comp c JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT component, doc_id, n_chars,
         row_number() OVER (PARTITION BY component
                            ORDER BY n_chars DESC, doc_id) AS rk,
         CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members,
         CAST(sum(n_chars) OVER (PARTITION BY component) AS BIGINT) AS total_chars
  FROM members
)
SELECT component, doc_id AS rep_doc_id, n_members,
       total_chars - CAST(n_chars AS BIGINT) AS chars_dropped
FROM ranked WHERE rk = 1
"""


QUERIES["dedup_cluster_representative"] = dedup_cluster_representative
ORACLE["dedup_cluster_representative"] = ORACLE_DEDUP_CLUSTER_REPRESENTATIVE


# ---------------------------------------------------------------------------
# Cross-source contamination / overlap matrix
# ---------------------------------------------------------------------------

def dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content overlap between corpus sources: for every
    source pair (a < b), how many distinct 3-token shingles appear in
    both — the signal behind "source B is a scrape of source A"
    curation calls and train/eval cross-contamination audits.

    Scale shape: shingles are hashed to fixed-width 8-hex ints
    map-side, deduped to (source, h) — at most |sources| × |distinct
    shingles| narrow rows — then self-joined hash-equi on ``h``. The
    shuffle carries 8-byte keys, never shingle text; per-key fan-out
    is bounded by the source count (20), so no key explodes the join.
    """
    sh = _shingles_shared(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sharded = (
        sh.join(src, "doc_id")
        .select("source", _hex_prefix_int("md5(shingle)", 8).alias("h"))
        .distinct()
        # Optimization r18 (guide §5): both self-join sides re-ran the
        # shingle-hash + distinct pipeline; checkpoint it once.
        .localCheckpoint(eager=False)
    )
    a, b = sharded.alias("a"), sharded.alias("b")
    return (
        a.join(b, "h")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_shingles"))
    )


ORACLE_DEDUP_CROSS_SOURCE_OVERLAP = f"""
WITH {_SQL_SHINGLES},
sharded AS (
  SELECT DISTINCT d.source, {_hex_to_int_sql("md5(ds.shingle)", 8)} AS h
  FROM ds JOIN documents d USING (doc_id)
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS shared_shingles
FROM sharded a JOIN sharded b ON a.h = b.h AND a.source < b.source
GROUP BY a.source, b.source
"""


QUERIES["dedup_cross_source_overlap"] = dedup_cross_source_overlap
ORACLE["dedup_cross_source_overlap"] = ORACLE_DEDUP_CROSS_SOURCE_OVERLAP


# ---------------------------------------------------------------------------
# Directional shingle containment (subset-duplicate detection)
# ---------------------------------------------------------------------------

#: Containment acceptance threshold: |S(A) ∩ S(B)| / |S(A)| >= this.
_CONTAINMENT_THRESHOLD = 0.9


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment C(A→B) = |S(A)∩S(B)| / |S(A)|:
    the near-dup signal Jaccard misses — a short document wholly
    quoted inside a long one has tiny Jaccard but containment ≈ 1.
    Standard in curation stacks for dropping subset-duplicates while
    keeping the superset document.

    Same inverted-index shape as ``dedup_ngram_jaccard`` (candidate
    pairs come from the shared-shingle equi self-join, never n²), but
    the pair orientation is kept (d1≠d2 both ways) because the metric
    is asymmetric. `sizes` is one row per doc — joined by key, never
    broadcast (see dedup_ngram_jaccard)."""
    sets = _shingle_sets_shared(spark, sf_dir)
    ds = _explode_sets(sets)
    sizes = sets.select("doc_id", F.size("sh").alias("n"))
    a = ds.alias("a")
    b = ds.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.alias("s1")
    cont = inter.join(s1, F.col("d1") == F.col("s1.doc_id")).select(
        "d1", "d2", (F.col("n_common") / F.col("s1.n")).alias("c")
    )
    return cont.where(F.col("c") >= _CONTAINMENT_THRESHOLD).select(
        "d1", "d2", pround(F.col("c"), 6).alias("containment")
    )


ORACLE_DEDUP_CONTAINMENT = f"""
WITH {_SQL_SHINGLES},
sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       floor((n_common * 1.0 / s1.n) * 1000000 + 0.5) / 1000000.0 AS containment
FROM inter JOIN sizes s1 ON d1 = s1.doc_id
WHERE n_common * 1.0 / s1.n >= {_CONTAINMENT_THRESHOLD}
"""


QUERIES["dedup_containment"] = dedup_containment
ORACLE["dedup_containment"] = ORACLE_DEDUP_CONTAINMENT


# ---------------------------------------------------------------------------
# LSH recall audit (exact Jaccard ground truth vs banded-LSH output)
# ---------------------------------------------------------------------------

def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantify the banded-LSH shortcut against ground truth: exact
    Jaccard pairs vs the LSH candidate set, as one audit row — the
    dedup twin of ``similarity_ivf_recall``, and the numbers you tune
    ``_BANDS``/``_ROWS_PER_BAND``/``_BUCKET_CAP`` against before
    trusting LSH on the full corpus. Because verified LSH output is by
    construction `candidates ∩ exact_pairs`, recall = matched/exact;
    candidate_precision = matched/candidates is the verify-pass rate
    (how much exact-verification work the banding wastes).

    Scale shape: exact pairs and candidates are both already
    subquadratic; the audit itself never re-verifies — one full-outer
    pair-key join + a singleton aggregate, with each heavy pipeline
    appearing exactly once in the DAG (reusing the memoized shingle
    relation and the memoized, checkpointed candidate set — see
    :func:`_lsh_candidates_shared`). The ratio columns are
    null-guarded: an empty exact-pair or candidate set yields a null
    recall/precision instead of an ANSI DIVIDE_BY_ZERO error."""
    sets = _shingle_sets_shared(spark, sf_dir)
    ds = _explode_sets(sets)
    sizes = sets.select("doc_id", F.size("sh").alias("n"))
    a = ds.alias("a")
    b = ds.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1, s2 = sizes.alias("s1"), sizes.alias("s2")
    exact = (
        inter.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .where(
            F.col("n_common") / (F.col("s1.n") + F.col("s2.n") - F.col("n_common"))
            >= _J_THRESHOLD
        )
        .select("d1", "d2", F.lit(1).alias("ex"))
    )
    cand = _lsh_candidates_shared(spark, sf_dir).select(
        "d1", "d2", F.lit(1).alias("cd")
    )
    full = exact.join(cand, ["d1", "d2"], "full")
    return full.groupBy().agg(
        F.sum(F.coalesce(F.col("ex"), F.lit(0))).cast("long").alias("n_exact_pairs"),
        F.sum(F.coalesce(F.col("cd"), F.lit(0))).cast("long").alias("n_candidate_pairs"),
        F.sum(F.coalesce(F.col("ex"), F.lit(0)) * F.coalesce(F.col("cd"), F.lit(0)))
        .cast("long")
        .alias("n_matched"),
    ).select(
        "n_exact_pairs",
        "n_candidate_pairs",
        "n_matched",
        F.when(
            F.col("n_exact_pairs") > 0,
            pround(F.col("n_matched") / F.col("n_exact_pairs"), 6),
        ).alias("recall"),
        F.when(
            F.col("n_candidate_pairs") > 0,
            pround(F.col("n_matched") / F.col("n_candidate_pairs"), 6),
        ).alias("candidate_precision"),
    )


#: One flat CTE chain: the shared shingle/minhash cores define
#: toks/shingled/ds and sig/.../candidates once, then exact pairs and
#: the candidate set full-outer join into one audit row.
ORACLE_DEDUP_LSH_RECALL_AUDIT = f"""
WITH {_SQL_SHINGLES},
{_sql_minhash_core().strip()},
sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
inter_exact AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact_pairs AS (
  SELECT d1, d2, 1 AS ex FROM inter_exact
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE n_common * 1.0 / (s1.n + s2.n - n_common) >= {_J_THRESHOLD}
),
cand AS (SELECT d1, d2, 1 AS cd FROM candidates),
full_pairs AS (
  SELECT coalesce(e.ex, 0) AS ex, coalesce(c.cd, 0) AS cd
  FROM exact_pairs e FULL OUTER JOIN cand c
    ON e.d1 = c.d1 AND e.d2 = c.d2
)
SELECT CAST(sum(ex) AS BIGINT) AS n_exact_pairs,
       CAST(sum(cd) AS BIGINT) AS n_candidate_pairs,
       CAST(sum(ex * cd) AS BIGINT) AS n_matched,
       floor((sum(ex * cd) * 1.0 / nullif(sum(ex), 0)) * 1000000 + 0.5) / 1000000.0
         AS recall,
       floor((sum(ex * cd) * 1.0 / nullif(sum(cd), 0)) * 1000000 + 0.5) / 1000000.0
         AS candidate_precision
FROM full_pairs
"""


QUERIES["dedup_lsh_recall_audit"] = dedup_lsh_recall_audit
ORACLE["dedup_lsh_recall_audit"] = ORACLE_DEDUP_LSH_RECALL_AUDIT


# ---------------------------------------------------------------------------
# Cluster-size profile (dedup threshold report)
# ---------------------------------------------------------------------------

def dedup_cluster_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of near-dup cluster sizes — the report you eyeball
    before committing a dedup threshold: per cluster size, how many
    clusters and how many documents they hold (size 1 = singletons,
    docs with no near-dup at all).

    Scale shape: rides the memoized CC labels (:func:`_cc_labels`, no
    re-mining); the size histogram is two tiny aggregates over the
    label set plus two single-row corpus counts broadcast into the
    singleton row — the corpus itself is scanned once for a count.
    """
    labels = _cc_labels(spark, sf_dir)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    hist = sizes.groupBy(F.col("sz").cast("long").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
    )
    total = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    labeled = labels.agg(F.count(F.lit(1)).alias("n_labeled"))
    singletons = (
        total.crossJoin(F.broadcast(labeled))
        .select((F.col("n_total") - F.col("n_labeled")).alias("n_single"))
        .where(F.col("n_single") > 0)
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            F.col("n_single").cast("long").alias("n_clusters"),
            F.col("n_single").cast("long").alias("n_docs"),
        )
    )
    return hist.unionByName(singletons)


ORACLE_DEDUP_CLUSTER_SIZE_PROFILE = f"""
WITH RECURSIVE {_SQL_CC_COMPONENTS},
sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY component),
hist AS (
  SELECT CAST(sz AS BIGINT) AS cluster_size,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(sz) AS BIGINT) AS n_docs
  FROM sizes GROUP BY sz
),
counts AS (
  SELECT (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp)
           AS n_single
)
SELECT * FROM hist
UNION ALL
SELECT CAST(1 AS BIGINT), CAST(n_single AS BIGINT), CAST(n_single AS BIGINT)
FROM counts WHERE n_single > 0
"""


QUERIES["dedup_cluster_size_profile"] = dedup_cluster_size_profile
ORACLE["dedup_cluster_size_profile"] = ORACLE_DEDUP_CLUSTER_SIZE_PROFILE


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (dup clusters never straddle splits)
# ---------------------------------------------------------------------------

def sample_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split that CANNOT leak near-duplicates
    across splits: every document is bucketed by the hash of its dup
    GROUP (the CC component label for clustered docs, its own doc_id
    for singletons), so all members of a near-dup cluster land in the
    same split — the guard against a test document whose near-copy
    sits in train, which a plain per-doc hash split
    (``sample_hash_split``) does not provide. Reports per split the
    doc totals, how many docs are near-dup members, and distinct
    groups.

    Scale shape: the label set is a minuscule fraction of the corpus
    (bucketed-LSH pairs upstream), so the label join is key-equi on
    doc_id; bucket arithmetic is the same md5-prefix mod 100 as
    ``sample_hash_split`` (conv fast path Spark-side, instr-sum in
    the oracle — identical values); one final tiny aggregate.
    """
    labels = _cc_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("label").alias("grp_label")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    grouped = docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.col("grp_label").isNotNull().alias("is_dup_member"),
        F.coalesce("grp_label", "doc_id").alias("grp"),
    )
    bucket = F.expr(
        "(cast(conv(substring(md5(cast(grp as string)), 1, 4), 16, 10)"
        " as bigint) % 100)"
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        grouped.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("is_dup_member").cast("long"))
            .cast("long")
            .alias("n_dup_docs"),
            F.countDistinct("grp").cast("long").alias("n_groups"),
        )
    )


def _sql_grp_bucket() -> str:
    return "(" + _hex4_to_int_sql("md5(CAST(grp AS VARCHAR))") + " % 100)"


ORACLE_SAMPLE_SPLIT_LEAKAGE_SAFE = f"""
WITH RECURSIVE {_SQL_CC_COMPONENTS},
grouped AS (
  SELECT d.doc_id,
         c.component IS NOT NULL AS is_dup_member,
         coalesce(c.component, d.doc_id) AS grp
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
bucketed AS (
  SELECT doc_id, is_dup_member, grp,
         CASE WHEN {_sql_grp_bucket()} < 80 THEN 'train'
              WHEN {_sql_grp_bucket()} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM grouped
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN is_dup_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(count(DISTINCT grp) AS BIGINT) AS n_groups
FROM bucketed GROUP BY split
"""


QUERIES["sample_split_leakage_safe"] = sample_split_leakage_safe
ORACLE["sample_split_leakage_safe"] = ORACLE_SAMPLE_SPLIT_LEAKAGE_SAFE


# ---------------------------------------------------------------------------
# Boundary overlap (chunk-split document detection)
# ---------------------------------------------------------------------------

#: Tokens compared at each document boundary (head = first N tokens,
#: tail = last N).
_BOUNDARY_TOKENS = 3


def dedup_boundary_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect document pairs where one doc's TAIL equals another's
    HEAD (first/last ``_BOUNDARY_TOKENS`` tokens) — the signature of a
    document split into chunks by an upstream extractor, or of
    boilerplate stitched across records. Near-dup methods miss these
    (two halves of a split share few shingles overall); training on
    them double-counts the seam text and leaks continuations across
    splits.

    Emits (lead_doc, follow_doc, boundary): ``lead_doc``'s last N
    tokens == ``follow_doc``'s first N. Scale shape: one corpus scan
    derives both boundary keys map-side (array ``slice`` on the token
    array — no explode), then a single hash-equi self-join on the
    boundary string. At 100 TB key on ``xxhash64(boundary)`` to keep
    the shuffle fixed-width; the raw string keeps the oracle trivial
    here (same tradeoff as :func:`dedup_exact`).
    """
    n = _BOUNDARY_TOKENS
    docs = scan_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.split(F.lower("text"), " ").alias("t")
    ).where(F.size("t") >= n)
    head = F.concat_ws(" ", F.slice("t", 1, n))
    tail = F.concat_ws(" ", F.slice("t", -n, n))
    heads = docs.select(F.col("doc_id").alias("follow_doc"), head.alias("boundary"))
    tails = docs.select(F.col("doc_id").alias("lead_doc"), tail.alias("boundary"))
    return (
        tails.join(heads, "boundary")
        .where(F.col("lead_doc") != F.col("follow_doc"))
        .select("lead_doc", "follow_doc", "boundary")
    )


ORACLE_DEDUP_BOUNDARY_OVERLAP = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
sized AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= {_BOUNDARY_TOKENS}),
heads AS (
  SELECT doc_id AS follow_doc,
         array_to_string(list_slice(t, 1, {_BOUNDARY_TOKENS}), ' ') AS boundary
  FROM sized),
tails AS (
  SELECT doc_id AS lead_doc,
         array_to_string(list_slice(t, n - {_BOUNDARY_TOKENS} + 1, n), ' ')
           AS boundary
  FROM sized)
SELECT t.lead_doc, h.follow_doc, t.boundary
FROM tails t JOIN heads h USING (boundary)
WHERE t.lead_doc <> h.follow_doc
"""


QUERIES["dedup_boundary_overlap"] = dedup_boundary_overlap
ORACLE["dedup_boundary_overlap"] = ORACLE_DEDUP_BOUNDARY_OVERLAP


# ---------------------------------------------------------------------------
# MinHash estimate-error audit
# ---------------------------------------------------------------------------

#: Error-histogram bin width for |est − exact| (10 bins over [0, 1]).
_EST_ERR_BINS = 10


def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy audit of the MinHash *estimator* itself: for every LSH
    candidate pair, the sketch estimate (fraction of the K=12 signature
    components that collide) against the exact shingle Jaccard, rolled
    into an error histogram — |est − exact| binned by 0.1.

    Complements :func:`dedup_lsh_recall_audit` (which audits what the
    *bands* recall) by auditing what the *signature* estimates; the
    mean bias per bin is what you'd consult before cutting K at scale.
    Rides the memoized candidate set and set relation: one doc-level
    join per candidate side yields both the signature collisions and
    the exact Jaccard — no corpus-sized shuffle beyond the shared
    mining pass.
    """
    cands = _lsh_candidates_shared(spark, sf_dir)
    pairs = _with_sides(cands, _minhash_signatures(_shingle_sets_shared(spark, sf_dir)))
    matches = sum(
        [F.when(F.col(f"h{i}1") == F.col(f"h{i}2"), 1).otherwise(0) for i in range(_K)],
        F.lit(0),
    )
    est = pairs.select(
        # Integer collision count kept alongside the ratio: the bin
        # means are computed from exact integer sums (rounded-sum-
        # divide convention) so no floating accumulation order can
        # fork a 4-dp boundary.
        matches.cast("long").alias("est_m"),
        (matches / F.lit(float(_K))).alias("est_j"),
        _exact_jaccard().alias("exact_j"),
    )
    joined = est.select(
        F.least(
            F.floor(F.abs(F.col("est_j") - F.col("exact_j")) * _EST_ERR_BINS),
            F.lit(_EST_ERR_BINS - 1).cast("long"),
        ).alias("err_band"),
        "est_m",
        # Per-pair 6-dp integer scaling of the exact Jaccard: one
        # deterministic IEEE division + floor, identical bits in both
        # engines; the bin mean then divides an exact BIGINT sum.
        F.floor(F.col("exact_j") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("exact_e6"),
    )
    return (
        joined.groupBy("err_band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            pround(F.sum("est_m") / (F.count(F.lit(1)) * F.lit(_K)), 4).alias(
                "mean_est"
            ),
            pround(
                F.sum("exact_e6") / (F.count(F.lit(1)) * F.lit(1000000)), 4
            ).alias("mean_exact"),
        )
        .orderBy("err_band")
    )


def _sql_est_matches() -> str:
    return (
        "("
        + " + ".join(
            f"CASE WHEN s1.h{i} = s2.h{i} THEN 1 ELSE 0 END" for i in range(_K)
        )
        + f") * 1.0 / {float(_K)}"
    )


ORACLE_DEDUP_MINHASH_ESTIMATE_AUDIT = f"""
WITH {_SQL_SHINGLES},
{_sql_minhash_core().strip()},
est AS (
  SELECT c.d1, c.d2, {_sql_est_matches()} AS est_j
  FROM candidates c
  JOIN sig s1 ON c.d1 = s1.doc_id
  JOIN sig s2 ON c.d2 = s2.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, count(*) AS n_common
  FROM candidates c
  JOIN ds a ON c.d1 = a.doc_id
  JOIN ds b ON c.d2 = b.doc_id AND a.shingle = b.shingle
  GROUP BY c.d1, c.d2
),
exact AS (
  SELECT c.d1, c.d2,
         coalesce(i.n_common, 0) * 1.0
           / (s1.n + s2.n - coalesce(i.n_common, 0)) AS exact_j
  FROM candidates c
  LEFT JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
  JOIN sizes s1 ON c.d1 = s1.doc_id
  JOIN sizes s2 ON c.d2 = s2.doc_id
),
joined AS (
  SELECT least(CAST(floor(abs(e.est_j - x.exact_j) * {_EST_ERR_BINS}) AS BIGINT),
               {_EST_ERR_BINS - 1}) AS err_band,
         -- floor(est_j*K + 0.5) recovers the INTEGER collision count
         -- from the ratio (est_j is within 1 ulp of m/K, so the
         -- round-half-up always lands on m) — the bin mean then
         -- divides an exact integer sum, like the Spark side's est_m.
         CAST(floor(e.est_j * {_K} + 0.5) AS BIGINT) AS est_m,
         CAST(floor(x.exact_j * 1000000 + 0.5) AS BIGINT) AS exact_e6
  FROM est e JOIN exact x ON e.d1 = x.d1 AND e.d2 = x.d2
)
SELECT err_band,
       count(*) AS n_pairs,
       floor((sum(est_m) / (count(*) * {_K})) * 10000 + 0.5) / 10000.0 AS mean_est,
       floor((sum(exact_e6) / (count(*) * 1000000)) * 10000 + 0.5) / 10000.0 AS mean_exact
FROM joined
GROUP BY err_band
ORDER BY err_band
"""


QUERIES["dedup_minhash_estimate_audit"] = dedup_minhash_estimate_audit
ORACLE["dedup_minhash_estimate_audit"] = ORACLE_DEDUP_MINHASH_ESTIMATE_AUDIT
