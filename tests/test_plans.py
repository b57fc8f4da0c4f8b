"""Physical-plan assertions — the scale properties, pinned.

Correctness says the operator computes the right answer; these tests
say it computes it with the right *plan*: filters pushed into the
parquet scan, columns pruned, small dims broadcast, large joins
sort-merge, global top-k as TakeOrderedAndProject, hot expressions in
whole-stage codegen. A regression here is a 100 TB regression even
when every value still matches the oracle.
"""

from __future__ import annotations

import pytest

from parquet_stream_writer_spark.operators import relational

from tests.conftest import SF_DIR


def plan(spark, df, mode: str = "formatted") -> str:
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_filter_and_projection_reach_the_scan(spark):
    df = relational.scan_filter_project(spark, SF_DIR)
    p = plan(spark, df)
    assert "PushedFilters: [" in p and "GreaterThan(l_quantity" in p, p
    # Projection pruning: the 11-column lineitem scan must read only
    # the referenced columns.
    read = next(line for line in p.splitlines() if "ReadSchema" in line)
    assert read.count(":") - 1 <= 6, read
    assert "WholeStageCodegen" in p or "codegen id" in p, p


def test_star_join_broadcasts_all_dims(spark):
    df = relational.join_broadcast_star(spark, SF_DIR)
    p = plan(spark, df)
    # lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region — every dim side
    # must be broadcast; no sort-merge anywhere in the star.
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "SortMergeJoin" not in p, p


def test_large_join_is_shuffle_side(spark):
    """At test SF orders fits under the broadcast threshold (and
    broadcasting it is the right call); disable auto-broadcast to see
    the plan this query gets at 100 TB, where neither side fits."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = relational.join_shuffle_large(spark, SF_DIR)
        p = plan(spark, df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p), p


def test_aggregate_is_partial_then_final(spark):
    df = relational.q1_pricing_summary(spark, SF_DIR)
    p = plan(spark, df)
    # Catalyst must plan map-side partial aggregation: two
    # HashAggregate nodes around one Exchange.
    assert p.count("HashAggregate") >= 2, p
    assert "Exchange" in p, p


def test_global_topk_avoids_total_sort(spark):
    df = relational.topk_global(spark, SF_DIR)
    p = plan(spark, df)
    assert "TakeOrderedAndProject" in p, p
    assert "Sort " not in p.replace("TakeOrderedAndProject", ""), p


def test_salted_join_honors_merge_hint(spark):
    from parquet_stream_writer_spark.operators import pipeline

    df = pipeline.join_salted(spark, SF_DIR)
    p = plan(spark, df)
    assert "SortMergeJoin" in p, p


def test_exists_subquery_becomes_semi_join(spark):
    df = relational.subquery_exists(spark, SF_DIR)
    p = plan(spark, df)
    assert "LeftSemi" in p, p


def test_shingle_build_has_no_window_exchange(spark):
    """The shingle stage must be map-side after its single keyed
    repartition — a Window/Sort in the plan means the slow
    posexplode+lead shape crept back in."""
    from parquet_stream_writer_spark.operators.dedup import _shingle_sets

    # Other suites may have cached the shingle relation; a cached plan
    # explains as InMemoryRelation(materialization plan) and double-
    # counts its exchanges. Clear so we pin the *logical* shape.
    spark.catalog.clearCache()
    df = _shingle_sets(spark, SF_DIR)
    p = plan(spark, df)
    assert "Window" not in p, p
    # one exchange (the formatted plan names each node twice): the
    # scan's keyed repartition, or else the doc_id grouping's own —
    # never both, and never one over the shingle stream
    assert p.count("Exchange") <= 2, p


def test_asof_join_is_union_window_not_join(spark):
    """The as-of join must plan as union + one keyed window — any
    Join node means the range-explosion formulation crept in."""
    from parquet_stream_writer_spark.operators import pipeline

    df = pipeline.join_asof(spark, SF_DIR)
    p = plan(spark, df)
    assert "Union" in p and "Window" in p, p
    assert "Join" not in p, p
    # one shuffle for the order dedup, one for the window key
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_gap_fill_grid_is_generated_not_joined_cross(spark):
    from parquet_stream_writer_spark.operators import streaming_batch

    df = streaming_batch.events_gap_fill(spark, SF_DIR)
    p = plan(spark, df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Generate" in p, p  # sequence+explode grid


def test_q5_six_way_join_broadcasts_every_dim(spark):
    """Q5's four dimension joins must all be broadcast — the fact
    chain shuffles at most once (lineitem ⋈ orders); a SortMergeJoin
    against customer/supplier/nation/region means a 100 TB fact scan
    reshuffles for a kilobyte dim."""
    df = relational.q5_local_supplier_volume(spark, SF_DIR)
    p = plan(spark, df)
    assert p.count("BroadcastHashJoin") >= 4, p
    # date + region filters pushed to their scans
    assert "GreaterThanOrEqual(o_orderdate" in p, p
    assert "EqualTo(r_name,ASIA)" in p, p


def test_scalar_subquery_is_decorrelated(spark):
    """The correlated min() subquery must be rewritten to an
    aggregate + join (no per-row subquery execution)."""
    df = relational.subquery_scalar_corr(spark, SF_DIR)
    p = plan(spark, df)
    assert "Subquery" not in p, p
    assert "HashAggregate" in p and "Join" in p, p


def test_repetition_features_are_shuffle_free(spark):
    """Gopher repetition features are array expressions over the scan
    — the only exchange allowed is the deliberate scan-spread
    repartition (no aggregation/window shuffle of the token stream)."""
    from parquet_stream_writer_spark.operators import text

    df = text.text_repetition_gopher(spark, SF_DIR)
    p = plan(spark, df)
    assert "Window" not in p and "HashAggregate" not in p, p
    # formatted mode prints each node twice (tree + detail): one
    # Exchange node == two mentions
    assert plan(spark, df, "simple").count("Exchange") <= 1, p


def test_contamination_benchmark_side_is_broadcast(spark):
    """The benchmark n-gram set joins broadcast; the corpus side must
    never sort-merge against it."""
    from parquet_stream_writer_spark.operators import text

    df = text.text_contamination_ngram(spark, SF_DIR)
    p = plan(spark, df)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_window_topk_uses_group_limit_pushdown(spark):
    """Spark 4's WindowGroupLimit must prune rows below rank k
    *before* the full window sort — without it, top-3-per-group
    materializes every row of a 100 TB fact in the window exchange."""
    df = relational.window_topk_per_group(spark, SF_DIR)
    p = plan(spark, df)
    assert "WindowGroupLimit" in p, p


def test_q19_disjunction_keeps_broadcast_and_pushes_bounds(spark):
    """The OR-of-ANDs predicate must not defeat the broadcast join,
    and the disjunction's common quantity/size bounds should still
    reach the scans as pushed filters (Catalyst CNF extraction)."""
    df = relational.q19_discounted_revenue(spark, SF_DIR)
    p = plan(spark, df)
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p, p
    assert "Or(And(" in p or "PushedFilters: [Or(" in p, p


def test_tokenize_ids_encodes_via_broadcast(spark):
    """The vocab must come back to the token stream as a broadcast
    join — re-shuffling the exploded corpus on `tok` to meet a
    30-row vocab would shuffle the entire token stream at scale."""
    from parquet_stream_writer_spark.operators import text

    df = text.text_tokenize_ids(spark, SF_DIR)
    p = plan(spark, df)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_minhash_miner_no_sort_aggregate_no_pre_band_exchange(spark):
    """The signatures and band keys are map-side over the per-document
    shingle sets: between the set relation and the band explode there
    is no Exchange and no aggregate. Nowhere in the miner (set build,
    bucket aggregate, candidate distinct, verification) may an
    aggregate be a SortAggregate — var-length buffers in a plain
    HashAggregate demote it to a full sort of its input."""
    from parquet_stream_writer_spark.operators.dedup import (
        _band_keys,
        _lsh_candidates,
        _shingle_sets,
        _verified_pairs_plan,
    )

    spark.catalog.clearCache()
    sets = _shingle_sets(spark, SF_DIR)
    p_sets, p_bands = plan(spark, sets, "simple"), plan(spark, _band_keys(sets), "simple")
    assert "Generate explode" in p_bands, p_bands
    assert p_bands.count("Exchange") == p_sets.count("Exchange"), p_bands
    assert p_bands.count("Aggregate") == p_sets.count("Aggregate"), p_bands
    for df in (_lsh_candidates(sets), _verified_pairs_plan(spark, SF_DIR)):
        p = plan(spark, df, "simple")
        assert "SortAggregate" not in p, p
        assert "HashAggregate" in p, p


def test_minhash_lsh_job_budget(spark):
    """Mining ``dedup_minhash_lsh`` from cleared memos (dedup and
    schema) and collecting it starts at most 8 Spark jobs: schema
    inference, the scan's keyed repartition, the set-relation cache,
    the bucket exchange, the candidate distinct, the two verification
    sides and the collect. The shingle-row miner it replaced ran 14."""
    from parquet_stream_writer_spark.operators import dedup
    from parquet_stream_writer_spark.sources import clear_schema_cache

    sc = spark.sparkContext
    dedup.clear_dedup_memo()
    clear_schema_cache()
    sc.setJobGroup("minhash-lsh-budget", "minhash-lsh-budget")
    try:
        rows = dedup.dedup_minhash_lsh(spark, SF_DIR).collect()
    finally:
        sc.setJobGroup("", "")
        dedup.clear_dedup_memo()
    jobs = sc.statusTracker().getJobIdsForGroup("minhash-lsh-budget")
    assert rows
    assert len(jobs) <= 8, len(jobs)


def test_q8_market_share_broadcasts_all_seven_dims(spark):
    """Q8 joins eight relations; all seven non-fact sides (orders is
    the co-fact) must broadcast — the only shuffle in the plan is the
    lineitem ⋈ orders fact join plus the final one-row agg."""
    df = relational.q8_market_share(spark, SF_DIR)
    p = plan(spark, df, "simple")
    assert p.count("BroadcastHashJoin") == 7, p
    assert "SortMergeJoin" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_q4_exists_is_hash_semi_join(spark):
    """The correlated non-equi EXISTS must decorrelate onto its equi
    key (orderkey) as a hash/merge LeftSemi — never a nested-loop
    join, which would be quadratic at scale."""
    df = relational.q4_order_priority(spark, SF_DIR)
    p = plan(spark, df, "simple")
    assert "LeftSemi" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_dup_span_grams_stay_hash_aggregated(spark):
    """Span fingerprints are fixed-width ints before the shuffle: the
    global gram-frequency agg must stay HashAggregate (a string key in
    the agg *buffer* would demote it to SortAggregate = full sort)."""
    from parquet_stream_writer_spark.operators import text

    df = text.text_dup_span_fraction(spark, SF_DIR)
    p = plan(spark, df, "simple")
    assert "SortAggregate" not in p, p


def test_retention_reuses_user_partitioning(spark):
    """The first-event window and the activity join both key on
    user_id; Catalyst must not insert a second user_id exchange for
    the join (ReusedExchange / single shuffle on user_id)."""
    from parquet_stream_writer_spark.operators import streaming_batch

    df = streaming_batch.events_retention_cohort(spark, SF_DIR)
    p = plan(spark, df, "simple")
    import re

    user_exchanges = len(re.findall(r"Exchange hashpartitioning\(user_id", p))
    assert user_exchanges <= 2, p
    assert "SortAggregate" not in p, p


def test_lateral_topn_decorrelates_to_window(spark):
    """JOIN LATERAL (… ORDER BY … LIMIT 2) must rewrite to a
    row_number window + join — never a per-row nested loop."""
    df = relational.subquery_lateral_topn(spark, SF_DIR)
    p = plan(spark, df, "simple")
    assert "Window" in p and "row_number" in p, p
    assert "CartesianProduct" not in p, p


def test_selective_fact_join_injects_bloom_filter(spark):
    """With broadcast off (the 100 TB fact-fact case), a selective
    filter on one join side must inject a runtime Bloom filter that
    prunes the probe-side scan before the shuffle. The size-threshold
    confs are lowered because the test files are tiny; at real scale
    the defaults (10 MB creation side / 10 GB application side)
    trigger on their own."""
    from pyspark.sql import functions as F

    from parquet_stream_writer_spark.sources import load_table

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_DIR, "lineitem")
        orders = load_table(spark, SF_DIR, "orders").where(
            F.col("o_totalprice") > 450000
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("q"))
        )
        p = plan(spark, j, "simple")
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "might_contain" in p and "bloom_filter_agg" in p, p


def test_partitioned_dataset_prunes_on_read(spark, tmp_path):
    """A lang-filtered read of a hive-partitioned dataset must prune
    at the *directory* level: the filter shows up as a
    PartitionFilter (not a data filter), and only the matching
    partition's files are scanned. At 100 TB this is the difference
    between listing one directory and scanning the corpus."""
    from parquet_stream_writer_spark.sink import ShardedDatasetWriter
    from parquet_stream_writer_spark.sources import load_table

    out = tmp_path / "docs_by_lang"
    docs = load_table(spark, SF_DIR, "documents")
    ShardedDatasetWriter(
        out, shard_size_bytes=1 << 20, partition_by=["lang"]
    ).write(docs)
    back = spark.read.parquet(str(out)).where("lang = 'en'").select("doc_id")
    p = plan(spark, back)
    part_line = next(line for line in p.splitlines() if "PartitionFilters" in line)
    assert "lang" in part_line, p
    # the lang predicate must NOT appear as a data-level pushed filter
    # (a partition-only scan often omits the PushedFilters line entirely)
    pushed = next((line for line in p.splitlines() if "PushedFilters" in line), "")
    assert "lang" not in pushed, p
    assert back.count() == docs.where("lang = 'en'").count()
    assert "docs_by_lang" in p


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Bucketing as shuffle elimination: two tables bucketed on the
    join key into the same bucket count join with ZERO exchanges —
    each bucket pair is co-located by construction. At 100 TB this is
    the standing optimization for repeated fact-fact joins: pay the
    bucketed write once, skip the join shuffle forever after."""
    from parquet_stream_writer_spark.sources import load_table

    warehouse = tmp_path / "wh"
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    try:
        (
            orders.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .option("path", str(warehouse / "orders_b"))
            .saveAsTable("orders_b")
        )
        (
            lineitem.write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("overwrite")
            .option("path", str(warehouse / "lineitem_b"))
            .saveAsTable("lineitem_b")
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = (
                spark.table("orders_b")
                .join(
                    spark.table("lineitem_b"),
                    spark.table("orders_b")["o_orderkey"]
                    == spark.table("lineitem_b")["l_orderkey"],
                )
                .groupBy("o_orderstatus")
                .agg({"l_quantity": "sum"})
            )
            p = plan(spark, joined, "formatted")
            assert "SortMergeJoin" in p and "Bucketed: true" in p, p
            # the fact-fact join reads co-located buckets: NO exchange on
            # either join key (the only exchange is the tiny group-by).
            assert "hashpartitioning(o_orderkey" not in p, p
            assert "hashpartitioning(l_orderkey" not in p, p
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_zorder_layout_bounds_file_stats_on_both_dims(spark, tmp_path):
    """Z-order (bit-interleaved) clustering as multi-dimensional data
    skipping: range-partitioning lineitem by the interleaved
    (l_partkey, l_suppkey) z-value bounds each output file's min/max
    on BOTH columns, so a filter on either dimension can skip most
    files from footer stats alone — single-column sorting buys this
    for one dimension only. At 100 TB this is the layout decision that
    turns point-ish queries from full scans into a handful of files."""
    import pyarrow.parquet as pq

    from parquet_stream_writer_spark.sources import load_table

    from pyspark.sql import functions as F

    from pyspark.sql import Window as W

    li = load_table(spark, SF_DIR, "lineitem").select("l_partkey", "l_suppkey")
    # Interleave RANK buckets, not raw values: the two key domains have
    # very different widths (parts ≫ suppliers), and raw-bit interleaving
    # would let the wider dimension dominate the z-value. 64 equal-count
    # buckets per dim = 6 bits each. (Production z-order derives the
    # bucket bounds from sampled quantiles instead of a global ntile.)
    bits = 6
    li = li.withColumn(
        "b1", F.ntile(1 << bits).over(W.orderBy("l_partkey")) - 1
    ).withColumn("b2", F.ntile(1 << bits).over(W.orderBy("l_suppkey")) - 1)
    z = " + ".join(
        f"(shiftleft(shiftright(b1, {i}) & 1, {2 * i})"
        f" + shiftleft(shiftright(b2, {i}) & 1, {2 * i + 1}))"
        for i in range(bits)
    )
    n_files = 16

    zdir, ndir = tmp_path / "zorder", tmp_path / "natural"
    (
        li.withColumn("z", F.expr(z))
        .repartitionByRange(n_files, "z")
        .drop("z", "b1", "b2")
        .write.parquet(str(zdir))
    )
    li.drop("b1", "b2").repartition(n_files).write.parquet(str(ndir))

    def overlapping(d, col, lo, hi):
        hit = total = 0
        for f in d.glob("part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            mn = min(
                md.row_group(g).column(names[col]).statistics.min
                for g in range(md.num_row_groups)
            )
            mx = max(
                md.row_group(g).column(names[col]).statistics.max
                for g in range(md.num_row_groups)
            )
            total += 1
            if mx >= lo and mn <= hi:
                hit += 1
        return hit, total

    for col in ("l_partkey", "l_suppkey"):
        lo = 1
        hi = lo + 10  # a narrow band on either dimension
        z_hit, z_total = overlapping(zdir, col, lo, hi)
        n_hit, n_total = overlapping(ndir, col, lo, hi)
        # natural (hash-shuffled) files all span the full key range;
        # z-ordered files bound both dims, so most are skippable.
        assert n_hit == n_total, (col, n_hit, n_total)
        assert z_hit <= z_total // 2, (col, z_hit, z_total)


# ---------------------------------------------------------------------------
# Round-3 scale-fix pins
# ---------------------------------------------------------------------------

def test_q2_part_filter_pushed_below_catalog_agg(spark):
    """The p_size predicate must reach the part scan AND gate lineitem
    through a semi-join BEFORE the (part, supplier) catalog aggregate
    — un-pinning this re-aggregates the full catalog only to throw
    4/5 of it away."""
    df = relational.q2_min_cost_supplier(spark, SF_DIR)
    p = plan(spark, df)
    assert "LeftSemi" in p, p
    assert "GreaterThanOrEqual(p_size,40)" in p, p


def test_tokenize_vocab_topk_is_take_ordered(spark):
    """Vocab selection must be a limit (TakeOrderedAndProject), not a
    row_number window over the full corpus-vocabulary-sized count
    table (single-partition sort of every distinct token)."""
    from parquet_stream_writer_spark.operators import text
    from parquet_stream_writer_spark.plans import summarize

    s = summarize(text.text_tokenize_ids(spark, SF_DIR))
    assert s.nodes.get("TakeOrderedAndProject", 0) >= 1, s.nodes
    # the only remaining window ranks the 30 limit survivors
    assert s.nodes.get("Window", 0) == 1, s.nodes


def test_rfm_single_window_node(spark):
    """The three RFM ntiles must share ONE metric-partitioned Window
    node — three separate unpartitioned windows = three sequential
    single-partition sorts of the whole customer relation."""
    from parquet_stream_writer_spark.operators import streaming_batch
    from parquet_stream_writer_spark.plans import summarize

    s = summarize(streaming_batch.events_rfm_segmentation(spark, SF_DIR))
    assert s.nodes.get("Window", 0) == 1, s.nodes


def test_dedup_verify_sizes_join_not_hinted_broadcast(spark):
    """`sizes` is one row per document (corpus-sized at 100 TB): the
    verify joins must carry NO broadcast hint — the planner may still
    CHOOSE broadcast at small SF from size estimates (that's AQE
    doing its job), but a hint would force it at any scale."""
    from parquet_stream_writer_spark.operators import dedup

    # dedup_minhash_lsh's public return is the memoized checkpoint
    # (a LogicalRDD scan), so pin its *builder* plan instead.
    for fn in (dedup.dedup_ngram_jaccard, dedup._verified_pairs_plan,
               dedup.dedup_containment):
        df = fn(spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed, fn.__name__


def test_pack_sequences_bucketed_prefix_sum_shape(spark):
    """Sequence packing must keep the two-pass bucketed prefix sum:
    exactly two Windows (bucket offsets over the <=256-row per-bucket
    aggregate + the per-bucket running sum), with the running sum
    partitioned on the bucket key.  A plan with one unpartitioned
    Window over the corpus would be faster at local SF (the shape r2
    shipped, ~0.2s vs ~0.44s) — that cost is ACCEPTED: the bucketed
    shape is the one that survives 100 TB, so this pin stops the
    regression churn on these keys."""
    from parquet_stream_writer_spark.operators import text
    from parquet_stream_writer_spark.plans import summarize

    df = text.text_pack_sequences(spark, SF_DIR)
    s = summarize(df)
    assert s.nodes.get("Window", 0) == 2, s.nodes
    assert "hashpartitioning(b" in plan(spark, df)


def test_curation_e2e_single_keyed_window(spark):
    """The fused curation pipeline must stay one corpus scan with ONE
    dedup-key-partitioned Window and no single-partition exchange —
    the inherited ~0.3s local cost of the funnel's shared feature
    builders is accepted; the shape is the contract."""
    from parquet_stream_writer_spark.operators import pipeline
    from parquet_stream_writer_spark.plans import summarize

    df = pipeline.pipeline_curation_e2e(spark, SF_DIR)
    s = summarize(df)
    p = plan(spark, df)
    assert s.nodes.get("Window", 0) == 1, s.nodes
    assert "SinglePartition" not in p, p
    assert p.count("documents.parquet") == 1


def test_q21_single_fact_scan_no_expand(spark):
    """Q21's two-level aggregate must scan lineitem ONCE (the old
    decorrelation joined the fact table back to its own aggregate —
    two scans) and carry no Expand node (multiple countDistinct
    aggregates would triple the shuffled row count)."""
    df = relational.q21_waiting_supplier(spark, SF_DIR)
    p = plan(spark, df)
    assert "Expand" not in p, p
    assert p.count("lineitem.parquet") == 1, p.count("lineitem.parquet")


def test_basket_affinity_support_join_not_hinted_broadcast(spark):
    """The per-part support relation is one row per part — catalog-
    sized at 100 TB — so the lift joins must carry NO broadcast hint.
    The planner may still CHOOSE broadcast at small SF from size
    estimates; the pin only bans forcing it at any scale. The single
    allowed hint is the 1-row n_orders aggregate."""
    df = relational.orders_basket_affinity(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed


def test_boundary_overlap_join_not_hinted_broadcast(spark):
    """Both sides of the boundary self-join are one row per document
    (corpus-sized at 100 TB): no broadcast hint anywhere — the planner
    may still elect broadcast at small SF from size estimates."""
    from parquet_stream_writer_spark.operators import dedup

    df = dedup.dedup_boundary_overlap(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed


def test_char_entropy_shuffles_distinct_pairs_not_char_stream(spark):
    """The entropy fold must be two hash aggregations with map-side
    partials: the (doc, char) count aggregates BEFORE its exchange
    (shuffle rows = distinct pairs, not the exploded char stream), and
    no SortAggregate anywhere (string group keys stay hash-based)."""
    from parquet_stream_writer_spark.operators import text
    from parquet_stream_writer_spark.plans import summarize

    df = text.text_char_entropy(spark, SF_DIR)
    p = plan(spark, df)
    s = summarize(df)
    assert s.nodes.get("SortAggregate", 0) == 0, s.nodes
    # partial+final for both folds; with the scan pre-partitioned on
    # doc_id all four colocate after ONE exchange (zero post-explode
    # shuffle); without the pre-partition the pair agg still partials
    # map-side. Either way: never more than two exchanges, and the
    # exploded char stream itself never crosses one (Generate sits
    # directly under the aggregation, above any Exchange).
    assert s.nodes.get("HashAggregate", 0) >= 4, s.nodes
    assert p.count("- Exchange") <= 2, p  # tree nodes, not detail lines
    # the (doc, char) count partial-aggregates map-side (2 group keys)
    assert "partial_count" in p, p


def test_cc_edges_keep_hash_partitioning(spark):
    """The connected-components edge set must stay hash-partitioned on
    the propagation join key — a single-partition collapse
    (repartition(1)) turns every convergence round into one task at
    scale."""
    from parquet_stream_writer_spark.operators.dedup import _symmetric_edges

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "d1 int, d2 int"
    )
    p = plan(spark, _symmetric_edges(pairs))
    assert "hashpartitioning(d2" in p, p
    assert "SinglePartition" not in p, p


def test_kll_exact_audit_avoids_hash_map_percentile(spark):
    """The exact p50/p90 audit must use the distributed range-bucket
    percentile — the builtin `percentile` aggregate materializes a
    value→count map of the whole column in one task."""
    df = relational.agg_kll_quantile_mergeable(spark, SF_DIR)
    p = plan(spark, df)
    assert "percentile(" not in p, p


def test_scan_parallel_skips_repartition_when_splits_suffice(spark, tmp_path):
    """scan_parallel's repartition exists for single-split local test
    files; when the scan already yields >= defaultParallelism input
    splits (the 100 TB case) it must NOT add an exchange."""
    from parquet_stream_writer_spark.sources import scan_parallel
    from parquet_stream_writer_spark.plans import summarize

    spark.range(0, 100_000).withColumnRenamed("id", "doc_id").repartition(
        8
    ).write.parquet(str(tmp_path / "documents.parquet"))
    prev_m = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_o = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    spark.conf.set("spark.sql.files.openCostInBytes", "16384")
    try:
        df = scan_parallel(spark, str(tmp_path), "documents")
        n = spark.sparkContext.defaultParallelism
        assert df.rdd.getNumPartitions() >= n
        assert summarize(df).shuffle_exchanges == 0, "unneeded exchange"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_m)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_o)
    # and the single-split driver corpus still fans out (round-robin
    # exchange, which shuffle_exchanges deliberately doesn't count)
    fanned = scan_parallel(spark, SF_DIR, "documents")
    assert (
        fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


def test_q17_single_fact_scan_broadcast_prune(spark):
    """Q17's decorrelation-by-construction must scan lineitem ONCE
    (the naive correlated form re-scans the fact table for the per-part
    average) and prune it through a broadcast of the brand-filtered
    part dimension before the window shuffle."""
    df = relational.q17_small_quantity_revenue(spark, SF_DIR)
    p = plan(spark, df)
    assert p.count("lineitem.parquet") == 1, p.count("lineitem.parquet")
    assert "BroadcastHashJoin" in p, p
    assert "PushedFilters" in p and "p_brand" in p, p


def test_semdedup_join_is_equi_and_unhinted(spark):
    """SemDeDup's within-cluster pairwise check must plan as a
    bucket-equi join (never a nested-loop/cartesian all-pairs) and
    carry no broadcast hint — both sides are the full corpus."""
    from parquet_stream_writer_spark.operators import similarity

    df = similarity.dedup_semdedup_prune(spark, SF_DIR)
    p = plan(spark, df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed


def test_ivf_pq_broadcasts_only_the_query_set(spark):
    """IVF-PQ's candidate join must broadcast exactly one side — the
    nprobe query set — never the encoded corpus; encode/assign stay
    map-side projections (no extra exchange before the join)."""
    from parquet_stream_writer_spark.operators import similarity

    df = similarity.similarity_ivf_pq(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed


def test_value_histogram_one_scan_window_over_aggregate(spark):
    """The histogram is one events scan + one (type, bin) hash
    aggregate; the share window runs over the tiny aggregate (types ×
    bins rows), so exactly one Window node and one scan."""
    from parquet_stream_writer_spark.operators import streaming_batch
    from parquet_stream_writer_spark.plans import summarize

    df = streaming_batch.events_value_histogram(spark, SF_DIR)
    p = plan(spark, df)
    s = summarize(df)
    assert p.count("events.parquet") == 1, p.count("events.parquet")
    assert s.nodes.get("Window", 0) == 1, s.nodes


def test_zipf_fit_one_scan_no_sort_aggregate(spark):
    """Zipf fit: one documents scan; the (source, tok) count hash-
    aggregates with map-side partials (no SortAggregate on the string
    keys); the top-N window ranks the vocab-sized aggregate only."""
    from parquet_stream_writer_spark.operators import text
    from parquet_stream_writer_spark.plans import summarize

    df = text.text_zipf_fit(spark, SF_DIR)
    p = plan(spark, df)
    s = summarize(df)
    assert p.count("documents.parquet") == 1, p.count("documents.parquet")
    assert s.nodes.get("SortAggregate", 0) == 0, s.nodes
    assert s.nodes.get("Window", 0) == 1, s.nodes


def test_dataset_card_single_scan_grouping_sets(spark):
    """The three granularities (source / lang / corpus) must come from
    ONE documents scan expanded by GROUPING SETS — not three separate
    scan+aggregate branches — and stay hash-aggregated."""
    from parquet_stream_writer_spark.operators import pipeline
    from parquet_stream_writer_spark.plans import summarize

    df = pipeline.pipeline_dataset_card(spark, SF_DIR)
    p = plan(spark, df)
    s = summarize(df)
    assert p.count("documents.parquet") == 1, p.count("documents.parquet")
    assert "Expand" in p, p
    assert s.nodes.get("SortAggregate", 0) == 0, s.nodes


def test_minhash_estimate_audit_joins_are_equi_unhinted(spark):
    """The estimate audit joins candidate pairs to signatures and to
    the inverted index — all key-equi, no broadcast hints (signatures
    are one row per DOCUMENT: corpus-sized at 100 TB)."""
    from parquet_stream_writer_spark.operators import dedup

    df = dedup.dedup_minhash_estimate_audit(spark, SF_DIR)
    p = plan(spark, df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed


def test_truncation_audit_one_scan_two_rankings(spark):
    """Full-dim and truncated-dim similarities must come from ONE
    scored relation (one corpus scan + one 5-row query broadcast), the
    two rankings as windows over it — not two scan branches."""
    from parquet_stream_writer_spark.operators import similarity

    df = similarity.similarity_truncation_audit(spark, SF_DIR)
    p = plan(spark, df)
    assert p.count("embeddings.parquet") == 2, p.count("embeddings.parquet")
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed


def test_top_paths_single_window_take_ordered(spark):
    """The trigram build is ONE user-keyed window (both lags share the
    frame); the global top-10 must plan as TakeOrderedAndProject, not
    a full sort."""
    from parquet_stream_writer_spark.operators import streaming_batch
    from parquet_stream_writer_spark.plans import summarize

    df = streaming_batch.events_top_paths(spark, SF_DIR)
    p = plan(spark, df)
    s = summarize(df)
    assert s.nodes.get("Window", 0) == 1, s.nodes
    assert "TakeOrderedAndProject" in p, p


def test_bloom_audit_probe_join_is_equi(spark):
    """The Bloom probe must be a position-equi join against the ≤ m-row
    bit relation plus the exact-membership key join — never a nested
    loop over the probe population; the only broadcast hints are the
    two 1-row stat aggregates."""
    df = relational.agg_bloom_filter_audit(spark, SF_DIR)
    p = plan(spark, df)
    assert "CartesianProduct" not in p, p
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 2, analyzed


def test_frame_dedup_join_is_hash_equi(spark):
    """Frame-checksum candidate generation must be a hash-equi
    inverted-index self-join (bucket-local like the shingle joins) —
    no cartesian, no broadcast hints (both sides are corpus-sized)."""
    from parquet_stream_writer_spark.operators import multimodal

    df = multimodal.multimodal_frame_dedup(spark, SF_DIR)
    p = plan(spark, df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed


def test_shipping_latency_join_unhinted_single_agg(spark):
    """The latency metric is ONE orderkey-equi join (strategy left to
    AQE — both sides are fact tables at scale) feeding one hash
    aggregate; no broadcast hint anywhere."""
    df = relational.events_shipping_latency(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    p = plan(spark, df)
    assert p.count("lineitem.parquet") == 1, p
    assert p.count("orders.parquet") == 1, p


def test_bpe_train_rounds_stay_vocab_sized(spark):
    """BPE training must touch the corpus exactly once (the word-count
    aggregate, which is persisted); every merge round's pair count
    must read the cached vocabulary relation — no re-scan of
    documents, no nested-loop join, and a partial+final hash
    aggregate for the pair weights."""
    from pyspark.sql import functions as F

    from parquet_stream_writer_spark.operators.text import text_bpe_train
    from tests.conftest import SF_DIR

    # Reproduce the round-1 internal shape: the persisted vocab
    # relation feeding the pair-count aggregate.
    from parquet_stream_writer_spark.sources import scan_parallel

    docs = scan_parallel(spark, SF_DIR, "documents", "doc_id")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.concat(F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("s"),
            "freq",
        )
        .persist()
    )
    try:
        words.count()
        pc = (
            words.select("freq", F.split(F.trim(F.col("s")), " ").alias("syms"))
            .where(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(syms[i-1] AS pl, syms[i] AS pr))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.pl").alias("l"), F.col("p.pr").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
        )
        p = plan(spark, pc)
        assert "InMemoryTableScan" in p, p          # vocab served from cache
        assert "FileScan" not in p, p               # no corpus re-scan
        assert p.count("HashAggregate") >= 2, p     # partial + final
        assert "BroadcastNestedLoopJoin" not in p, p
        assert "CartesianProduct" not in p, p
    finally:
        words.unpersist()

    # End-to-end: the learned table is 8 tiny parameter rows.
    out = text_bpe_train(spark, SF_DIR)
    assert out.count() == 8


def test_ivf_probe_broadcast_is_conditional(spark, monkeypatch):
    """The IVF/IVF-PQ probe joins hint a broadcast only while the
    exploded query set is under _BROADCAST_QUERY_CAP; above the cap
    (the million-query regime) the SAME code path plans an unhinted
    equi join — and both regimes produce identical rows."""
    from parquet_stream_writer_spark.operators import similarity

    small = similarity.similarity_ivf_pq(spark, SF_DIR)
    assert small._jdf.queryExecution().analyzed().toString().count("ResolvedHint") == 1
    assert "BroadcastHashJoin" in plan(spark, small)

    monkeypatch.setattr(similarity, "_BROADCAST_QUERY_CAP", 0)
    large = similarity.similarity_ivf_pq(spark, SF_DIR)
    analyzed = large._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 0, analyzed
    p = plan(spark, large)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert sorted(map(tuple, large.collect())) == sorted(map(tuple, small.collect()))

    large_ivf = similarity.similarity_ivf(spark, SF_DIR)
    assert (
        large_ivf._jdf.queryExecution().analyzed().toString().count("ResolvedHint") == 0
    )
    monkeypatch.undo()
    assert sorted(map(tuple, similarity.similarity_ivf(spark, SF_DIR).collect())) == sorted(
        map(tuple, large_ivf.collect())
    )


def test_basket_affinity_reliable_flag_paths_identical(spark):
    """The durable (persist DISK_ONLY) and fast (localCheckpoint)
    reuse strategies must produce identical affinity rows, and the
    durable path must actually register a DISK_ONLY persist."""
    from parquet_stream_writer_spark.operators.relational import (
        orders_basket_affinity,
    )

    fast = orders_basket_affinity(spark, SF_DIR, reliable=False)
    durable = orders_basket_affinity(spark, SF_DIR, reliable=True)
    try:
        p = plan(spark, durable)
        assert "InMemoryTableScan" in p, p  # persisted relation in plan
        assert sorted(map(tuple, fast.collect())) == sorted(
            map(tuple, durable.collect())
        )
    finally:
        spark.catalog.clearCache()


def test_q11_single_fact_aggregate_reused(spark):
    """Q11's HAVING threshold consumes the same per-part aggregate as
    the output rows: the static plan duplicates the subtree (DataFrame
    lineage has no CTE sharing), but the EXECUTED plan must show AQE
    exchange reuse — the partkey shuffle (and everything below it,
    including the fact scan) runs once physically.  No nested loop."""
    df = relational.q11_important_stock(spark, SF_DIR)
    df.collect()  # AQE finalizes reuse at execution
    p = plan(spark, df)
    assert "ReusedExchange" in p, p
    # the only BNLJ allowed is the broadcast 1-ROW threshold scalar
    # (O(n*1) cross, BuildRight); any other form is a real nested loop.
    tree_bnlj = [
        l for l in p.splitlines() if "BroadcastNestedLoopJoin" in l and "+-" in l
    ]
    assert tree_bnlj and all("Cross BuildRight" in l for l in tree_bnlj), p
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_q16_blocklist_is_broadcast_anti(spark):
    """Q16's supplier blocklist must plan as a broadcast LEFT ANTI
    join; the part attributes broadcast; one distinct shuffle + one
    group aggregate are the only exchanges on the fact lineage."""
    df = relational.q16_parts_supplier_relationship(spark, SF_DIR)
    p = plan(spark, df)
    assert "LeftAnti" in p or "left_anti" in p.lower(), p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") >= 1, p


def test_bucketed_join_has_no_exchange_below_the_join(spark):
    """The bucketed fact-fact join must read both sides' co-located
    buckets directly: scans report Bucketed: true and the sort-merge
    join takes NO Exchange on either input — the only shuffles left
    are the small post-join aggregate and the final sort.  (The same
    join over the raw parquet plans 2 extra fact-sized exchanges.)"""
    from parquet_stream_writer_spark.operators.pipeline import (
        join_bucketed_colocated,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = join_bucketed_colocated(spark, SF_DIR)
        p = plan(spark, df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    import re

    assert "SortMergeJoin" in p, p
    assert p.count("Bucketed: true") == 2, p
    # agg + final orderBy only (operator-detail entries, counted once)
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2, p


def test_pagerank_bucketed_carrier_never_exchanges_the_adjacency(spark):
    """The high-iteration PageRank lane (carrier='bucketed') must read
    the one-time bucketed adjacency table in EVERY iteration's
    adjacency⋈share join with zero exchange of the packed arrays:
    the plan shows one 'Bucketed: true' scan per iteration and NO
    Exchange whose input carries the ``dsts`` arrays.  The
    checkpointed carrier (the few-iteration default) re-exchanges the
    arrays once per iteration — the measured trade-off the threshold
    _PR_BUCKETED_ITERS encodes."""
    import re

    from parquet_stream_writer_spark.operators.pipeline import (
        graph_pagerank_bipartite,
    )

    iters = 4
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pb = plan(spark, graph_pagerank_bipartite(spark, SF_DIR, iters=iters))
        pc = plan(
            spark,
            graph_pagerank_bipartite(spark, SF_DIR, iters=iters, carrier="checkpoint"),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def dsts_exchanges(p: str) -> int:
        exch = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", p)
        return sum("dsts" in e for e in exch)

    # auto at iters >= _PR_BUCKETED_ITERS takes the bucketed lane
    assert pb.count("Bucketed: true") == iters, pb
    assert dsts_exchanges(pb) == 0, pb
    # the checkpoint carrier pays one array exchange per iteration
    assert dsts_exchanges(pc) == iters, pc


def test_label_propagation_bucketed_carrier_never_exchanges_edges(spark):
    """Label propagation's bucketed carrier (auto at >= 4 rounds) must
    read the one-time bucketed edge table in every round's edge⋈label
    join with zero exchange of the edge rows — same pin as the
    PageRank carrier, on the dst-keyed join."""
    import re

    from parquet_stream_writer_spark.operators.staged import (
        graph_label_propagation,
    )

    rounds = 4
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pb = plan(spark, graph_label_propagation(spark, SF_DIR, rounds=rounds))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # The final unioned trajectory re-derives round k's labels for
    # every later snapshot, so the static plan holds 1+2+...+rounds
    # bucketed scans — the salient pins are (a) bucketed scans exist
    # and (b) NO Exchange input ever carries the edge (src, dst) rows.
    assert pb.count("Bucketed: true") >= rounds, pb
    exch = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", pb)
    edge_exch = [e for e in exch if "src" in e and "dst" in e]
    assert not edge_exch, edge_exch


def test_snapshot_diff_hashes_before_the_shuffle(spark):
    """The CDC diff must (a) plan the PK join as a shuffle join (no
    broadcast — neither snapshot is small at scale) and (b) compute
    the row fingerprint map-side, so the exchange moves hashes, not
    rows."""
    from parquet_stream_writer_spark.operators import pipeline

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = pipeline.pipeline_snapshot_diff(spark, SF_DIR)
        p = plan(spark, df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p), p
    assert "FullOuter" in p, p
    # md5 is evaluated in a Project BELOW the join (map side), never
    # re-derived after the exchange.
    assert "md5" in p, p


def test_kfold_is_one_scan_one_agg(spark):
    from parquet_stream_writer_spark.operators import pipeline

    df = pipeline.sample_kfold_assign(spark, SF_DIR)
    p = plan(spark, df)
    # formatted mode lists every node twice (tree + detail section).
    assert p.count("Scan parquet") == 2, p
    assert p.count("HashAggregate") >= 4, p  # partial + final


def test_triangle_count_joins_are_hash_equi(spark):
    """No cartesian/nested-loop anywhere in the triangle pipeline —
    wedge enumeration and closing are equi joins on int keys."""
    from parquet_stream_writer_spark.operators import pipeline

    df = pipeline.graph_triangle_count(spark, SF_DIR)
    p = plan(spark, df)
    assert "CartesianProduct" not in p, p
    nlj = [l for l in p.splitlines() if "BroadcastNestedLoopJoin" in l]
    # Only the 1-row stat combiners may nest-loop (cross of single rows);
    # formatted mode lists each twice (tree + detail).
    assert len(nlj) <= 6, p


def test_corr_matrix_is_single_pass(spark):
    df = relational.agg_corr_matrix(spark, SF_DIR)
    p = plan(spark, df)
    # formatted mode lists every node twice (tree + detail section).
    assert p.count("Scan parquet") == 2, p
    # All six co-moment aggregates fold into one partial+final pair.
    assert p.count("HashAggregate") == 4, p


def test_ntile_cume_single_window_node(spark):
    """rank/ntile/cume_dist share one ordering — Catalyst must plan
    ONE Window node (one sort), not one per function."""
    df = relational.window_ntile_cume(spark, SF_DIR)
    p = plan(spark, df)
    assert p.count("Window") <= 2, p  # main window + none duplicated per-fn


def test_rank_fusion_no_self_join_of_scores(spark):
    """Fusion happens on the single scored relation: exactly one
    corpus-side embeddings scan feeds both rankings."""
    from parquet_stream_writer_spark.operators import similarity

    df = similarity.similarity_rank_fusion(spark, SF_DIR)
    p = plan(spark, df)
    # corpus + broadcast query slice, each listed twice by formatted mode.
    assert p.count("Scan parquet") == 4, p
    # The qid<>vec_id condition is non-equi, so the bounded query set
    # nest-loops as the BROADCAST side (the deliberate exact-scan shape
    # shared with similarity_cosine_topk); corpus side never broadcasts.
    assert "BroadcastNestedLoopJoin" in p, p


def test_norm_audit_stays_jvm_side(spark):
    from parquet_stream_writer_spark.operators import similarity

    df = similarity.embedding_norm_audit(spark, SF_DIR)
    p = plan(spark, df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_churn_horizon_is_broadcast_not_rescan(spark):
    from parquet_stream_writer_spark.operators import streaming_batch

    df = streaming_batch.events_inactivity_churn(spark, SF_DIR)
    p = plan(spark, df)
    # events scanned once (the checkpointed last-seen relation feeds
    # both horizon and per-user) + customer dim scan, each listed twice
    # by formatted mode; horizon (1-row) and customer both broadcast.
    assert p.count("Scan parquet") <= 4, p
    assert p.count("BroadcastExchange") >= 2, p


def test_pmi_ranking_is_takeordered(spark):
    from parquet_stream_writer_spark.operators import text

    df = text.text_pmi_collocations(spark, SF_DIR)
    p = plan(spark, df)
    assert "TakeOrderedAndProject" in p, p
    # The two corpus totals broadcast; the count relations join hash-side.
    assert p.count("BroadcastExchange") >= 2, p


def test_seasonality_is_one_scan_fixed_width_agg(spark):
    from parquet_stream_writer_spark.operators import streaming_batch

    df = streaming_batch.events_seasonality_profile(spark, SF_DIR)
    p = plan(spark, df)
    # formatted mode lists every node twice (tree + detail section).
    assert p.count("Scan parquet") == 2, p
    assert p.count("HashAggregate") >= 4, p  # partial + final (+ Expand distinct)


def test_gini_window_is_partitioned(spark):
    """The rank window must be keyed by segment — a global (empty
    partition-by) window would single-partition the user relation."""
    from parquet_stream_writer_spark.operators import streaming_batch

    df = streaming_batch.events_user_gini(spark, SF_DIR)
    p = plan(spark, df)
    assert "c_mktsegment" in "".join(
        l for l in p.splitlines() if "Arguments" in l and "row_number" in l
    ), p


def test_mutual_knn_no_n2_shuffle(spark):
    """kNN edges come from the blocked GEMM kernel; the only joins are
    the reversed-edge equi join — no cartesian, no nested loop."""
    from parquet_stream_writer_spark.operators import similarity

    df = similarity.similarity_mutual_knn_audit(spark, SF_DIR)
    p = plan(spark, df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # The GEMM kernel sits behind the localCheckpoint boundary (explain
    # truncates lineage there); what must be visible is the reversed-edge
    # EQUI join — LeftOuter, hash-side.
    assert "LeftOuter" in p, p


def test_late_data_window_is_user_keyed(spark):
    from parquet_stream_writer_spark.operators import streaming_batch

    df = streaming_batch.events_late_data_audit(spark, SF_DIR)
    p = plan(spark, df)
    assert "user_id" in "".join(
        l for l in p.splitlines() if "Arguments" in l and "unboundedpreceding" in l.lower()
    ), p
    # formatted mode lists the single events scan twice (tree + detail).
    assert p.count("Scan parquet") == 2, p


def test_coreset_picks_are_takeordered_broadcasts(spark):
    """Each greedy round must reduce via TakeOrdered (1-row pick) and
    re-broadcast only that row — no corpus-sized broadcast, no
    cartesian against the chosen SET."""
    from parquet_stream_writer_spark.operators import similarity

    df = similarity.sample_coreset_kcenter(spark, SF_DIR)
    p = plan(spark, df)
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p, p


def test_ols_is_one_pass_comoment_agg(spark):
    df = relational.agg_regression_ols(spark, SF_DIR)
    p = plan(spark, df)
    # formatted mode lists nodes twice: one scan, one partial+final pair.
    assert p.count("Scan parquet") == 2, p
    assert p.count("HashAggregate") == 4, p


def test_first_last_nth_single_window(spark):
    df = relational.window_first_last_nth(spark, SF_DIR)
    p = plan(spark, df)
    # All four positional functions share one frame → ONE Window node
    # (listed twice by formatted mode).
    assert p.count("Window") == 2, p


def test_zorder_audit_is_map_side_no_sort(spark):
    """The layout audit must not sort anything: rank normalization and
    bit interleave are projections, file assignment is range
    arithmetic — the only exchanges are the 1-row stats broadcast and
    the small (layout, file) aggregate."""
    from parquet_stream_writer_spark.operators import pipeline

    df = pipeline.pipeline_zorder_layout(spark, SF_DIR)
    p = plan(spark, df)
    # No global Sort node anywhere except the final 2-row orderBy.
    assert p.count("Sort ") <= 2, p
    assert "Window" not in p, p


def test_skyline_no_dominance_self_join(spark):
    """The 2-D skyline must plan as aggregation + prefix-min +
    ONE broadcast equi join back to the fact — never the quadratic
    dominance self-join the oracle runs."""
    df = relational.agg_skyline_pareto(spark, SF_DIR)
    p = plan(spark, df)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_hhi_is_two_hash_aggregates(spark):
    """HHI is one fact aggregate + one nation aggregate; the supplier
    and nation dims broadcast, and no window appears anywhere."""
    df = relational.agg_hhi_concentration(spark, SF_DIR)
    p = plan(spark, df)
    assert "Window" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p


def _window_spec_lines(p: str) -> list[str]:
    """The formatted-plan Arguments lines carrying window specs."""
    return [l for l in p.splitlines() if "windowspecdefinition" in l]


def test_cohort_ltv_window_is_cohort_partitioned(spark):
    """The cumulative-revenue window must run partitioned by cohort
    over the (cohort, month) cell relation — a global window over
    orders would single-partition the fact table."""
    df = relational.orders_cohort_ltv(spark, SF_DIR)
    p = plan(spark, df)
    wlines = _window_spec_lines(p)
    assert wlines and all("cohort_month" in l for l in wlines), p


def test_km_survival_windows_priority_partitioned(spark):
    """Every survival window (at-risk prefix, hits-zero cummax, log
    cumsum) runs partitioned by priority over day cells."""
    df = relational.orders_survival_kaplan_meier(spark, SF_DIR)
    p = plan(spark, df)
    wlines = _window_spec_lines(p)
    assert wlines and all("o_orderpriority" in l for l in wlines), p


def test_concurrency_peak_no_global_sweep_window(spark):
    """The boundary sweep must never run a corpus-sized global running
    sum: every window is either partitioned by the hour bucket (the
    in-hour running sum) or consumes the hour-NET relation (the
    bucket-count-sized carry-in prefix, summing net#, not raw
    boundaries)."""
    from parquet_stream_writer_spark.operators import streaming_batch

    df = streaming_batch.events_concurrency_peak(spark, SF_DIR)
    p = plan(spark, df)
    wlines = _window_spec_lines(p)
    assert len(wlines) >= 2, p
    for l in wlines:
        assert ("], [hr#" in l) or ("sum(net#" in l), l


def test_ewma_frame_is_bounded(spark):
    """The EWMA window must use the bounded ROWS frame partitioned by
    user — an unbounded frame would collect each user's whole history
    per row."""
    from parquet_stream_writer_spark.operators import streaming_batch

    df = streaming_batch.events_ewma_smooth(spark, SF_DIR)
    p = plan(spark, df)
    wlines = _window_spec_lines(p)
    assert wlines and all("user_id" in l for l in wlines), p
    assert any("RowFrame, -15, currentrow" in l for l in wlines), p


def test_idf_rarity_ranking_is_takeordered(spark):
    """Top-k rarity must plan as TakeOrderedAndProject, not a global
    sort of the scored corpus."""
    from parquet_stream_writer_spark.operators import text

    df = text.text_idf_rarity(spark, SF_DIR)
    p = plan(spark, df)
    assert "TakeOrderedAndProject" in p, p


def test_ks_drift_prefix_windows_are_bucket_partitioned(spark):
    """The ECDF running sums must run inside value-range buckets
    (partitioned by b); the only unpartitioned window is the 256-row
    bucket-offset prefix, which consumes the per-bucket SUM relation
    (sa/sb), not raw values."""
    from parquet_stream_writer_spark.operators import pipeline

    df = pipeline.sample_ks_drift(spark, SF_DIR)
    p = plan(spark, df)
    wlines = _window_spec_lines(p)
    assert len(wlines) >= 2, p
    for l in wlines:
        assert ("], [b#" in l) or ("sum(sa#" in l and "sum(sb#" in l), l


def test_pagerank_edges_shuffle_only_in_packed_form(spark):
    """The per-iteration heavy exchanges may move ONLY the packed
    (src, dsts[]) adjacency rows (~8 B/edge) or node-sized state —
    never raw (src, dst) / (src, dst, deg) EDGE rows (the
    pre-adjacency shape re-shuffled those, 3x the bytes).  The single
    raw-pair exchange allowed is the build-time repartition feeding
    the one-shot grouping."""
    import re

    from parquet_stream_writer_spark.operators import pipeline

    df = pipeline.graph_pagerank_bipartite(spark, SF_DIR)
    p = plan(spark, df)
    blocks = re.split(r"\n(?=\(\d+\) )", p)
    raw_pair_exchanges = []
    for b in blocks:
        hdr = b.split("\n")[0]
        if not (b.startswith("(") and "Exchange" in hdr) or "Broadcast" in hdr:
            continue
        inp = next((l for l in b.split("\n") if l.startswith("Input")), "")
        if "dst#" in inp and "dsts#" not in inp:
            raw_pair_exchanges.append(b)
    assert len(raw_pair_exchanges) <= 1, raw_pair_exchanges
    if raw_pair_exchanges:
        assert "REPARTITION_BY_COL" in raw_pair_exchanges[0], raw_pair_exchanges[0]
