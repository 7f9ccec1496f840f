"""Plan-shape assertions (SURVEY.md §4): the scale properties the
engine depends on must be visible in the physical plan, not assumed.
"""

from __future__ import annotations

import pytest

from skyhookdb_ceph_spark.plans.explain import (
    explain_str,
    has_operator,
    has_pushed_filters,
    joins_used,
    scan_read_schema,
)
from skyhookdb_ceph_spark.registry import load_all

SF = "/root/testdata/sf0.001"


def q(name, spark):
    return load_all()[name].fn(spark, SF)


@pytest.mark.parametrize(
    "name",
    [
        "q_filter_gt",
        "q_filter_eq_point",
        "q_filter_range_conj",
        "q_filter_in",
        "q_filter_between",
        "q_filter_or_not",
    ],
)
def test_filters_are_pushed_to_scan(spark, name):
    """Every §2.2 predicate must reach the Parquet scan (the engine's
    raison d'etre — the reference pushed these into the OSD)."""
    assert has_pushed_filters(q(name, spark))


def test_projection_prunes_columns(spark):
    schema = scan_read_schema(q("q_scan_project", spark))
    assert "l_orderkey" in schema
    assert "l_extendedprice" not in schema  # untouched columns not read


def test_broadcast_join_chosen_for_small_dims(spark):
    assert "BroadcastHashJoin" in joins_used(q("q_join_broadcast", spark))
    assert "BroadcastHashJoin" in joins_used(q("q_join_multiway", spark))


def test_sortmerge_hint_respected(spark):
    assert "SortMergeJoin" in joins_used(q("q_join_sortmerge", spark))


def test_shuffle_hash_hint_respected(spark):
    assert "ShuffledHashJoin" in joins_used(q("q_join_inner_hash", spark))


def test_theta_join_avoids_nested_loop(spark):
    """The banded interval rewrite must plan as a hash/merge equi-join,
    never BroadcastNestedLoop/Cartesian (the quadratic scale killer)."""
    used = joins_used(q("q_join_theta", spark))
    assert "BroadcastNestedLoopJoin" not in used
    assert "CartesianProduct" not in used
    assert used & {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"}


def test_topk_fuses_sort_and_limit(spark):
    assert has_operator(q("q_topk", spark), "TakeOrderedAndProject")
    assert has_operator(q("q_sim_knn", spark), "TakeOrderedAndProject")


def test_groupby_aggregates_partially_before_shuffle(spark):
    """Flagship plan: partial HashAggregate before the exchange (the
    reference's per-object partials + client merge, done by Catalyst)."""
    s = explain_str(q("q_agg_groupby", spark), "simple")
    assert s.count("HashAggregate") >= 2
    assert "Exchange" in s


def test_whole_stage_codegen_covers_scan_pipeline(spark):
    # codegen'd operators carry the "*(n)" marker in simple mode
    s = explain_str(q("q_filter_gt", spark), "simple")
    assert "*(1)" in s


def test_decontaminate_broadcasts_benchmark_shingles(spark):
    """The eval-set shingle table must broadcast — shuffling corpus
    text against it would defeat the 100 TB shape."""
    assert "BroadcastHashJoin" in joins_used(q("q_dedup_decontaminate", spark))


def test_tfidf_broadcasts_corpus_size(spark):
    """N (1-row aggregate) joins via broadcast nested loop, never a
    shuffle; the tf x df join itself is a key equi-join."""
    plan = explain_str(q("q_text_tfidf", spark))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_chunking_has_no_key_shuffle(spark):
    """Chunking is a pure map stage: the only Exchange allowed is
    ensure_parallelism's round-robin input rebalance — never a
    key-based (hash/range) shuffle."""
    plan = explain_str(q("q_text_chunk", spark))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_quantize_has_no_shuffle(spark):
    """Int8 quantization is per-row: no Exchange in the plan."""
    plan = explain_str(q("q_embed_quantize", spark))
    assert "Exchange" not in plan


def test_pack_sequences_window_is_partitioned(spark):
    """Sequence packing must never plan a global (single-partition)
    window sort — the running sum is per source."""
    plan = explain_str(q("q_pack_sequences", spark))
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


def test_sample_weighted_broadcasts_rates(spark):
    """The per-language rate table and the corpus total must reach the
    filter via broadcast — the corpus itself never key-shuffles."""
    plan = explain_str(q("q_sample_weighted", spark))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_sessionize_shuffles_once(spark):
    """Both stacked windows share one (user_id) partitioning: exactly
    one key Exchange in the whole plan."""
    plan = explain_str(q("q_win_sessionize", spark))
    assert plan.count("hashpartitioning(user_id") <= 1
    assert "SinglePartition" not in plan


def test_dedup_url_partial_aggregates(spark):
    """URL dedup combines map-side: two HashAggregates (partial+final)
    around one Exchange; only (url, id) pairs cross the wire."""
    plan = explain_str(q("q_dedup_url", spark))
    assert plan.count("HashAggregate") >= 2


def test_hardneg_has_no_cartesian(spark):
    """Hard-negative candidates come from the LSH band equi-join —
    all-pairs shapes (cartesian / broadcast nested loop over the
    corpus) must never appear."""
    plan = explain_str(q("q_mine_hardneg", spark))
    assert "CartesianProduct" not in plan


def test_curriculum_bins_no_global_window(spark):
    """Quartile assignment is boundaries-broadcast, never a global
    single-task window."""
    plan = explain_str(q("q_curriculum_bins", spark))
    assert "SinglePartition" not in plan or "Window" not in plan


def test_knn_batch_broadcasts_query_set(spark):
    """Batch ANN: the query set reaches the corpus via broadcast (a
    deliberate BroadcastNestedLoopJoin — |Q| scores per corpus row);
    the corpus itself must never appear under a CartesianProduct or a
    key shuffle before scoring."""
    plan = explain_str(q("q_sim_knn_batch", spark))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_dedup_passage_joins_on_hash_only(spark):
    """Passage dedup: candidates meet on the block-hash equi-join;
    all-pairs shapes must never appear, and the per-hash frequency
    partial-aggregates map-side."""
    plan = explain_str(q("q_dedup_passage", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_histogram_aggregates_partially(spark):
    """Histogram: the 10-bin key partial-aggregates before the
    Exchange, so at most one row per bin per task crosses the wire."""
    plan = explain_str(q("q_fn_histogram", spark))
    assert plan.count("HashAggregate") >= 2


def test_zorder_aggregates_partially(spark):
    """Z-order ranges: pure codegen int math + partial aggregation —
    no window, no join, nothing but scan -> agg -> exchange -> agg."""
    plan = explain_str(q("q_layout_zorder", spark))
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan


def test_multimodal_frames_is_pure_map(spark):
    """Frame sampling: Arrow-batched Python map over a pruned 2-column
    scan — no shuffle, no join, no window anywhere in the plan."""
    plan = explain_str(q("q_multimodal_frames", spark))
    assert "MapInPandas" in plan
    for op in ("Exchange", "Window", "Join"):
        assert op not in plan, f"unexpected {op} in pure-map plan"


def test_skew_salted_join_stays_equi(spark):
    """Salted join: the (key, salt) condition must plan as an equi-join
    (hash or sort-merge), never a nested-loop/cartesian shape, and the
    internal salt column must not leak into the output."""
    df = q("q_join_skew_salted", spark)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__salt" not in df.columns


def test_gapfill_grid_windows_stay_partitioned(spark):
    """Gap-fill: the only single-partition stage allowed is the 1-row
    bounds aggregate; the LOCF window itself must partition by
    event_type (a global LOCF window would serialize the whole grid),
    and the grid build must never plan a real cartesian."""
    plan = explain_str(q("q_ts_gapfill", spark))
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # The formatted detail block for the Window node lists the
    # partition spec; it must carry event_type.
    assert "event_type" in plan.rsplit("Window", 1)[1][:400]


def test_downsample_reuses_one_shuffle_key(spark):
    """OHLC bars: both row_number windows and the final aggregate key
    on (event_type, bucket); nothing in the plan may collapse to a
    single partition."""
    plan = explain_str(q("q_ts_downsample", spark))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(event_type" in plan.replace("#", "").replace(
        " ", ""
    ) or "event_type" in plan


def test_reservoir_sample_has_no_global_sort(spark):
    """Exact-k sampling: per-stratum rank only — a SinglePartition
    exchange would mean the corpus is being globally sorted."""
    plan = explain_str(q("q_sample_reservoir", spark))
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_hierarchical_dedup_is_pure_aggregation(spark):
    """Two-level dedup: aggregates only — no join anywhere (the
    equivalence to single-level dedup rests on agg associativity,
    not on joining shard results back)."""
    plan = explain_str(q("q_dedup_hierarchical", spark))
    assert "HashAggregate" in plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_vocab_pairs_top_k_fuses(spark):
    """Pair mining: the top-20 must plan as TakeOrderedAndProject
    (per-partition partial top-k), never a full sort of the pair
    vocabulary."""
    plan = explain_str(q("q_vocab_pairs", spark))
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_join_nearest_stays_equi(spark):
    """Nearest-event join: user_id equi-join + band residual — no
    nested-loop/cartesian shape, and the per-click argmin window must
    not collapse to a single partition."""
    plan = explain_str(q("q_join_nearest", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan


def test_bm25_broadcasts_stats_and_df(spark):
    """BM25: corpus stats (N, avgdl) and per-term df must arrive via
    broadcast; the top-10 must fuse into TakeOrderedAndProject; no
    cartesian anywhere (the 1-row stats cross-join plans as a
    broadcast nested loop, which is fine)."""
    plan = explain_str(q("q_text_bm25", spark))
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_sliding_distinct_bounded_fanout(spark):
    """Sliding distinct: the explode is the bounded 7x replication —
    the plan must be Generate + one keyed aggregate, with no window
    operator and no single-partition collapse."""
    plan = explain_str(q("q_win_sliding_distinct", spark))
    assert "Generate" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_snapshot_diff_joins_hashes_only(spark):
    """Snapshot diff: the full outer join must be an equi-join and
    must not carry document text through the shuffle — only ids and
    16-byte hashes."""
    plan = explain_str(q("q_snapshot_diff", spark))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # text is consumed by md5() inside the scan-side projections;
    # no join/exchange operand should list the raw text column.
    join_on = plan[plan.find("SortMergeJoin"):]
    assert "text#" not in join_on.split("(")[0]


def test_entropy_two_keyed_shuffles(spark):
    """Entropy: (source, token) counts then per-source totals — the
    totals join back must be broadcast (aggregate side is tiny), and
    nothing may collapse to a single partition."""
    plan = explain_str(q("q_agg_entropy", spark))
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan


def test_tpch_q6_pushes_all_predicates(spark):
    """Q6: the date band and both numeric ranges must ALL reach the
    parquet scan — at 100 TB row-group statistics skip most of the
    table before a byte is decoded."""
    df = q("q_tpch_q6", spark)
    assert has_pushed_filters(df)
    plan = explain_str(df)
    pushed = plan[plan.find("PushedFilters"):].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed


def test_tpch_q1_partial_aggregates(spark):
    """Q1: all 8 aggregates must compute partially map-side; only the
    6-group partial states cross the exchange."""
    plan = explain_str(q("q_tpch_q1", spark))
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_tpch_q12_stays_equi_join(spark):
    """Q12: the orderkey join must stay an equi-join with the
    late-shipment band as a residual filter — never a nested loop.
    The STRATEGY is deliberately Catalyst's choice: at fixture scale
    it broadcasts the small orders side; at 100 TB size stats make it
    a sort-merge of the two facts (no hint pins either)."""
    plan = explain_str(q("q_tpch_q12", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = joins_used(q("q_tpch_q12", spark))
    assert joins & {"SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"}


def test_bloom_probe_never_shuffles_fact(spark):
    """Bloom pre-join: the three bit-position semi-joins must all be
    broadcast (<=1024-row build sides); the lineitem probe side must
    reach the final aggregate without a key Exchange."""
    plan = explain_str(q("q_filter_bloom", spark))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_countmin_sketch_state_is_bounded(spark):
    """CMS: explode is a pure map (Generate); counter build is a
    partial/final HashAggregate pair; probe joins the broadcast
    sketch — no sort-merge anywhere."""
    plan = explain_str(q("q_agg_countmin", spark))
    assert "Generate" in plan
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_interp_single_user_shuffle(spark):
    """Interpolation: all four window frames must ride ONE
    hashpartitioning(user_id) exchange — never SinglePartition."""
    plan = explain_str(q("q_ts_asof_interp", spark))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(user_id" in plan


def test_cume_dist_window_is_partitioned(spark):
    """cume_dist/percent_rank must partition by nation — the
    scale-safe counterpart of the guarded global ntile."""
    plan = explain_str(q("q_win_cume_dist", spark))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(c_nationkey" in plan


def test_upsert_merge_joins_once(spark):
    """MERGE: both sides pre-aggregate, then exactly one full-outer
    equi-join on the merge key."""
    plan = explain_str(q("q_delta_upsert_merge", spark))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_iterations_broadcast(spark):
    """PageRank: after the one fact-scale edge aggregation, every
    rank iteration must join node-bounded tables via broadcast — no
    iteration may sort-merge the 25-row rank table."""
    plan = explain_str(q("q_graph_pagerank", spark))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q19_derives_implied_ranges(spark):
    """Q19: Catalyst must derive the implied l_quantity range from the
    OR of conjunctions and push it to the lineitem scan."""
    df = q("q_tpch_q19", spark)
    plan = explain_str(df)
    pushed = plan[plan.find("PushedFilters"):]
    assert "l_quantity" in pushed.split("]")[0] or "l_quantity" in pushed


def test_tpch_q13_preserves_left_join(spark):
    """Q13: the priority predicate must stay in the join condition —
    a LeftOuter join must survive planning (a WHERE would have turned
    it inner and dropped zero-order customers)."""
    plan = explain_str(q("q_tpch_q13", spark))
    assert "LeftOuter" in plan


def test_stats_profile_single_scan(spark):
    """Profiling must read the table once: exactly one lineitem scan
    node in the plan."""
    plan = explain_str(q("q_stats_profile", spark))
    assert plan.count("lineitem.parquet") == 1


def test_proximity_filters_before_exchange(spark):
    """Proximity: the two-term IN filter must apply to the exploded
    postings before any exchange; the pair join stays equi."""
    plan = explain_str(q("q_text_proximity", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_retention_bitmap_partial_aggregates(spark):
    """bit_or must partially aggregate map-side before the user-keyed
    exchange."""
    plan = explain_str(q("q_agg_retention_bitmap", spark))
    assert "partial_bit_or" in plan or plan.count("HashAggregate") >= 2


def test_partition_prune_uses_partition_filters(spark):
    """The date-partitioned relayout must prune at the DIRECTORY level:
    the re-read scan shows the event_date predicate as a partition
    filter (pruned listing), not merely a pushed data filter."""
    import tempfile

    from pyspark.sql import functions as F

    from skyhookdb_ceph_spark.queries._util import Catalog
    from skyhookdb_ceph_spark.queries._util import _scratch_dir

    tmp = tempfile.mkdtemp(prefix="skyhook_pp_test_", dir=_scratch_dir())
    try:
        ev = Catalog(spark, SF).events
        ev.withColumn("event_date", F.col("ts").cast("date")).write.mode(
            "overwrite"
        ).partitionBy("event_date").parquet(f"{tmp}/p")
        df = spark.read.parquet(f"{tmp}/p").filter(
            F.col("event_date") == F.lit("2024-01-10").cast("date")
        )
        plan = explain_str(df)
        assert "PartitionFilters" in plan
        assert "event_date" in plan[plan.find("PartitionFilters"):].split("]")[0]
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def test_scd2_join_stays_keyed(spark):
    """SCD2: the temporal join must keep custkey as the equi key with
    the validity range as residual — never a nested loop over
    versions."""
    plan = explain_str(q("q_join_scd2", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_constraints_column_rules_single_scan(spark):
    """The three column rules must fold into one orders scan; only the
    FK rule adds a second (plus the customer dim)."""
    plan = explain_str(q("q_stats_constraints", spark))
    assert plan.count("orders.parquet") == 2  # column-rules scan + FK scan


def test_spatial_grid_is_equi_join(spark):
    """2-D close pairs: the 3x3 probe join must be an equi-join on the
    cell, never an all-pairs distance filter."""
    plan = explain_str(q("q_join_spatial_grid", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gdpr_list_broadcasts(spark):
    """The deletion list must broadcast; the event log side must not
    shuffle for the match."""
    plan = explain_str(q("q_gdpr_delete", spark))
    assert "BroadcastHashJoin" in plan


def test_tombstone_single_aggregate_pass(spark):
    """Tombstone compaction: one grouped aggregate over the unioned
    log — no window, no join."""
    plan = explain_str(q("q_dedup_tombstone", spark))
    assert "Window" not in plan
    assert "Join" not in plan


def test_dpp_inserts_dynamic_pruning(spark):
    """Star-join DPP: with the fact laid out partitionBy(event_date)
    and the only date filter arriving through the dim join, Spark must
    insert a dynamicpruning subquery on the fact scan — the runtime
    partition pruning that decides fact IO from the dim at 100 TB."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from skyhookdb_ceph_spark.queries._util import Catalog
    from skyhookdb_ceph_spark.queries._util import _scratch_dir

    ev = Catalog(spark, SF).events
    tmp = tempfile.mkdtemp(prefix="skyhook_dpp_test_", dir=_scratch_dir())
    try:
        path = f"{tmp}/p"
        ev.withColumn("event_date", F.col("ts").cast("date")).repartition(
            "event_date"
        ).write.mode("overwrite").partitionBy("event_date").parquet(path)
        fact = spark.read.parquet(path)
        dim = (
            ev.select(F.col("ts").cast("date").alias("d"))
            .filter(
                F.col("d").isin(
                    [F.lit(x).cast("date")
                     for x in ("2024-01-05", "2024-01-15", "2024-01-25")]
                )
            )
            .distinct()
        )
        j = fact.join(dim, fact.event_date == dim.d).groupBy(
            "event_type"
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stats_driven_join_broadcasts_on_measurement(spark):
    """q_join_stats_driven's promise: the measured post-filter dim
    cardinality (tiny for c_nationkey < 5) must materialize an
    explicit BroadcastHashJoin — the runstats idea driving a live
    plan decision, not just a report."""
    assert "BroadcastHashJoin" in joins_used(q("q_join_stats_driven", spark))


def test_range_bucket_join_is_equi_not_nested_loop(spark):
    """The bucketed range join must hash on the bucket key; a
    BroadcastNestedLoopJoin would mean the theta predicate leaked into
    the join condition (the O(n*m) plan the rewrite exists to avoid)."""
    plan = explain_str(q("q_join_range_bucket", spark))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_islands_and_gaps_have_no_global_window(spark):
    """The two-level rewrites must keep every corpus-sized window
    key-partitioned: the only Window operators allowed to run
    unpartitioned are over the block-summary/boundary tables.  Proxy
    assertion: the windows over base rows carry a partition spec."""
    for name in ("q_win_islands", "q_win_gaps"):
        plan = explain_str(q(name, spark))
        # the block-partitioned window must exist
        assert "partitionspec" in plan.lower() or "blk" in plan, name


def test_skyline_window_runs_over_aggregate(spark):
    """q_agg_skyline phase 2: the prefix-min window input must be the
    per-x aggregate (HashAggregate below the Window), not base rows."""
    plan = explain_str(q("q_agg_skyline", spark))
    # parent-first printing: the Window must sit ABOVE (consume) the
    # per-x HashAggregate, i.e. print before it.
    assert plan.index("Window") < plan.index("HashAggregate"), plan


# ---- TPC-H completion (queries/composite.py) ------------------------------


def test_tpch_q2_min_is_partitioned_window(spark):
    """Q2's correlated MIN decorrelates to a per-part window min: the
    Window must carry a partition spec (bounded groups) and the EU
    supplier dim must broadcast — never a re-scan of the ps bridge."""
    plan = explain_str(q("q_tpch_q2", spark))
    assert "Window" in plan
    assert "p_partkey" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q11_threshold_is_broadcast_back(spark):
    """Q11's scalar subquery must come back as a broadcast join of the
    1-row total, not a second aggregate over a re-scanned fact."""
    assert "BroadcastHashJoin" in joins_used(q("q_tpch_q11", spark)) or (
        "BroadcastNestedLoopJoin" in joins_used(q("q_tpch_q11", spark))
    )


def test_tpch_q16_not_in_is_anti_join(spark):
    """Q16's NOT IN must compile to a LEFT ANTI join (keyed), never a
    per-row subquery."""
    plan = explain_str(q("q_tpch_q16", spark))
    assert "LeftAnti" in plan


def test_tpch_q21_semi_and_anti_are_keyed(spark):
    """Q21's EXISTS/NOT EXISTS pair must both be keyed joins on
    l_orderkey (semi + anti) with the suppkey/date conditions as
    residuals — no nested-loop, no per-row subquery."""
    plan = explain_str(q("q_tpch_q21", spark))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q9_part_filter_prunes_first(spark):
    """Q9's p_name LIKE filter must be pushed to the part scan so the
    5-way join starts from the pruned dimension."""
    assert has_pushed_filters(q("q_tpch_q9", spark))


def test_data_split_is_single_shuffle(spark):
    """The hash split is a map + one grouped agg: exactly one KEYED
    shuffle (the (split,lang) agg exchange); the only other exchange
    allowed is the range partitioning for the 3x-n_langs-row sort."""
    plan = explain_str(q("q_data_split", spark))
    assert plan.count("hashpartitioning") == 1
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_median_exact_sorts_only_candidate_bucket(spark):
    """q_agg_median_exact's promise: no corpus-sized global sort — the
    only row-level Window is partitioned by bkt (the candidate bucket),
    and no TakeOrdered/global Sort consumes the base column."""
    plan = explain_str(q("q_agg_median_exact", spark))
    assert "partitionspec" in plan.lower().replace(" ", "") or (
        "bkt" in plan
    )
    assert "TakeOrderedAndProject" not in plan


def test_sql_exists_flag_is_existence_join(spark):
    """The EXISTS-as-value shape must plan as an ExistenceJoin (keyed
    hash join emitting the mark bit), never a per-row subquery or
    nested loop."""
    plan = explain_str(q("q_sql_exists_flag", spark))
    assert "ExistenceJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_peak_concurrency_windows_stay_partitioned(spark):
    """The sweep-line running sum must never plan a per-type
    single-partition window over base points: every Window carries a
    partition spec including the day block (in-day sum) or runs over
    the tiny (type, day) carry table."""
    plan = explain_str(q("q_win_peak_concurrency", spark))
    assert "hashpartitioning(event_type" in plan
    assert "blk" in plan


def test_null_skew_bypass_filters_before_exchange(spark):
    """The null-key bypass must be visible in the plan: a simplified
    not-null condition on the join branch (Catalyst rewrites
    isnotnull(CASE...) to CASE WHEN v<20 THEN false ELSE
    isnotnull(user_id) END — NULL rows never enter the keyed
    exchange) and a Union merging the bypass back."""
    plan = explain_str(q("q_join_null_skew", spark))
    assert "isnotnull(user_id" in plan
    assert "Union" in plan


def test_agg_pushdown_reaches_the_scan(spark):
    """The storage-side aggregate: with parquet v2 + aggregatePushdown
    the plan must carry PushedAggregation (COUNT/MIN/MAX answered from
    row-group footer stats — the reference's --use-cls win)."""
    prev_push = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    prev_v1 = spark.conf.get(
        "spark.sql.sources.useV1SourceList",
        "avro,csv,json,kafka,orc,parquet,text",
    )
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        agg = li.selectExpr(
            "count(*) AS cnt", "min(l_shipdate) AS m", "max(l_extendedprice) AS x"
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        # the scan line truncates in toString(); the marker's presence
        # is the contract (full text visible via explain("formatted"))
        assert "PushedAggregation" in plan
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_push)
        spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)


def test_trailing_hour_window_is_day_blocked(spark):
    """The trailing-hour RANGE window must partition by (event_type,
    day-block), never by event_type alone — a per-type window is one
    task per type at 100 TB.  The ghost-row union makes every frame
    block-local (r6 verdict item 1)."""
    plan = explain_str(q("q_win_trailing_hour", spark))
    assert "Union" in plan  # real + boundary-ghost contributor rows
    w_detail = plan.rsplit("Window", 1)[1]
    head = w_detail[:500]
    assert "event_type" in head and "blk" in head
    # the window's own exchange keys on BOTH columns
    assert "hashpartitioning(event_type" in plan
    import re

    m = re.search(r"hashpartitioning\(event_type#\d+, blk#\d+", plan)
    assert m, "window exchange must key on (event_type, blk)"


def test_skew_adaptive_agg_salts_the_hot_key(spark):
    """events.event_type has ~5 values — the measured skew probe must
    route the aggregate through the two-phase salted plan: a keyed
    exchange on (event_type, __salt) followed by one on event_type."""
    plan = explain_str(q("q_agg_skew_adaptive", spark))
    import re

    assert re.search(r"hashpartitioning\(event_type#\d+, __salt#\d+", plan), plan[
        :2000
    ]


def test_skew_adaptive_agg_plain_branch_on_uniform_key(spark):
    """A uniform high-cardinality key (every key's share « 1/32) must
    take the plain partial/final aggregate — no salt column anywhere
    in the plan (the second shuffle would be pure overhead)."""
    from skyhookdb_ceph_spark.plans.explain import explain_str as es
    from skyhookdb_ceph_spark.queries.aggregates import adaptive_sum_by_key

    df = spark.range(1000).selectExpr("id AS k", "id * 0.5 AS value")
    plan = es(adaptive_sum_by_key(df, "k"))
    assert "__salt" not in plan


def test_hll_merge_sketches_stay_aggregated(spark):
    """The mergeable-sketch plan: sketch state must flow through
    partial/final HashAggregates (hll_sketch_agg and hll_union_agg
    are both map-side combinable — fixed-size binary state shuffles,
    never rows) and the day-sketch side joins back as a broadcast."""
    plan = explain_str(q("q_agg_hll_merge", spark))
    assert "hll_sketch_agg" in plan
    assert "hll_union_agg" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_containment_dedup_stays_equi_join(spark):
    """Containment candidates must come from the rare-shingle
    inverted-index equi-join — never a cartesian/nested-loop pair
    enumeration — and the df<=5 cap must aggregate partially before
    its exchange."""
    plan = explain_str(q("q_dedup_containment", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_parameterized_sql_plans_like_literal(spark):
    """q_sql_parameterized's claim: binding happens before
    optimization, so the bound form and the literal form produce the
    same physical plan (pushed filter included) — parameters are a
    front-door change, not a plan change."""
    from skyhookdb_ceph_spark.catalog import Catalog

    orders = Catalog(spark, SF).orders
    sql = (
        "SELECT o_orderpriority, count(*) AS cnt FROM {orders} "
        "WHERE o_totalprice > {thr} GROUP BY o_orderpriority"
    )
    bound = spark.sql(
        sql.replace("{thr}", ":minp"), args={"minp": 150000.0}, orders=orders
    )
    literal = spark.sql(sql.replace("{thr}", "150000.0"), orders=orders)
    import re

    def norm(df):
        s = explain_str(df, "simple")
        return re.sub(r"#\d+L?|plan_id=\d+", "#x", s)

    assert norm(bound) == norm(literal)
    # has_pushed_filters checks the list is NON-EMPTY — a bare
    # "PushedFilters" substring also matches "PushedFilters: []"
    assert has_pushed_filters(bound)


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """Runtime Bloom-filter join — the non-partition-column analog of
    DPP (q_join_dpp): a selective filter on the small (creation) side
    is turned into a bloom-filter probe (might_contain) on the fact
    (application) side BEFORE the join shuffle, cutting the shuffled
    fact rows to ~the join's selectivity.  Injection is gated on size
    heuristics meant for clusters (application side >= 10 GB scanned),
    so the test lowers the thresholds to fixture scale to exercise the
    MECHANISM — the conf is restored either way (leak guard).  At
    100 TB the default thresholds hold and this fires exactly when it
    pays: the creation side already filtered, the fact side huge."""
    from pyspark.sql import functions as F

    from skyhookdb_ceph_spark.catalog import Catalog

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # a broadcastable creation side plans a broadcast join, which
        # already avoids the fact shuffle — injection correctly skips
        # it; disable broadcast so the fixture-scale join is a shuffle
        # join, the shape the bloom filter exists for
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        c = Catalog(spark, "/root/testdata/sf0.01")
        sel = c.orders.filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            c.lineitem.join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        plan = explain_str(j)
        low = plan.lower()
        # the probe AND its builder must both be planned...
        assert "might_contain" in low, plan[:2000]
        assert "bloom_filter_agg" in low, plan[:2000]
        # ...and the probe must test the FACT side's key (l_orderkey),
        # i.e. sit on the lineitem scan, not the creation side
        probe_lines = [
            ln for ln in plan.splitlines() if "might_contain" in ln.lower()
        ]
        assert probe_lines and all(
            "l_orderkey" in ln for ln in probe_lines
        ), probe_lines
        # result sanity (rows exist; counting them proves execution
        # with the injected filter returns the joined groups)
        assert j.count() > 0
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_density_blocks_blocked_branch_plan(spark):
    """q_win_density_blocks with its shipped target (128 rows/block)
    must take the MEASURED block decomposition on the fixture: ghost
    union present and the window exchange keyed on (event_type, blk)."""
    import re

    plan = explain_str(q("q_win_density_blocks", spark))
    assert "Union" in plan  # real + boundary-ghost contributor rows
    assert re.search(
        r"hashpartitioning\(event_type#\d+, blk#\d+", plan
    ), "window exchange must key on (event_type, blk)"


def test_density_blocks_plain_branch_plan(spark):
    """A huge rows-per-block target makes the measured width cover the
    whole span — the probe must return None and the plan fall back to
    the plain per-type window: no ghost union, no blk column, window
    exchange keyed on event_type alone."""
    import re

    from skyhookdb_ceph_spark.queries.windows import _trailing_hour_window

    df = _trailing_hour_window(spark, SF, target_rows=10_000_000)
    plan = explain_str(df)
    assert "blk" not in plan and "emit" not in plan
    assert re.search(r"hashpartitioning\(event_type#\d+, 8\)", plan) or \
        re.search(r"hashpartitioning\(event_type#\d+\b", plan)


def test_density_blocks_branches_agree(spark):
    """Both physical branches must return byte-identical rows — the
    invariant that lets the oracle ignore which branch ran."""
    from skyhookdb_ceph_spark.queries.windows import _trailing_hour_window

    blocked = _trailing_hour_window(spark, SF, target_rows=64).collect()
    plain = _trailing_hour_window(
        spark, SF, target_rows=10_000_000
    ).collect()
    assert blocked == plain and len(blocked) > 0


def test_measured_block_width_contract(spark):
    """Width clamps to >= 4x frame, returns None for sparse data
    (width would cover the span) and on empty input."""
    from skyhookdb_ceph_spark.operators.stats import measured_block_width

    df = spark.range(1000).selectExpr(
        "CAST(id % 4 AS STRING) AS k", "id * 100 AS sec"
    )
    # span 99900; densest key 250 rows; target 50 -> width ~19980
    w = measured_block_width(df, "k", "sec", frame_sec=100, target_rows=50)
    assert w is not None and 4 * 100 <= w < 99900
    # huge target -> covers span -> None (plain-window branch)
    assert (
        measured_block_width(df, "k", "sec", frame_sec=100,
                             target_rows=10**9)
        is None
    )
    # tiny target -> clamp to 4x frame
    assert (
        measured_block_width(df, "k", "sec", frame_sec=100, target_rows=1)
        == 400
    )
    empty = df.filter("id < 0")
    assert (
        measured_block_width(empty, "k", "sec", frame_sec=100,
                             target_rows=50)
        is None
    )


def test_anonymize_is_broadcast_only(spark):
    """k-anonymity group sizes must reach the records as BROADCAST
    joins of domain-bounded aggregates — never a windowed or
    sort-merge pass over the full record stream."""
    plan = explain_str(q("q_gdpr_anonymize", spark))
    assert "SortMergeJoin" not in plan and "Window" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_higher_order_lambdas_stay_jvm_side(spark):
    """The lambda quartet must be pure whole-stage-codegen map work:
    zero exchanges, zero Python evals, no explode/Generate."""
    plan = explain_str(q("q_fn_higher_order", spark))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "Generate" not in plan


def test_poisson_bootstrap_is_map_then_agg(spark):
    """Replicate counts are computed in the map phase; the only
    shuffles are the final keyed aggregate and its ordering."""
    plan = explain_str(q("q_sample_poisson", spark))
    assert "EvalPython" not in plan and "SortMergeJoin" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_moments_single_keyed_pass(spark):
    """Power-sum moments must be ONE map-combined keyed aggregate:
    a single hash exchange on the group key, partial aggregation
    before it, and no window, join, or second scan."""
    import re

    plan = explain_str(q("q_agg_moments", spark))
    assert len(re.findall(r"hashpartitioning\(", plan)) == 1
    assert "partial_" in plan
    assert "Window" not in plan and "Join" not in plan
    # formatted mode prints each node twice (tree + detail section)
    assert plan.count("Scan parquet") == 2


def test_outlier_mad_medians_broadcast(spark):
    """Both median aggregates (median, then MAD) must come back to the
    hourly rollup as BROADCAST joins of type-bounded aggregates —
    never a sort-merge pass or a window over the stream."""
    plan = explain_str(q("q_ts_outlier_mad", spark))
    assert "SortMergeJoin" not in plan and "Window" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_asof_tolerance_adds_no_shuffle(spark):
    """The staleness tolerance is a post-window filter: its plan must
    contain exactly as many keyed exchanges as the plain as-of join's
    (zero added shuffles)."""
    import re

    tol = explain_str(q("q_join_asof_tolerance", spark))
    plain = explain_str(q("q_join_asof", spark))
    assert len(re.findall(r"hashpartitioning\(", tol)) == len(
        re.findall(r"hashpartitioning\(", plain)
    )
    assert "CartesianProduct" not in tol
    assert "BroadcastNestedLoopJoin" not in tol


def test_width_probed_join_probed_branch(spark):
    """Forced-small target: the join's two input exchanges must be the
    explicit probe-sized REPARTITION_BY_NUM ones (conf-floored — see
    measured_shuffle_width's engine-floor note) and the join must add
    NO further exchange; the only planner-inserted exchange is the
    post-join aggregate's."""
    import re

    from skyhookdb_ceph_spark.queries.joins import _width_probed_join

    plan = explain_str(_width_probed_join(spark, SF, target_rows=1000))
    assert plan.count("REPARTITION_BY_NUM") == 2
    assert "ShuffledHashJoin" in plan
    ens = re.findall(
        r"hashpartitioning\(([^)]*)\), ENSURE_REQUIREMENTS", plan
    )
    assert len(ens) == 1 and "o_orderpriority" in ens[0]


def test_width_probed_join_plain_branch(spark):
    """Shipped target at fixture scale: the probe says the input fits
    one task's budget — the planner's default plan is kept, with no
    explicit repartition nodes."""
    plan = explain_str(q("q_join_width_probed", spark))
    assert "REPARTITION_BY_NUM" not in plan


def test_width_probed_branches_agree(spark):
    """Both physical branches must return byte-identical rows — the
    invariant that lets the oracle ignore which branch ran."""
    from skyhookdb_ceph_spark.queries.joins import _width_probed_join

    probed = _width_probed_join(spark, SF, target_rows=1000).collect()
    plain = _width_probed_join(spark, SF, target_rows=10**9).collect()
    assert probed == plain and len(probed) > 0


def test_measured_shuffle_width_contract(spark):
    """None when the input fits one task, ceil otherwise, capped at
    max_width."""
    from skyhookdb_ceph_spark.operators.stats import (
        measured_shuffle_width,
    )

    df = spark.range(10000)
    assert measured_shuffle_width(df, 10001) is None
    assert measured_shuffle_width(df, 10000) is None  # boundary: fits
    assert measured_shuffle_width(df, 4999) == 3  # ceil(10000/4999)
    assert measured_shuffle_width(df, 1, max_width=64) == 64  # cap


def test_quality_cascade_is_single_map_pass(spark):
    """The cascade must be ONE Project over the scan: the stage-2
    routing is a lazy CASE WHEN, not a filter+union or a join — zero
    exchanges, zero Python evals, one scan."""
    plan = explain_str(q("q_text_quality_cascade", spark))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "Join" not in plan
    assert plan.count("Scan parquet") == 2  # tree + detail section


def test_dedup_agreement_never_all_pairs(spark):
    """Both pair generators must stay LSH-bucketed equi-joins and the
    agreement join must be keyed on the id pair — no cartesian, and
    the only nested loops are the 1-row nb config cross-joins inside
    banded_cells (every BroadcastNestedLoopJoin is a Cross)."""
    import re

    plan = explain_str(q("q_dedup_agreement", spark), "simple")
    assert "CartesianProduct" not in plan
    bnl = re.findall(r"BroadcastNestedLoopJoin \w+, (\w+)", plan)
    assert all(k == "Cross" for k in bnl)
    assert re.search(r"SortMergeJoin \[a#\d+L, b#\d+L\].*FullOuter", plan)


def test_event_pattern_single_keyed_agg_no_python(spark):
    """The funnel regex must run over per-user compacted strings from
    ONE keyed aggregate — no window over raw events, no self-join
    chain, no Python eval."""
    import re

    plan = explain_str(q("q_win_event_pattern", spark))
    assert "Join" not in plan and "EvalPython" not in plan
    assert "Window" not in plan
    # one keyed exchange (user_id) + the bounded output sort
    assert len(re.findall(r"hashpartitioning\(", plan)) == 1


def test_incremental_merge_delta_filter_pushed(spark):
    """The maintenance refresh must push the ts >= cut filter to the
    delta scan — the plan property that makes the refresh O(delta),
    never a rescan of base history."""
    from skyhookdb_ceph_spark.queries._util import Catalog
    from skyhookdb_ceph_spark.queries.aggregates import _IVM_CUT

    ev = Catalog(spark, SF).events
    from pyspark.sql import functions as F

    delta = ev.filter(
        F.col("ts") >= F.lit(_IVM_CUT).cast("timestamp")
    ).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    assert has_pushed_filters(delta)


def test_zonemap_advisor_two_keyed_aggs_no_window(spark):
    """The advisor must be two keyed partial aggregates (one per
    candidate layout) — no window, no join, no second scan per leg."""
    import re

    plan = explain_str(q("q_scan_zonemap_advisor", spark))
    assert "Window" not in plan and "Join" not in plan
    assert "Union" in plan
    # one zone exchange per layout leg (the zone alias prints as
    # _groupingexpression in the optimized plan); the final 2-row aggs
    # collapse to SinglePartition exchanges, not keyed ones
    assert (
        len(
            re.findall(
                r"hashpartitioning\((?:zone|_groupingexpression)", plan
            )
        )
        == 2
    )


def test_zonemap_advisor_verdict_is_lossless_and_prunes(spark):
    """On the fixture the clustered leg must actually prune (scan <
    table rows, matched == global) and both legs must be lossless —
    the zone-map correctness invariant."""
    rows = {r["layout"]: r for r in q("q_scan_zonemap_advisor", spark).collect()}
    c, p = rows["clustered_ship_month"], rows["physical_orderkey"]
    assert c["lossless"] == 1 and p["lossless"] == 1
    assert c["rows_matched"] == c["rows_matched_global"]
    assert c["rows_scanned"] < p["rows_scanned"]
    assert c["zones_selected"] < c["zones_total"]


def test_drift_js_vocab_bounded_no_window(spark):
    """The drift monitor must be keyed partial aggregates + one
    vocab-bounded equi-join + a 1-row broadcast total — no window, no
    full-outer support union, no Python."""
    plan = explain_str(q("q_text_drift_js", spark), "simple")
    assert "Window" not in plan and "EvalPython" not in plan
    assert "FullOuter" not in plan
    assert "CartesianProduct" not in plan


def test_triangles_all_joins_keyed(spark):
    """Triangle counting must be pure equi-joins (bucket cap, wedge
    build, closure probe) — no cartesian; the only nested loops are
    the 1-row count cross-joins combining the three aggregates."""
    import re

    plan = explain_str(q("q_graph_triangles", spark), "simple")
    assert "CartesianProduct" not in plan
    bnl = re.findall(r"BroadcastNestedLoopJoin \w+, (\w+)", plan)
    assert all(k == "Cross" for k in bnl) and len(bnl) == 2


def test_broadcast_probed_join_both_branches(spark):
    """Measured-payload broadcast choice: the shipped budget must pick
    BroadcastHashJoin on the fixture dim; a forced 1-byte budget must
    pick the keyed shuffle join instead — and both branches must
    return identical rows."""
    from skyhookdb_ceph_spark.operators.stats import BROADCAST_BUDGET_BYTES
    from skyhookdb_ceph_spark.queries.joins import _broadcast_probed_join

    bcast = _broadcast_probed_join(spark, SF, BROADCAST_BUDGET_BYTES)
    shuf = _broadcast_probed_join(spark, SF, 1)
    assert "BroadcastHashJoin" in joins_used(bcast)
    assert joins_used(shuf) & {"ShuffledHashJoin", "SortMergeJoin"}
    assert "BroadcastHashJoin" not in joins_used(shuf)
    assert bcast.collect() == shuf.collect()


def test_crypto_shred_keys_broadcast(spark):
    """The keys table must reach the ciphertexts as a broadcast join
    (users-sized dim); decryption is per-row JVM crypto — no Python,
    no sort-merge over the fact side."""
    plan = explain_str(q("q_gdpr_crypto_shred", spark))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "EvalPython" not in plan
    # optimized plans print the JVM intrinsics, not the SQL names
    assert "aesEncrypt" in plan and "aesDecrypt" in plan
    assert "tryeval" in plan  # try_ semantics: NULL, never an error


def test_incremental_dedup_joins_index_not_corpus(spark):
    """Admission must be a delta-vs-index equi-join with the exact
    verify bounded to candidates (semi-join on the base side) — no
    cartesian, no all-pairs self-join of the full corpus."""
    plan = explain_str(q("q_dedup_incremental", spark), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # scoped per-run table names clean themselves up (bucketing.py)


def test_plan_audit_explains_what_collect_local_collected(spark):
    """tools/plan_audit.py on a query that returns collect_local(frame)
    explains `frame` — the scan of the read-back IVF index — not the
    LocalTableScan of the collected census."""
    from tools.plan_audit import audited_plan

    plan = audited_plan(spark, "q_vec_ivf_incremental", SF)
    assert "Scan parquet" in plan
    assert "LocalTableScan" not in plan


def test_rerank_candidates_broadcast_text_never_shuffles(spark):
    """Two-stage retrieval: the candidate list must broadcast (the
    corpus side of the text fetch streams through a broadcast hash
    join), both top-k cuts must fuse into TakeOrderedAndProject, and
    no exchange may key on the raw text column."""
    import re

    plan = explain_str(q("q_text_rerank", spark))
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts, "expected keyed exchanges in the BM25 stage"
    for args in parts:
        assert "text#" not in args


def test_dedup_substring_never_all_pairs(spark):
    """Exact-substring spans (shipped v2 plan): gram frequency comes
    from a COUNT window over the gram key — there is NO join anywhere
    in the plan (the groupBy+join-back v1 was measured superlinear at
    30x and killed, BASELINE.md §L.6); all-pairs shapes must never
    appear, the HashAggregates are the per-doc interval merge and the
    gram census, and the scan reads only the referenced columns
    (doc_id, text)."""
    plan = explain_str(q("q_dedup_substring", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "lang" not in read and "source" not in read


def test_dedup_corpus_one_shuffle_beyond_labels(spark):
    """q_transform_dedup_corpus (r11 verdict item 4): survivor
    selection must add exactly ONE keyed shuffle beyond the shared
    pair/label derivation — a single cluster-keyed Exchange feeding a
    single Window node (row_number + first_value share one window
    spec, so they may not split into two sorts), and no all-pairs
    shape anywhere."""
    import re

    plan = explain_str(q("q_transform_dedup_corpus", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # formatted explain prints each node once in the tree and once in
    # the detail section — count detail headers, not substrings
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert plan.count("hashpartitioning(cluster") == 1


def test_pipeline_e2e_v2_two_scans_one_pass_screens(spark):
    """q_pipeline_e2e_v2 (r11 verdict item 8): the recomposed curation
    pipeline must read the corpus exactly TWICE in the whole plan —
    the main pass (dedup rank + cascade screens + split bucket all
    ride ONE scan before the single digest-keyed shuffle) and the
    span census's narrow doc_id+text projection.  Exactly four
    Windows (digest row_number, gram-frequency count, span interval
    merge max, span group-id sum), exactly one derived-expression
    exchange (the md5 digest, printed as a _wN projection), no
    all-pairs shape — and the rn=1 dedup filter must trigger rank-
    limit pushdown (WindowGroupLimit), which prunes duplicate docs
    per partition BEFORE the digest shuffle carries them."""
    import re

    plan = explain_str(q("q_pipeline_e2e_v2", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert len(re.findall(r"\(\d+\) Window(?!GroupLimit)", plan)) == 4
    assert "WindowGroupLimit" in plan
    assert len(re.findall(r"hashpartitioning\(_w\d+", plan)) == 1


def test_token_budget_bucketed_never_global_window(spark):
    """q_sample_token_budget: the greedy-prefix cumsum must partition
    on (source, bucket) — k parallel bounded windows — never a
    source-global (or table-global) running sum, and the bucket key
    must appear in the window exchange."""
    import re

    plan = explain_str(q("q_sample_token_budget", spark))
    assert len(re.findall(r"\(\d+\) Window(?!GroupLimit)", plan)) == 1
    # the window's exchange keys on (source, bkt); the final census
    # groupBy legitimately re-keys on source alone
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("source" in p and "bkt" in p for p in parts)
    # and the Window node itself is partitioned on both keys
    win = re.search(r"\(\d+\) Window\n(?:.*\n)*?.*?Arguments: .*", plan)
    assert win and "bkt" in win.group(0)


def test_dedup_weights_same_shuffle_as_corpus_action(spark):
    """q_transform_dedup_weights: survivor rank and cluster-size
    weight must share ONE cluster-keyed shuffle (they ride the same
    partition), with no all-pairs shape anywhere."""
    import re

    plan = explain_str(q("q_transform_dedup_weights", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("hashpartitioning(cluster") == 1


def test_ivfpq_shortlist_only_broadcasts_tiny_sides(spark):
    """q_sim_knn_ivfpq: the only non-equi joins may be broadcasts of
    the 1-row query / 8-row distance table (BroadcastNestedLoopJoin
    on a bounded side is the accepted cross-join pattern); a true
    CartesianProduct — both sides unbounded — must never appear, and
    both cuts fuse into TakeOrderedAndProject."""
    plan = explain_str(q("q_sim_knn_ivfpq", spark))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_dedup_minhash_recall_never_all_pairs(spark):
    """The recall audit's ground truth is the PERMISSIVE r=1 band
    equi-join over the corpus-scaled sample, never an exact all-pairs
    cross join; the only nested-loop-free exception is the broadcast
    of the 1-row corpus count that sets the sample modulus."""
    plan = explain_str(q("q_dedup_minhash_recall", spark))
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# §2.24 round-12 second wave
# ---------------------------------------------------------------------------


def test_knn_binary_coarse_is_narrow_and_windows_partitioned(spark):
    """q_sim_knn_binary: every window is qid-partitioned (no global
    sort), the bounded query set broadcasts, and the exact rerank
    re-enters the corpus through an EQUI join on vec_id — the float
    embeddings never ride the Hamming cross-score."""
    df = q("q_sim_knn_binary", spark)
    from skyhookdb_ceph_spark.plans.explain import (
        count_unpartitioned_windows,
    )

    assert count_unpartitioned_windows(df) == 0
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # query set broadcast
    # the join-back by vec_id is a hash equi-join, not a nested loop
    used = joins_used(df)
    assert used & {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"}


def test_maxsim_is_jvm_only_with_partitioned_topk(spark):
    """q_sim_maxsim: the MaxSim fold is ONE JVM expression — no
    Python evaluator anywhere in the plan — and the per-query top-k
    window is qid-partitioned."""
    df = q("q_sim_maxsim", spark)
    from skyhookdb_ceph_spark.plans.explain import (
        count_unpartitioned_windows,
    )

    plan = explain_str(df, "simple")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert count_unpartitioned_windows(df) == 0


def test_ks_drift_only_global_window_is_bucket_summary(spark):
    """q_stats_ks_drift: the distributed-prefix-sum decomposition
    leaves exactly ONE unpartitioned window — the bucket-offset carry
    over price-band SUMMARY rows (bounded by range/width, not by row
    count); the per-value cumulants are bucket-partitioned.  The
    carry computes TWO running sums (sample a / sample b) over that
    one spec, so the spec-instance count is exactly 2 — a third
    instance would mean a new global window crept in."""
    df = q("q_stats_ks_drift", spark)
    from skyhookdb_ceph_spark.plans.explain import (
        count_unpartitioned_windows,
    )

    assert count_unpartitioned_windows(df) == 2


def test_mutual_info_text_read_once(spark):
    """q_agg_mutual_info: only the presence-explode scan reads the
    text column; the N / per-lang census scans are pruned to `lang`
    (+ids) — the heavy column moves through the cluster once."""
    plan = explain_str(q("q_agg_mutual_info", spark))
    schemas = [
        line.split("ReadSchema:", 1)[1]
        for line in plan.splitlines()
        if "ReadSchema:" in line
    ]
    assert schemas, "no scans found"
    with_text = [s for s in schemas if "text" in s]
    assert len(with_text) == 1, f"text read by {len(with_text)} scans"


def test_ood_filter_broadcasts_centroids_no_cartesian(spark):
    """q_vec_ood_filter: centroid/stat sides are broadcast joins;
    no cartesian, no global window, no Python evaluator."""
    df = q("q_vec_ood_filter", spark)
    from skyhookdb_ceph_spark.plans.explain import (
        count_unpartitioned_windows,
    )

    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert count_unpartitioned_windows(df) == 0
    assert "BroadcastHashJoin" in joins_used(df)


def test_interval_grid_is_equi_join_not_nested_loop(spark):
    """q_join_interval_grid: the overlap theta-join must execute as
    an EQUI join on the hour cell (grid bucketing) — a
    BroadcastNestedLoopJoin or CartesianProduct here is exactly the
    quadratic plan the operator exists to avoid."""
    df = q("q_join_interval_grid", spark)
    used = joins_used(df)
    assert "BroadcastNestedLoopJoin" not in used
    assert "CartesianProduct" not in used
    assert used & {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"}


def test_phash_band_join_never_all_pairs(spark):
    """q_dedup_phash: candidates must come from the (band_idx,
    band_value) equi-join — a cartesian/nested-loop over the image
    signatures is exactly the all-pairs shape LSH banding exists to
    avoid; the Python stages are the two Arrow-batched codec maps
    (synth + ahash), nothing more."""
    df = q("q_dedup_phash", spark)
    used = joins_used(df)
    assert "CartesianProduct" not in used
    assert "BroadcastNestedLoopJoin" not in used
    assert used & {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"}
    plan = explain_str(df, "simple")
    # the two Arrow codec stages appear TWICE — once per side of the
    # band self-join (Spark recomputes unpersisted self-join inputs;
    # in production the 24-byte signature table is the PERSISTED
    # index, so the decode runs once at index-build time).  A fifth
    # instance would mean a new Python stage crept into the pipeline.
    assert plan.count("MapInPandas") == 4


def test_mmr_python_stage_is_group_sized(spark):
    """q_sim_rerank_mmr: the only Python stage is the per-query
    FlatMapGroupsInPandas over the 20-row shortlist groups; every
    window is qid-partitioned; no cartesian."""
    df = q("q_sim_rerank_mmr", spark)
    from skyhookdb_ceph_spark.plans.explain import (
        count_unpartitioned_windows,
    )

    plan = explain_str(df, "simple")
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert count_unpartitioned_windows(df) == 0


def test_interval_union_single_keyed_shuffle(spark):
    """q_win_interval_union: both windows and both aggregations ride
    ONE user_id partitioning — exactly one keyed Exchange, no global
    window, no join."""
    df = q("q_win_interval_union", spark)
    from skyhookdb_ceph_spark.plans.explain import (
        count_unpartitioned_windows,
    )

    plan = explain_str(df)
    assert plan.count("hashpartitioning(user_id") <= 1
    assert count_unpartitioned_windows(df) == 0
    assert "Join" not in explain_str(df, "simple")


# ---------------------------------------------------------------------------
# §2.25 round-13: probed interval grid + empty-rollup divergence pin
# ---------------------------------------------------------------------------


def test_interval_grid_probed_branch(spark):
    """Forced-zero per-cell target (floors the width at 60 s — the
    only way to force the fine branch at sf0.001's sparse rates): the
    probe must choose the FINE integer-second grid (unix_timestamp
    cell ids), the join must stay an equi join, and the
    responsibility filter must ride the same measured width — the
    grid analogue of test_width_probed_join_probed_branch."""
    from skyhookdb_ceph_spark.queries.joins import _interval_grid

    df = _interval_grid(spark, SF, target_pairs=0)
    plan = explain_str(df)
    assert "unix_timestamp" in plan  # fine-grid cell derivation
    assert "date_trunc" not in plan  # hour-grid path not taken
    used = joins_used(df)
    assert "BroadcastNestedLoopJoin" not in used
    assert "CartesianProduct" not in used


def test_interval_grid_plain_branch(spark):
    """Surrender branch, forced explicitly via an astronomically high
    per-cell budget (not via fixture density — a denser regenerated
    fixture would silently flip the shipped-target probe to the fine
    grid and fail a density pin even though behavior is correct,
    r13 ADVICE): the static hour grid means the date_trunc
    derivation and no unix_timestamp cells."""
    from skyhookdb_ceph_spark.queries.joins import _interval_grid

    plan = explain_str(_interval_grid(spark, SF, target_pairs=10**9))
    assert "date_trunc" in plan
    assert "unix_timestamp" not in plan


def test_interval_grid_branches_agree(spark):
    """Both grid widths must return identical pairs under the
    responsibility rule — the invariant that keeps the naive-theta
    oracle branch-invariant."""
    from skyhookdb_ceph_spark.queries.joins import _interval_grid

    fine = sorted(
        _interval_grid(spark, SF, target_pairs=0).collect()
    )
    coarse = sorted(
        _interval_grid(spark, SF, target_pairs=10**9).collect()
    )
    assert fine == coarse and len(fine) > 0


def test_measured_grid_cell_width_contract(spark):
    """w = sqrt(target / (ra * rb)) floored at floor_sec, None at
    coarse_sec or wider (caller keeps the static coarse grid) and on
    degenerate inputs (empty side / zero span)."""
    from pyspark.sql import functions as F

    from skyhookdb_ceph_spark.operators.stats import (
        measured_grid_cell_width,
    )

    # 1000 events over 100k s on each side: rate = 0.01/s each
    a = spark.range(1000).select(
        F.expr("timestamp_seconds(id * 100)").alias("ts")
    )
    b = spark.range(1000).select(
        F.expr("timestamp_seconds(id * 100 + 7)").alias("ts")
    )
    # target 100 pairs: w = sqrt(100 / 1e-4) = 1000 s
    w = measured_grid_cell_width(a, "ts", b, "ts", 100)
    assert w is not None and 990 <= w <= 1010
    # huge target -> width >= coarse_sec -> surrender
    assert measured_grid_cell_width(a, "ts", b, "ts", 10**9) is None
    # tiny target -> floored at floor_sec
    assert measured_grid_cell_width(a, "ts", b, "ts", 0) == 60
    # empty side -> None
    assert (
        measured_grid_cell_width(a.filter("false"), "ts", b, "ts", 100)
        is None
    )


def test_empty_rollup_pins_the_engine_divergence(spark):
    """The artifact exists BECAUSE Spark's grouped-aggregate-over-
    Expand yields zero groups on empty input where the standard emits
    the () grand-total row.  Pin both halves: the raw rollup returns
    0 rows (if a Spark upgrade ever adopts the standard the shipped
    idiom would double-count, and this assertion is the tripwire),
    and the shipped idiom restores exactly one all-NULL grand row."""
    from pyspark.sql import functions as F

    from skyhookdb_ceph_spark.queries._util import Catalog

    empty = Catalog(spark, SF).orders.filter("o_orderkey < 0")
    raw = (
        empty.rollup("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    assert raw == []  # the divergence itself (DuckDB: one row, cnt 0)
    rows = q("q_sql_empty_rollup", spark).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["o_orderpriority"] is None
    assert r["cnt"] == 0 and r["sum_price"] is None


def test_empty_rollup_predicate_reaches_scan(spark):
    """The provably-empty predicate must be a PushedFilter: the idiom's
    extra guard aggregate costs row-group metadata, not data pages."""
    assert has_pushed_filters(q("q_sql_empty_rollup", spark))


def test_knn_2bit_coarse_is_narrow_and_windows_partitioned(spark):
    """q_sim_knn_2bit: same plan contract as the 1-bit tier — every
    window qid-partitioned, bounded query set broadcasts, the float
    corpus never rides the L1 cross-score (only 6 BIGINT plane
    columns do), the rerank re-enters by vec_id equi-join, and the
    64-row threshold table is a broadcast join."""
    df = q("q_sim_knn_2bit", spark)
    from skyhookdb_ceph_spark.plans.explain import (
        count_unpartitioned_windows,
    )

    assert count_unpartitioned_windows(df) == 0
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    used = joins_used(df)
    assert used & {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"}
    simple = explain_str(df, "simple")
    assert "BatchEvalPython" not in simple  # packing is all JVM
    assert "ArrowEvalPython" not in simple


def test_2bit_recall_audit_shares_the_shipped_coarse_stage(spark):
    """q_sim_2bit_recall must measure the SHIPPED cascade: its plan
    contains the same broadcast query set + qid windows and no
    cartesian; the exact ground-truth pass is the bounded broadcast
    cross-score, like q_sim_binary_recall's."""
    df = q("q_sim_2bit_recall", spark)
    from skyhookdb_ceph_spark.plans.explain import (
        count_unpartitioned_windows,
    )

    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert count_unpartitioned_windows(df) == 0
