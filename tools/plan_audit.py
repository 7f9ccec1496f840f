#!/usr/bin/env python
"""Regenerate PLANS.md: annotated physical plans for the headline
queries — the evidence behind every scale claim (pushdown, pruning,
broadcast choice, partial aggregation, no-nested-loop band join).
With ``--digests``, write tests/plan_digests.json instead: one sha256
per batch query over its normalized optimized plan, which
tests/test_bench_gate.py checks so a change that moves code can show
it changed no plan.

    python tools/plan_audit.py [sf_dir]
    python tools/plan_audit.py --digests

Both outputs normalize the plan text (``normalize_plan``), so a second
run in a fresh process reproduces them byte for byte.  Run with the
repo on ``PYTHONPATH``: the Python DataSource workers of
``q_scan_pushdown_source`` import the package.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from skyhookdb_ceph_spark.plans.explain import count_unpartitioned_windows, explain_str
from skyhookdb_ceph_spark.queries import _util
from skyhookdb_ceph_spark.registry import load_all
from skyhookdb_ceph_spark.session import get_spark

DIGESTS = REPO / "tests" / "plan_digests.json"
SF_DIR = "/root/testdata/sf0.001"

AUDIT = {
    "q_agg_groupby": (
        "FLAGSHIP (TPC-H Q1 shape). Wanted: pushed timestamp filter, "
        "column-pruned scan, partial HashAggregate before the Exchange, "
        "final HashAggregate, single-partition sort (output is "
        "schema-bounded at 6 groups — no range-sampled global sort). "
        "The reference's per-object partials + client merge, planned "
        "automatically."
    ),
    "q_filter_range_conj": (
        "Q6-shape conjunction. Wanted: every predicate in PushedFilters "
        "(evaluated inside the scan — the engine's raison d'etre)."
    ),
    "q_scan_project": (
        "Projection. Wanted: ReadSchema with exactly 3 columns."
    ),
    "q_join_multiway": (
        "4-way star join. Wanted: tiny dims broadcast (no shuffle of "
        "the fact side for them), single shuffle for customer-orders."
    ),
    "q_join_theta": (
        "Band join. Wanted: bucketized EQUI-join (ShuffledHash/SortMerge/"
        "BroadcastHash on __bucket), residual band filter, NO "
        "BroadcastNestedLoopJoin."
    ),
    "q_topk": (
        "Top-k. Wanted: TakeOrderedAndProject (per-partition heaps, "
        "driver merges k rows), never a global sort."
    ),
    "q_sim_knn": (
        "Vector top-k. Wanted: 1-row broadcast of the query vector, "
        "JVM higher-order-function dot product, TakeOrderedAndProject."
    ),
    "q_dedup_fuzzy": (
        "MinHash LSH. Wanted: equi-joins only (band signatures, then "
        "doc_id lookups); no cartesian anywhere."
    ),
    "q_sim_knn_ivf": (
        "IVF-style ANN. Wanted: bucket equi-join against the 1-row "
        "broadcast query cell — only ~n/cells vectors scored."
    ),
    "q_tpch_q5": (
        "6-way composite join. Wanted: tiny dims broadcast, shuffles "
        "only on customer-orders-lineitem, partial agg before exchange."
    ),
    "q_pack_sequences": (
        "LLM sequence packing. Wanted: window Exchange is "
        "hashpartitioning(source) — never SinglePartition; the running "
        "sum pipelines over one per-source sort."
    ),
    "q_sample_weighted": (
        "Mixture reweighting. Wanted: rate table + corpus total reach "
        "the filter via BroadcastExchange; the corpus scan itself has "
        "no key shuffle."
    ),
    "q_mine_hardneg": (
        "Hard-negative mining. Wanted: LSH band equi-join for "
        "candidates (no CartesianProduct), skinny id pairs through the "
        "distinct, per-anchor window after a key shuffle on anchor_id."
    ),
    "q_curriculum_bins": (
        "Curriculum binning. Wanted: percentile boundaries as a "
        "mergeable aggregate broadcast back; per-row CASE assignment; "
        "no global window."
    ),
    "q_sim_knn_batch": (
        "Batch ANN. Wanted: query set via BroadcastExchange into a "
        "BroadcastNestedLoopJoin (deliberate — brute-force scoring of "
        "|Q| queries per corpus row, corpus side never shuffles; NO "
        "CartesianProduct), then only skinny triples exchange on "
        "query_id for the per-query top-k window."
    ),
    "q_dedup_passage": (
        "Passage dedup. Wanted: explode (pure map) -> partial/final "
        "HashAggregate on the block hash -> shuffled equi-join back on "
        "ph; no cartesian, no global window."
    ),
    "q_fn_histogram": (
        "Histogram. Wanted: integer bin key computed in the scan "
        "project, partial HashAggregate before a <=10-row Exchange; "
        "the share window runs on SinglePartition of aggregate rows "
        "only (bounded by bin count, not data)."
    ),
    "q_layout_zorder": (
        "Z-order layout keys. Wanted: Morton interleave as pure "
        "codegen'd int expressions in the scan project, partial "
        "HashAggregate before the Exchange on zrange."
    ),
    "q_ts_gapfill": (
        "Time-series gap-fill. Wanted: span-bound grid from a 1-row "
        "bounds broadcast (the only SinglePartition stage), hourly "
        "partial HashAggregate of raw events broadcast-joined to the "
        "grid, LOCF window partitioned by event_type — never global."
    ),
    "q_ts_downsample": (
        "OHLC downsampling. Wanted: one Exchange on (event_type, "
        "bucket); both row_number windows and the final aggregate "
        "reuse that partitioning; no SinglePartition anywhere."
    ),
    "q_join_nearest": (
        "Nearest-event join. Wanted: user_id equi-join (hash/sort-"
        "merge) with the ±6h band as residual filter — no nested "
        "loop; per-click argmin window partitioned by click_id."
    ),
    "q_vocab_pairs": (
        "Tokenizer pair mining. Wanted: pair explode as pure map, "
        "partial HashAggregate on the pair key, TakeOrderedAndProject "
        "for the top-20 — the full pair vocabulary is never sorted."
    ),
    "q_tpch_q1": (
        "TPC-H Q1. Wanted: pushed shipdate filter, partial "
        "HashAggregate of all 8 aggregates before a 6-row Exchange, "
        "final HashAggregate + sort."
    ),
    "q_tpch_q6": (
        "TPC-H Q6. Wanted: date + discount + quantity ALL in "
        "PushedFilters; 1-row partial/final aggregate, no shuffle of "
        "data rows."
    ),
    "q_tpch_q12": (
        "TPC-H Q12 shape. Wanted: fact-fact SortMergeJoin on the "
        "orderkey (no broadcast of a scaling side), late-shipment "
        "residual filter, conditional counts in ONE partial aggregate."
    ),
    "q_filter_bloom": (
        "Bloom pre-join. Wanted: three BroadcastExchange + LEFT SEMI "
        "BroadcastHashJoins on bit positions; the lineitem side has NO "
        "Exchange before the final count — the probe never shuffles "
        "the fact table."
    ),
    "q_agg_countmin": (
        "Count-Min sketch. Wanted: explode (pure map) then partial "
        "HashAggregate into a <=128-row Exchange; probes join the "
        "sketch via BroadcastHashJoin."
    ),
    "q_ts_asof_interp": (
        "Linear interpolation. Wanted: ONE Exchange on user_id serving "
        "all four window frames over a single per-user sort; no "
        "SinglePartition window."
    ),
    "q_win_cume_dist": (
        "Distribution windows. Wanted: window Exchange is "
        "hashpartitioning(c_nationkey) — never SinglePartition."
    ),
    "q_tpch_q19": (
        "Disjunctive predicates. Wanted: implied ranges (l_quantity, "
        "p_size) derived from the OR and visible in PushedFilters of "
        "both scans; full disjunction evaluated post-join."
    ),
    "q_tpch_q8": (
        "7-way market share. Wanted: every dim filter (region, "
        "p_type) pruned before the fact shuffles; dims broadcast; one "
        "grouped aggregate computes both share sums."
    ),
    "q_tpch_q13": (
        "Left join + histogram. Wanted: the o_orderpriority predicate "
        "stays IN the join condition (zero-order customers preserved); "
        "two stacked HashAggregates."
    ),
    "q_stats_profile": (
        "Table profile. Wanted: ONE scan computing all 20 aggregate "
        "states (no per-column re-scan), stack() Generate on the "
        "1-row aggregate."
    ),
    "q_text_proximity": (
        "Proximity search. Wanted: the term filter lands on the "
        "exploded postings BEFORE any exchange; per-doc pair join is "
        "an equi-join on doc_id."
    ),
    "q_agg_retention_bitmap": (
        "Activity bitmaps. Wanted: partial bit_or before the "
        "user-keyed Exchange — event volume collapses map-side."
    ),
    "q_join_scd2": (
        "SCD2 temporal join. Wanted: custkey equi key + validity "
        "range residual; no nested loop over dimension versions."
    ),
    "q_join_spatial_grid": (
        "2-D close pairs. Wanted: bounded 3x3 probe explode, then an "
        "equi-join on the cell coordinates — never an all-pairs "
        "distance predicate."
    ),
    "q_join_bucketed": (
        "Bucketed co-located join. Wanted: SortMergeJoin with NO "
        "Exchange on either side (bucket metadata satisfies the "
        "distribution requirement)."
    ),
    "q_gdpr_delete": (
        "Deletion propagation. Wanted: deletion list broadcast; the "
        "event log reaches the audit aggregate without a key shuffle."
    ),
    "q_stats_constraints": (
        "Constraint audit. Wanted: the three column rules in ONE "
        "orders scan (stacked out of a single aggregate); FK orphans "
        "via broadcast left join."
    ),
    "q_join_dpp": (
        "Star-join DPP. Wanted: dynamicpruningexpression on the fact "
        "scan's PartitionFilters — the dim join decides fact IO at "
        "runtime (asserted in tests/test_plans.py)."
    ),
    "q_tpch_q2": (
        "Q2 correlated-MIN decorrelation. Wanted: per-part Window min "
        "over the candidate set computed ONCE (no second ps-bridge "
        "scan); EU supplier dim as BroadcastHashJoin."
    ),
    "q_tpch_q11": (
        "Q11 scalar-subquery threshold. Wanted: the 1-row total joins "
        "BACK by broadcast; threshold compare in exact integer cents."
    ),
    "q_tpch_q16": (
        "Q16 NOT-IN exclusion. Wanted: LEFT ANTI against the broadcast "
        "excluded-supplier list; brand/type/size in PushedFilters; "
        "two-phase distinct count."
    ),
    "q_tpch_q21": (
        "Q21 EXISTS + NOT EXISTS pair. Wanted: LEFT SEMI and LEFT ANTI "
        "both keyed on l_orderkey (residual suppkey/date conditions); "
        "no BroadcastNestedLoopJoin anywhere."
    ),
    "q_data_split": (
        "Deterministic hash split. Wanted: split expression codegen'd "
        "into the scan's Project; partial_count before ONE keyed "
        "Exchange."
    ),
    "q_agg_median_exact": (
        "Two-pass exact median. Wanted: bucket HashAggregate "
        "(map-combined) feeding a tiny-window prefix sum; the only "
        "row-level Window partitioned by bkt; NO TakeOrdered/global "
        "Sort over base rows."
    ),
    "q_sql_exists_flag": (
        "EXISTS-as-value. Wanted: ExistenceJoin (keyed mark join); "
        "no per-row subquery, no nested loop."
    ),
    "q_sql_lateral": (
        "LATERAL + ORDER BY/LIMIT. Wanted: decorrelated to a keyed "
        "join + per-key rank filter (Window/Filter), not per-row "
        "subquery execution."
    ),
    "q_win_peak_concurrency": (
        "Sweep-line concurrency. Wanted: in-day running-sum Window "
        "partitioned by (event_type, blk); cross-day carry only over "
        "the (type, day) summary; peak joined back by broadcast."
    ),
    "q_pipeline_e2e": (
        "Whole curation pipeline in ONE plan. Wanted: length filter "
        "below the dedup semi join; digest agg + final split agg each "
        "a partial/final HashAggregate pair; no materialized "
        "intermediate anywhere."
    ),
    "q_join_null_skew": (
        "Null-key bypass. Wanted: simplified not-null condition "
        "before the join exchange; Union merging the bypass branch."
    ),
    "q_win_trailing_hour": (
        "Day-blocked trailing RANGE window (r7). Wanted: Union of "
        "real + boundary-ghost rows; the window Exchange keyed on "
        "(event_type, blk) — never event_type alone (one task per "
        "type at 100 TB); emit filter ABOVE the Window (ghosts "
        "contribute to frames, then drop)."
    ),
    "q_agg_skew_adaptive": (
        "Skew-probe-driven aggregation (r7). Wanted on the skewed "
        "fixture key: TWO HashAggregate pairs with the first "
        "Exchange keyed on (event_type, __salt) and the second on "
        "event_type — the measured probe routed the hot key across "
        "salt tasks (plain branch asserted separately in "
        "tests/test_plans.py)."
    ),
    "q_dedup_containment": (
        "Containment dedup (r7). Wanted: rare-shingle inverted-index "
        "candidates via equi-joins only — no CartesianProduct, no "
        "BroadcastNestedLoopJoin anywhere; the df<=5 cap's count "
        "partial-aggregates before its exchange; exact containment "
        "verified on the candidate set, never all pairs."
    ),
    "q_agg_hll_merge": (
        "Mergeable HLL sketch state (r7). Wanted: hll_sketch_agg and "
        "hll_union_agg both inside partial/final HashAggregates "
        "(fixed-size binary state shuffles, never rows); the per-day "
        "sketch side re-joins as a broadcast."
    ),
    "q_win_density_blocks": (
        "Density-probed window-block planning (r9). Wanted on the "
        "fixture density: ghost-row Union present and the window "
        "exchange keyed on (event_type, blk) — the probe-measured "
        "block decomposition (plain branch asserted separately in "
        "tests/test_plans.py)."
    ),
    "q_gdpr_anonymize": (
        "k-anonymity ladder (r9). Wanted: the three generalization "
        "levels reach the records as BroadcastHashJoins of "
        "domain-bounded aggregates — no Window over the record "
        "stream, no SortMergeJoin, zero fact shuffles."
    ),
    "q_join_width_probed": (
        "Probe-driven shuffle width (r10). Wanted at fixture scale: "
        "the probe says the input fits one task, so the planner "
        "default (no REPARTITION_BY_NUM) — the probed branch with "
        "its two explicit exchanges and no further join exchange is "
        "asserted in tests/test_plans.py."
    ),
    "q_text_rerank": (
        "Two-stage retrieval (r10). Wanted: stage-1 BM25 postings "
        "filtered at the explode; the k=20 candidate list broadcasts "
        "and the corpus streams through a BroadcastHashJoin (text "
        "never shuffles); both top-k cuts fuse to "
        "TakeOrderedAndProject."
    ),
    "q_text_quality_cascade": (
        "Quality cascade (r10). Wanted: ONE Project over the scan — "
        "the stage-2 bigram feature lives inside a lazy CASE WHEN "
        "branch; zero exchanges, no routing join or second pass."
    ),
    "q_dedup_agreement": (
        "Dedup-method agreement audit (r10). Wanted: both pair "
        "generators stay LSH-bucketed equi-joins (no cartesian; the "
        "only nested loops are 1-row nb config cross-joins); the "
        "agreement join is a FullOuter SortMergeJoin keyed on the id "
        "pair — pair-count-sized input, one output row."
    ),
    "q_scan_bucket_prune": (
        "Bucket-pruned point read (r10). Wanted: SelectedBucketsCount "
        "strictly below the bucket total with the IN filter still "
        "pushed — the layout, not an index, prunes the files."
    ),
    "q_win_event_pattern": (
        "Event-sequence pattern match (r10). Wanted: ONE keyed "
        "aggregate builds the per-user symbol string; the funnel "
        "regex is per-row JVM work above it — no join chain, no "
        "window over raw events, no Python."
    ),
    "q_agg_incremental_merge": (
        "Incremental aggregate maintenance (r10). Wanted: the final "
        "answer reads the groups-sized persisted state + a delta scan "
        "whose ts >= cut filter is PUSHED — never a rescan of base "
        "history."
    ),
    "q_gdpr_crypto_shred": (
        "Crypto-shredding erasure (r10). Wanted: per-user keys reach "
        "the ciphertexts as a BroadcastHashJoin; aesEncrypt/aesDecrypt "
        "under tryeval (NULL, never an error, for the shredded "
        "cohort); no Python, no sort-merge."
    ),
    "q_dedup_incremental": (
        "Incremental near-dup admission (r10). Wanted: delta "
        "signatures equi-join the persisted bucketed index ONCE, "
        "eagerly (the checkpointed pairs read back as Scan "
        "ExistingRDD[da, db]); exact verify bounded to candidates via "
        "a semi-join on the base side; no cartesian anywhere."
    ),
    "q_join_broadcast_probed": (
        "Measured broadcast choice (r10). Wanted at fixture scale: "
        "the probed payload fits the 10 MB budget, so "
        "BroadcastHashJoin with the fact side unshuffled (the "
        "over-budget shuffle branch is plan-asserted separately in "
        "tests/test_plans.py)."
    ),
    "q_vec_ivf_incremental": (
        "Append-only IVF maintenance (r10). Wanted: the census reads "
        "the READ-BACK partitioned layout (one scan of the appended "
        "tree) — cell-bounded aggregate, no window, no join."
    ),
    "q_dedup_substring": (
        "Exact-substring span dedup (r11). Wanted: ONE parquet scan "
        "(the v1 groupBy+join-back form scanned and exploded the "
        "position subtree twice — measured superlinear, BASELINE.md "
        "§L.6), gram frequency as a COUNT window (sort-based, "
        "spill-bounded) over one corpus-sized Exchange on the gram "
        "hash, then the doc-keyed interval-merge window, no join, no "
        "cartesian, ReadSchema pruned to (doc_id, text)."
    ),
    "q_dedup_minhash_recall": (
        "Measured LSH recall audit (r11). Wanted: the 1-row corpus "
        "count broadcast (sample modulus), the permissive r=1 band "
        "equi-join as the only pair generator (no cartesian), and "
        "SortMergeJoin on both pair-feature lookups — the shingle "
        "subtree must never broadcast (Catalyst underestimates it; "
        "the sf10 smoke OOMed the driver before the merge hints)."
    ),
    "q_scan_shared": (
        "Multi-screen shared scan (r11). Wanted: exactly ONE Scan "
        "parquet node for all five curation screens (conditional "
        "aggregates in one whole-stage-codegen pass), ReadSchema "
        "pruned to the referenced columns."
    ),
    "q_transform_strip_dup_spans": (
        "Span-removal transform (r11). Wanted: the audit's span "
        "subtree feeding a doc-keyed collect_list + ONE aggregate() "
        "fold projection (map-shaped rebuild, no per-char explosion), "
        "left join keeping no-dup docs, no cartesian."
    ),
    "q_transform_dedup_corpus": (
        "Whole-doc dedup ACTION (r12). Wanted: the shared LSH pair / "
        "label derivation, then exactly ONE cluster-keyed Exchange "
        "feeding ONE Window node (row_number + first_value share the "
        "window spec), no cartesian — survivor selection adds one "
        "keyed shuffle beyond the labels, nothing more."
    ),
    "q_pipeline_e2e_v2": (
        "Recomposed curation pipeline (r12). Wanted: exactly TWO Scan "
        "parquet nodes total — the main pass (digest row_number + "
        "cascade screens + split bucket all ride one scan before the "
        "single derived-key digest Exchange) and the span census's "
        "narrow doc_id+text projection; WindowGroupLimit present (the "
        "rn=1 dedup filter pruning duplicates map-side BEFORE the "
        "digest shuffle); four Windows (digest rank, gram count, "
        "interval-merge max, group-id sum); no cartesian."
    ),
    "q_sample_token_budget": (
        "Token-budgeted sampler (r12). Wanted: the greedy-prefix "
        "cumsum window partitioned on (source, bucket) — k parallel "
        "bounded windows, NEVER a source-global running sum — then "
        "the per-source census aggregate; bucket key derived from the "
        "HIGH bits of the overflow-guarded Knuth product."
    ),
    "q_transform_dedup_weights": (
        "Count-preserving dedup (r12). Wanted: survivor rank and "
        "cluster-size weight sharing ONE cluster-keyed Exchange (both "
        "window functions ride the same partition), no cartesian."
    ),
    "q_sim_knn_binary": (
        "Binary-quantized ANN (r12 second wave). Wanted: signature "
        "packing as a JVM aggregate fold in the scan-side Project; "
        "the bounded query set broadcast (BroadcastExchange); the "
        "Hamming cross-score carrying ONLY (qid, vec_id, two BIGINT "
        "sigs) — no embedding column through the candidate window; "
        "qid-partitioned windows both stages; the exact rerank "
        "re-entering the corpus via a hash EQUI join on vec_id."
    ),
    "q_sim_maxsim": (
        "Late-interaction MaxSim (r12 second wave). Wanted: the "
        "whole 4x4 sub-vector MaxSim as ONE Project expression "
        "(16 aggregate folds + greatest + sum) inside WholeStageCodegen "
        "— no Python evaluator, no explode; broadcast query set; "
        "qid-partitioned top-k window."
    ),
    "q_stats_ks_drift": (
        "Two-sample KS (r12 second wave). Wanted: distributed "
        "prefix-sum shape — per-value HashAggregate with map-side "
        "partial, bucket-partitioned cumulative Window, the ONLY "
        "global window being the bucket-offset carry over price-band "
        "summary rows (bounded by range/width), offsets broadcast "
        "back, final max a plain aggregate."
    ),
    "q_agg_mutual_info": (
        "Token-label MI (r12 second wave). Wanted: document text "
        "read by EXACTLY ONE scan (the presence explode); lang "
        "census scans pruned to the lang column; token totals via a "
        "tok-partitioned Window (no join-back, no second text scan); "
        "the absent-cell correction folded into the same aggregate."
    ),
    "q_vec_ood_filter": (
        "Embedding OOD gate (r12 second wave). Wanted: exploded "
        "derivation end-to-end — centroid and stat tables broadcast "
        "(BroadcastHashJoin), corpus-sized shuffles only the "
        "(label,pos) and vec_id aggregations, no array rebuild, no "
        "Python, no global window."
    ),
    "q_join_interval_grid": (
        "Grid interval-overlap join (r12 second wave; r13: cell "
        "width PROBED from measured arrival rates, surrendering to "
        "the static hour grid when per-cell work is under target — "
        "fixture densities land there, so this plan shows the "
        "hour-grid branch; the fine-grid branch is pinned in "
        "tests/test_plans.py::test_interval_grid_probed_branch). "
        "Wanted: the overlap theta-join executed as an EQUI join on "
        "the cell (hash join — broadcast at fixture scale, shuffled "
        "at scale), never BroadcastNestedLoopJoin/CartesianProduct; "
        "explode = the grid replication; responsibility filter after "
        "the join."
    ),
    "q_sim_knn_2bit": (
        "2-bit thermometer-code ANN tier (r13, §2.25). Wanted: the "
        "posexplode packing aggregation all-JVM (no Python stage); "
        "the 64-row quartile-threshold table a broadcast join; the "
        "bounded query set broadcast into a narrow plane-column "
        "cross-score (float corpus never rides it); qid-partitioned "
        "candidate window; rerank re-enters by vec_id equi-join."
    ),
    "q_sql_empty_rollup": (
        "Empty-input ROLLUP divergence pin + idiom (r13, §2.25). "
        "Wanted: the provably-empty predicate as a PushedFilter on "
        "BOTH aggregates' scans (idiom overhead = row-group metadata "
        "only); the rollup side an Expand -> HashAggregate; the "
        "guard side a plain two-phase global HashAggregate with the "
        "cnt = 0 filter ABOVE it; Union of the two."
    ),
    "q_dedup_phash": (
        "Perceptual-hash image dedup (r12 second wave, v2 after the "
        "measured 100x GC kill). Wanted: two Arrow codec stages per "
        "self-join side (MapInPandas x4, signatures only leaving "
        "Python); the exact-signature groupBy partial-aggregating "
        "BEFORE the band join (cluster collapse = the scale fix); "
        "candidates from the (band, value) hash equi-join over "
        "DISTINCT signatures; no cartesian."
    ),
    "q_stream_drift": (
        "Windowed JS drift monitor (r12 second wave). Wanted: ONE "
        "tumbling (window, type) aggregation as the stateful core "
        "(the shared batch/stream op); the 5-row reference profile "
        "broadcast; the JS assembly running on the window-grid rows, "
        "never corpus-sized; no global window."
    ),
    "q_sim_maxsim_pruned": (
        "Composed PLAID cascade (r12 second wave). Wanted: the "
        "q_sim_knn_binary coarse stage verbatim (broadcast query "
        "set, narrow Hamming cross-score, qid window), then the "
        "16-fold MaxSim Project over ONLY the 100-row-per-query "
        "shortlist after the vec_id equi-join-back; no Python, no "
        "cartesian, no global window."
    ),
    "q_sim_rerank_mmr": (
        "MMR diversification (r12 second wave). Wanted: exactly ONE "
        "FlatMapGroupsInPandas (the per-query greedy walk over the "
        "20-row shortlist group — the designed applyInPandas use for "
        "an inherently sequential recurrence); relevance cosines "
        "computed JVM-side BEFORE the Python stage; qid-partitioned "
        "windows; no cartesian."
    ),
    "q_win_interval_union": (
        "Per-key interval union (r12 second wave). Wanted: both "
        "sweep windows (running max-end, island cumsum) and both "
        "aggregations riding ONE user_id hashpartitioning — a single "
        "keyed Exchange in the whole plan; no join; no global "
        "window; pure BIGINT micros arithmetic in the Projects."
    ),
}


def audited_frame(spark, name: str, sf_dir: str):
    """The frame query `name` ran.  A query that ends in
    `return collect_local(frame)` returns a LocalRelation whose plan is
    one LocalTableScan, so for it `frame` — the work the query ran — is
    returned instead.  Every module's bound `collect_local` records
    what it collected for the one call."""
    specs = load_all()  # imports the modules that bind collect_local
    orig = _util.collect_local
    collected = {}

    def recording(df):
        local = orig(df)
        collected[id(local)] = (local, df)
        return local

    binders = [
        m for m in list(sys.modules.values())
        if getattr(m, "collect_local", None) is orig
    ]
    for m in binders:
        m.collect_local = recording
    try:
        out = specs[name].fn(spark, sf_dir)
    finally:
        for m in binders:
            m.collect_local = orig
    local, frame = collected.get(id(out), (None, None))
    return frame if local is out else out


def audited_plan(spark, name: str, sf_dir: str) -> str:
    """The formatted physical plan of `audited_frame`."""
    return explain_str(audited_frame(spark, name, sf_dir), "formatted")


def _split_top(s: str) -> list[str]:
    """Split `s` on the commas outside any brackets or parentheses."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
    items.append(s[start:].strip())
    return items


def _bracket_lists(s: str) -> list[tuple[int, int]]:
    """(start, end) of each top-level [...] in `s`, brackets included."""
    spans, depth = [], 0
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                spans.append((start, i + 1))
    return spans


def _sorted_lists(line: str) -> str:
    """`line` with the items of each top-level [...] list sorted."""
    out, pos = [], 0
    for a, b in _bracket_lists(line):
        items = ", ".join(sorted(_split_top(line[a + 1 : b - 1])))
        out += [line[pos:a], f"[{items}]"]
        pos = b
    return "".join(out) + line[pos:]


def _canonical_distinct_groups(text: str) -> str:
    """Mask the order Spark's distinct-aggregate rewrite picks.

    The rewrite numbers its groups (`gid`) and orders the columns of
    its `Expand` and of the grouping `Aggregate` above it by
    expression-id hashes, so the same query lists them in another order
    in another process.  Each group is renumbered by the sorted set of
    expressions its `Expand` projection keeps, every `gid# = k` above
    that `Expand` follows the new numbers, and the rewrite's column
    lists are sorted."""
    lines = text.split("\n")
    done = 0
    for i, line in enumerate(lines):
        head = line.find("Expand [[")
        spans = _bracket_lists(line[head:]) if head >= 0 else []
        if len(spans) != 2 or not line.endswith(", gid#]"):
            continue
        (a, b), (c, d) = spans
        rows = [_split_top(r[1:-1]) for r in _split_top(line[head + a + 1 : head + b - 1])]
        cols = _split_top(line[head + c + 1 : head + d - 1])
        keys = {r[-1]: tuple(sorted(x for x in r[:-1] if x != "null")) for r in rows}
        order = sorted(set(keys.values()))
        if len(order) != len(rows):
            continue
        canon = {gid: str(order.index(k)) for gid, k in keys.items()}
        rows = sorted("[" + ", ".join(sorted(r[:-1]) + [canon[r[-1]]]) + "]" for r in rows)
        cols = sorted(cols[:-1]) + cols[-1:]
        lines[i] = f"{line[:head]}Expand [{', '.join(rows)}], [{', '.join(cols)}]"
        for j in range(done, i):
            lines[j] = re.sub(
                r"gid# = (\d+)", lambda m: f"gid# = {canon.get(m.group(1), m.group(1))}", lines[j]
            )
            if "Aggregate [" in lines[j] and "gid#]," in lines[j]:
                lines[j] = _sorted_lists(lines[j])
        done = i + 1
    return "\n".join(lines)


def normalize_plan(text: str, parallelism: int) -> str:
    """Plan text with the parts that vary between runs of the same code
    masked: expression ids and plan ids, scratch paths under /dev/shm
    and /tmp, pid-named prefixes, 8-hex uuid suffixes of per-run table
    names, the `ensure_parallelism` width `parallelism` (the session's
    defaultParallelism) in `Repartition <n>, true`, and the group order
    of the distinct-aggregate rewrite (`_canonical_distinct_groups`)."""
    text = re.sub(r"#\d+", "#", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    text = re.sub(r"(?:file:)?/(?:dev/shm|tmp)/[^\s,\]\)]*", "<scratch>", text)
    text = re.sub(rf"_{os.getpid()}(?=_|\b)", "_<pid>", text)
    text = re.sub(r"_[0-9a-f]{8}\b", "_<uuid>", text)
    text = text.replace(f"Repartition {parallelism}, true", "Repartition <P>, true")
    return _canonical_distinct_groups(text)


def batch_queries() -> list[str]:
    """Every registered query except the live-stream drains (each build
    starts a fresh stream pipeline), in name order, so a run does not
    depend on module layout."""
    return sorted(n for n, s in load_all().items() if "live-stream" not in s.tags)


def plan_digest(df, parallelism: int) -> str:
    """sha256 of the normalized optimized logical plan of `df`, printed
    with no field-list truncation."""
    plan = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    text = plan.treeString(True, False, 2**31 - 1, False, False)
    return hashlib.sha256(normalize_plan(text, parallelism).encode()).hexdigest()


def audit_registry() -> tuple[int, dict[str, tuple[int, str]]]:
    """Build every batch query once at SF_DIR, in a session this
    process starts, and return the session's defaultParallelism and,
    per query, the count of unpartitioned windows and the plan digest
    of its audited frame."""
    spark = get_spark(app_name="plan_audit", shuffle_partitions=8)
    parallelism = spark.sparkContext.defaultParallelism
    audit = {}
    for name in batch_queries():
        df = audited_frame(spark, name, SF_DIR)
        audit[name] = (count_unpartitioned_windows(df), plan_digest(df, parallelism))
    return parallelism, audit


def write_digests() -> None:
    """Write DIGESTS from a fresh `audit_registry`."""
    parallelism, audit = audit_registry()
    live = sorted(n for n, s in load_all().items() if "live-stream" in s.tags)
    DIGESTS.write_text(json.dumps({
        "about": "sha256 of each batch query's normalized optimized plan "
                 "(tools/plan_audit.py --digests); collect_local queries "
                 "digest the collected frame",
        "sf_dir": SF_DIR,
        "default_parallelism": parallelism,
        "left_out": {"reason": "live-stream drains start a fresh stream "
                               "pipeline per build", "queries": live},
        "digests": {n: d for n, (_, d) in audit.items()},
    }, indent=1) + "\n")
    print(f"wrote {DIGESTS.relative_to(REPO)}: {len(audit)} digests")


def main() -> int:
    if sys.argv[1:] == ["--digests"]:
        write_digests()
        return 0
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    spark = get_spark(app_name="plan_audit", shuffle_partitions=8)
    parallelism = spark.sparkContext.defaultParallelism
    out = [
        "# PLANS — physical-plan audit",
        "",
        "Generated by `tools/plan_audit.py` (re-run after plan-affecting",
        f"changes); formatted plans at `{sf_dir}`.  Each section states",
        "what the plan MUST look like for the 100 TB story to hold —",
        "tests/test_plans.py asserts the same properties mechanically.",
        "Expression ids, scratch paths, pids and per-run table suffixes",
        "are masked (`normalize_plan`), so a re-run diffs only real changes.",
        "",
    ]
    for name, want in AUDIT.items():
        plan = normalize_plan(audited_plan(spark, name, sf_dir), parallelism)
        out += [f"## {name}", "", want, "", "```", plan.strip(), "```", ""]
    (REPO / "PLANS.md").write_text("\n".join(out))
    print("wrote PLANS.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
