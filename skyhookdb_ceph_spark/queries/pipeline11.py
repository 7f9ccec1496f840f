"""Round-10 wave (SURVEY.md §2.21).

Closing the r9 verdict's stretch items:

1. q_join_width_probed — the fourth consumer of the measured-stats
   machinery (r9 verdict item 8): a fact-fact equi-join whose keyed
   exchange width (numPartitions) is computed from a 1-row count
   probe (operators/stats.measured_shuffle_width) instead of the
   session-static spark.sql.shuffle.partitions, falling back to the
   planner's default plan when the measured input fits one task.
   Both branches return identical rows; the oracle is the plain join
   and never needs to know which branch ran.  Both plan shapes are
   pinned in tests/test_plans.py.

House rules unchanged: identical aliases both sides, deterministic
everything, no all-pairs, no corpus-sized collect() — the probes'
driver-side materializations are one row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators.stats import measured_shuffle_width
from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    collect_local,
    money,
    quantize,
    scratch,
)
from skyhookdb_ceph_spark.registry import query


# ---------------------------------------------------------------------------
# §2.21.1 probe-driven shuffle-partition count for a keyed join
# ---------------------------------------------------------------------------

_WIDTH_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
  floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

_WIDTH_TARGET_ROWS = 16384


def _width_probed_join(spark, sf_dir, target_rows):
    """Shared body so tests can force either branch via target_rows
    (tiny target -> probed explicit width; huge target -> planner
    default)."""
    c = Catalog(spark, sf_dir)
    li = c.lineitem.select("l_orderkey", "l_quantity")
    o = c.orders.select("o_orderkey", "o_orderpriority")
    width = measured_shuffle_width(li, target_rows)
    if width is None:
        # planner default: input fits one task's budget, the exchange
        # cost is noise and an explicit repartition only adds nodes
        joined = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    else:
        # both sides repartitioned to the MEASURED width on the join
        # key: EnsureRequirements sees the children co-partitioned and
        # adds NO further exchange — the join's shuffle now has an
        # input-proportional task count instead of the session-static
        # spark.sql.shuffle.partitions.  shuffle_hash hint because the
        # branch models the fact-fact case (at 100 TB neither side
        # broadcasts); at fixture scale the planner would otherwise
        # broadcast orders and strand both repartitions as dead cost
        joined = li.repartition(width, "l_orderkey").join(
            o.repartition(width, "o_orderkey").hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            money(F.sum("l_quantity")).alias("sum_qty"),
        )
        # output cardinality is SCHEMA-bounded (5 priorities at any
        # scale factor): q_agg_groupby's bounded-tail precedent
        .coalesce(1)
        .sortWithinPartitions("o_orderpriority")
    )


@query(
    "q_join_width_probed",
    oracle=_WIDTH_ORACLE,
    tags=("join", "scale-design", "stats-driven"),
)
def q_join_width_probed(spark, sf_dir):
    """Fact-fact equi-join whose keyed-exchange width is computed from
    a measured row-count probe — the shuffle-sizing consumer of the
    measured-statistics machinery (after the agg/join skew branches
    and the window density blocks).

    `spark.sql.shuffle.partitions` is ONE static number for every
    exchange in the session; at 100 TB the lineitem-orders shuffle
    wants tens of thousands of tasks while a dimension shuffle in the
    same session wants dozens.  The probe (one count() job — column
    pruning makes it read row-group metadata, no data pages) sizes
    THIS exchange at ceil(rows / target_rows_per_task); both join
    inputs are repartitioned to that width on the join key, so
    EnsureRequirements sees them co-partitioned and the join itself
    adds no further exchange (plan-asserted).  When the measured input
    fits one task the planner's default plan is kept — both branches
    are row-identical, so the oracle is branch-invariant.  AQE's
    coalescing only merges a too-wide shuffle downward; it can never
    split an undersized one, which is exactly the failure the probe
    prevents."""
    return _width_probed_join(spark, sf_dir, _WIDTH_TARGET_ROWS)


# ---------------------------------------------------------------------------
# §2.21.5 bucket-pruned point read over a bucketed table
# ---------------------------------------------------------------------------

_BUCKET_PRUNE_KEYS = (1, 5, 13)
_BUCKET_PRUNE_N = 16

_BUCKET_PRUNE_ORACLE = f"""
SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
  floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS spend
FROM orders WHERE o_custkey IN {_BUCKET_PRUNE_KEYS}
GROUP BY o_custkey ORDER BY o_custkey
"""


@query(
    "q_scan_bucket_prune",
    oracle=_BUCKET_PRUNE_ORACLE,
    tags=("scan", "layout", "scale-design"),
)
def q_scan_bucket_prune(spark, sf_dir):
    """Bucket-PRUNED point read: the read-side payoff of the bucketed
    layout that q_join_bucketed pays for at write time.  A key-equality
    (or IN-list) predicate on the bucket column lets the scan open
    ONLY the buckets those keys hash to — the plan's FileSourceScan
    shows `SelectedBucketsCount: k out of 16` (plan-asserted in
    tests/test_bucketing.py) — so a point lookup over a 100 TB
    bucketed fact touches 1/16th of the files per key with ZERO index
    structures, just the layout.  This is the q_scan_partition_prune
    story on a HASHED key (high-cardinality ids that would explode a
    hive partition tree into millions of directories bucket cleanly
    into a fixed file count).  The pushed IN-filter still applies
    within the surviving buckets.  Oracle reads the plain parquet —
    layout must never change results."""
    from skyhookdb_ceph_spark.operators.bucketing import (
        write_bucketed_scoped,
    )

    c = Catalog(spark, sf_dir)
    tbl = write_bucketed_scoped(
        c.orders.select("o_custkey", "o_totalprice"),
        "bp_orders",
        ["o_custkey"],
        _BUCKET_PRUNE_N,
    )
    t = spark.table(tbl)
    return (
        t.filter(F.col("o_custkey").isin(*_BUCKET_PRUNE_KEYS))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("spend"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# §2.21.6 event-sequence pattern matching (MATCH_RECOGNIZE-style funnel)
# ---------------------------------------------------------------------------

_PATTERN = "s[vc]*p"  # signup -> (view|click)* -> purchase, contiguous

_PATTERN_ORACLE = f"""
WITH s AS (
  SELECT user_id,
    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id)
SELECT user_id, CAST(length(seq) AS INT) AS seq_len,
  CAST(len(regexp_extract_all(seq, '{_PATTERN}')) AS INT) AS n_funnels,
  CASE WHEN len(regexp_extract_all(seq, '{_PATTERN}')) > 0 THEN 1 ELSE 0 END
    AS has_funnel
FROM s ORDER BY user_id
"""


@query(
    "q_win_event_pattern",
    oracle=_PATTERN_ORACLE,
    tags=("window", "pipeline", "scale-design"),
)
def q_win_event_pattern(spark, sf_dir):
    """MATCH_RECOGNIZE-style event-sequence pattern matching: per user,
    the time-ordered event stream compiles to a compact symbol string
    (one char per event) and the funnel 'signup -> (view|click)* ->
    purchase, uninterrupted' becomes the REGEX s[vc]*p counted
    non-overlapping per user — the complex-event-processing shape that
    q_agg_funnel's fixed-stage count and q_win_sessionize's gap rule
    cannot express (arbitrary repetition + interruption semantics in
    one pattern).

    Scale shape: ONE keyed aggregate builds the per-user string
    (collect_list -> sort_array for a deterministic (ts, event_id)
    order — the q_win_sessionize per-key-bounded-history argument: a
    user's event count is human-bounded at any corpus size, so the
    per-key string is KB-sized while the corpus is 100 TB), then the
    regex runs ONCE per user on the compact string, JVM-side — no
    self-join chain (the k-stage-join funnel alternative multiplies
    the fact table k times), no window over raw events, no Python.
    Tie order pinned by (ts, event_id) in both engines."""
    e = Catalog(spark, sf_dir).events
    seq = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda x: x["c"],
            ),
            "",
        ).alias("seq")
    )
    n = F.size(F.regexp_extract_all("seq", F.lit(_PATTERN), F.lit(0)))
    return seq.select(
        "user_id",
        F.length("seq").cast("int").alias("seq_len"),
        n.cast("int").alias("n_funnels"),
        F.when(n > 0, 1).otherwise(0).alias("has_funnel"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# §2.21.7 incremental aggregate maintenance (merge state, not rescan)
# ---------------------------------------------------------------------------

_IVM_CUT = "2024-01-20"

_IVM_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  floor((sum(value)) * 1000000 + 0.5) / 1000000 AS total,
  floor((sum(value) / count(*)) * 1000000 + 0.5) / 1000000 AS avg_value
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(
    "q_agg_incremental_merge",
    oracle=_IVM_ORACLE,
    tags=("aggregate", "scale-design"),
)
def q_agg_incremental_merge(spark, sf_dir):
    """Incremental view maintenance for an aggregate: yesterday's
    MATERIALIZED state (count, sum per key — the mergeable-state form)
    is combined with today's delta instead of recomputing over all
    history — the q_agg_moments merge-by-addition idea applied across
    TIME instead of across partitions.

    The base state is computed once and PERSISTED (parquet round-trip
    through a temp dir, like the maintenance queries); the final
    answer is  merge(read-back state, delta aggregate)  where the
    delta scan carries a PUSHED ts >= cut filter — the plan rescans
    only the delta and a groups-sized state file, never base history.
    At 100 TB with daily ingest this is the difference between
    O(history) and O(delta + groups) per refresh; avg derives from
    the merged (sum, count) rather than being averaged across states
    (averages do not merge; sums and counts do).  The oracle is the
    full recompute — maintenance must equal recomputation exactly."""
    ev = Catalog(spark, sf_dir).events
    cut = F.lit(_IVM_CUT).cast("timestamp")

    with scratch("skyhook_ivm_") as tmp:
        base_state = (
            ev.filter(F.col("ts") < cut)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("value").alias("s"),
            )
        )
        base_state.write.mode("overwrite").parquet(f"{tmp}/state")
        state = spark.read.parquet(f"{tmp}/state")
        delta = (
            ev.filter(F.col("ts") >= cut)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("value").alias("s"),
            )
        )
        merged = (
            state.unionByName(delta)
            .groupBy("event_type")
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("s").alias("s"),
            )
        )
        out = merged.select(
            "event_type",
            "n",
            quantize(F.col("s"), 6).alias("total"),
            quantize(F.col("s") / F.col("n"), 6).alias("avg_value"),
        ).orderBy("event_type")
        # materialize before the temp dir vanishes (groups-sized)
        return collect_local(out)


# ---------------------------------------------------------------------------
# §2.21.8 GDPR crypto-shredding (erasure by key destruction)
# ---------------------------------------------------------------------------

_SHRED_MOD = 7

_SHRED_ORACLE = f"""
SELECT c_custkey,
  CASE WHEN c_custkey % {_SHRED_MOD} = 0 THEN NULL ELSE c_name END
    AS name_out,
  CAST(CASE WHEN c_custkey % {_SHRED_MOD} = 0 THEN 1 ELSE 0 END AS INT)
    AS shredded
FROM customer ORDER BY c_custkey
"""


@query(
    "q_gdpr_crypto_shred",
    oracle=_SHRED_ORACLE,
    tags=("gdpr", "scale-design"),
)
def q_gdpr_crypto_shred(spark, sf_dir):
    """GDPR erasure by CRYPTO-SHREDDING — the fourth privacy primitive
    (after delete / export / anonymize): PII columns are stored
    encrypted under a PER-USER key; "delete user" destroys the key
    row, after which every copy of the ciphertext — warm storage,
    backups, replicas — is unreadable, with ZERO rewrites of the
    100 TB fact data.  q_gdpr_delete's rewrite-the-table answer costs
    a full-table pass per erasure batch; key destruction costs one
    row in a keys-table.

    Real crypto end-to-end: c_name is aes_encrypt-ed (GCM) under a
    key derived deterministically per customer, the keys table then
    drops every custkey % 7 == 0 row (the erased cohort), and the
    readout LEFT-joins keys and try_aes_decrypt-s — NULL key or wrong
    key yields NULL, never an error.  The keys join broadcasts
    (keys-table is users-sized, orders below the fact data; at true
    scale it shuffles keyed like any dim join).  The oracle pins the
    OUTCOME contract declaratively (original value iff the key
    survives, NULL otherwise) — DuckDB has no AES surface, so the
    round-trip itself is what the Spark side proves.  GCM nonces make
    ciphertexts nondeterministic per run, but decrypt(encrypt(x)) is
    run-invariant, so the output is oracle-exact.

    MODELING NOTE (round-10 advisory): the per-user key here is
    md5(c_custkey) — re-derivable from the row itself — so this query
    models the PLAN SHAPE of crypto-shredding (encrypted fact columns,
    broadcast keys-table join, erasure = key-row deletion), not the
    security guarantee.  Production keys must be random secrets held
    only in the keys table (or a KMS); with a derivable KDF and no
    secret salt, destroying the key row does not make ciphertext
    unrecoverable."""
    c = Catalog(spark, sf_dir).customer.select("c_custkey", "c_name")
    key = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 16)
    enc = c.select(
        "c_custkey",
        F.expr(
            "aes_encrypt(c_name, substring(md5(cast(c_custkey AS string)), 1, 16))"
        ).alias("name_ct"),
    )
    keys = (
        c.select("c_custkey", key.alias("k"))
        .filter(F.col("c_custkey") % _SHRED_MOD != 0)  # shred the cohort
        .withColumnRenamed("c_custkey", "k_custkey")
    )
    out = enc.join(
        F.broadcast(keys), enc.c_custkey == keys.k_custkey, "left"
    )
    dec = F.expr("try_aes_decrypt(name_ct, k)").cast("string")
    return out.select(
        "c_custkey",
        dec.alias("name_out"),
        F.when(F.col("k").isNull(), 1).otherwise(0).alias("shredded"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# §2.21.10 probe-driven broadcast-vs-shuffle join choice
# ---------------------------------------------------------------------------

_BCAST_THRESHOLD = 10 << 20  # 10 MB — the classic broadcast budget

_BCAST_ORACLE = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
  floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def _broadcast_probed_join(spark, sf_dir, threshold_bytes):
    """Shared body so tests can force either branch via the threshold
    (tiny threshold -> shuffle branch; shipped 10 MB -> broadcast)."""
    from skyhookdb_ceph_spark.operators.stats import measured_dim_bytes

    c = Catalog(spark, sf_dir)
    o = c.orders.select("o_custkey", "o_totalprice")
    dim = c.customer.select("c_custkey", "c_mktsegment")
    est = measured_dim_bytes(dim, string_cols=["c_mktsegment"])
    if est <= threshold_bytes:
        # measured payload fits the broadcast budget: dim ships to
        # every executor, the fact side never shuffles
        joined = o.join(
            F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey")
        )
    else:
        # measured payload too big to replicate: keyed shuffle join
        joined = o.join(
            dim.hint("shuffle_hash"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("revenue"),
        )
        .coalesce(1)  # 5 segments at any scale factor
        .sortWithinPartitions("c_mktsegment")
    )


@query(
    "q_join_broadcast_probed",
    oracle=_BCAST_ORACLE,
    tags=("join", "scale-design", "stats-driven"),
)
def q_join_broadcast_probed(spark, sf_dir):
    """Broadcast-vs-shuffle join strategy chosen from a MEASURED
    dimension payload — the fifth consumer of the measured-stats
    machinery (agg salt, join salt, window blocks, shuffle width, now
    join strategy).

    The static alternative, autoBroadcastJoinThreshold, compares
    against FILE statistics: the full table's on-disk size, which for
    a two-column projection of a wide table overestimates by the
    table's width ratio (and for decompressed strings underestimates)
    — so real deployments routinely broadcast too little or OOM
    broadcasting too much.  The probe (operators/stats.
    measured_dim_bytes, one aggregate job) measures the
    post-projection payload actually being replicated and compares it
    to the 10 MB budget.  AQE can convert a sort-merge to broadcast at
    RUNTIME from shuffle-stage sizes, but only after planning (and
    partially executing) the shuffle stage — the probe decides before
    any exchange exists, and works with AQE off (the bench profile).
    Both branches are row-identical; the oracle is branch-invariant.
    Plan shapes pinned both ways in tests/test_plans.py."""
    return _broadcast_probed_join(spark, sf_dir, _BCAST_THRESHOLD)


# ---------------------------------------------------------------------------
# §2.21.12 zone-map clustering advisor (runstats -> layout decision)
# ---------------------------------------------------------------------------

_ZM_LO, _ZM_HI = "1996-01-01", "1996-03-31"
_ZM_KEY_WIDTH = 4096  # orderkey rows per physical-proxy zone


def _zm_oracle() -> str:
    pred = (
        f"l_shipdate >= TIMESTAMP '{_ZM_LO}' "
        f"AND l_shipdate <= TIMESTAMP '{_ZM_HI} 23:59:59'"
    )
    legs = []
    for label, zone in (
        ("physical_orderkey", f"CAST(floor(l_orderkey / {_ZM_KEY_WIDTH}) AS BIGINT)"),
        ("clustered_ship_month", "CAST(date_trunc('month', l_shipdate) AS DATE)"),
    ):
        legs.append(f"""
SELECT '{label}' AS layout,
  CAST(count(*) AS BIGINT) AS zones_total,
  CAST(sum(sel) AS BIGINT) AS zones_selected,
  CAST(sum(sel * n) AS BIGINT) AS rows_scanned,
  CAST(sum(sel * m) AS BIGINT) AS rows_matched,
  CAST(sum(m) AS BIGINT) AS rows_matched_global,
  CAST(CASE WHEN sum(sel * m) = sum(m) THEN 1 ELSE 0 END AS INT)
    AS lossless
FROM (
  SELECT {zone} AS zone, count(*) AS n,
    sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS m,
    CASE WHEN max(l_shipdate) >= TIMESTAMP '{_ZM_LO}'
          AND min(l_shipdate) <= TIMESTAMP '{_ZM_HI} 23:59:59'
         THEN 1 ELSE 0 END AS sel
  FROM lineitem GROUP BY 1) z""")
    return " UNION ALL ".join(legs) + " ORDER BY layout"


@query(
    "q_scan_zonemap_advisor",
    oracle=_zm_oracle(),
    tags=("scan", "layout", "stats-driven", "scale-design"),
)
def q_scan_zonemap_advisor(spark, sf_dir):
    """Zone-map CLUSTERING ADVISOR: measures, per candidate layout,
    how much of the table a min/max manifest on l_shipdate would let a
    date-range predicate SKIP — the decision input for "should this
    table be re-clustered?" (the reference's runstats -> sort-on-write
    loop [U: cls_tabular.cc — exec_runstats_op, SIT_IDX_RID];
    Delta/Iceberg's file-stats pruning).

    Two layouts are audited in one pass each: the physical-order proxy
    (orderkey-range zones — how the table is laid out today) and the
    clustered candidate (ship-month zones — what sort-on-write would
    give).  On the fixture the verdict is stark and real: orderkey
    zones prune NOTHING (TPC-H shipdate is uncorrelated with orderkey
    — every zone's [min, max] spans the predicate), while ship-month
    zones scan only the predicate's months.  The lossless column is
    the zone-map correctness invariant re-derived in-query (selected
    zones contain ALL matching rows, both layouts, always — a zone map
    can over-scan but never lose).  Shape: two keyed partial
    aggregates, zone-count-bounded, no window, no join — the manifest
    build is exactly a runstats pass, so the advisor costs one scan
    per candidate layout at any scale."""
    li = Catalog(spark, sf_dir).lineitem
    lo = F.lit(_ZM_LO).cast("timestamp")
    hi = F.lit(f"{_ZM_HI} 23:59:59").cast("timestamp")
    pred = (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") <= hi)
    legs = []
    for label, zone in (
        (
            "physical_orderkey",
            F.floor(F.col("l_orderkey") / _ZM_KEY_WIDTH).cast("bigint"),
        ),
        (
            "clustered_ship_month",
            F.date_trunc("month", F.col("l_shipdate")).cast("date"),
        ),
    ):
        z = li.groupBy(zone.alias("zone")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(pred, 1).otherwise(0)).alias("m"),
            F.when(
                (F.max("l_shipdate") >= lo) & (F.min("l_shipdate") <= hi), 1
            )
            .otherwise(0)
            .alias("sel"),
        )
        legs.append(
            z.agg(
                F.count(F.lit(1)).cast("bigint").alias("zones_total"),
                F.sum("sel").cast("bigint").alias("zones_selected"),
                F.sum(F.col("sel") * F.col("n"))
                .cast("bigint")
                .alias("rows_scanned"),
                F.sum(F.col("sel") * F.col("m"))
                .cast("bigint")
                .alias("rows_matched"),
                F.sum("m").cast("bigint").alias("rows_matched_global"),
                F.when(
                    F.sum(F.col("sel") * F.col("m")) == F.sum("m"), 1
                )
                .otherwise(0)
                .cast("int")
                .alias("lossless"),
            ).select(F.lit(label).alias("layout"), "*")
        )
    return legs[0].unionByName(legs[1]).orderBy("layout")


# ---------------------------------------------------------------------------
# §2.21.13 triangle counting (the third graph primitive)
# ---------------------------------------------------------------------------

_TRI_BUCKET_SEC = 600
_TRI_CAP = 8

_TRI_ORACLE = f"""
WITH b AS (
  SELECT DISTINCT event_type,
    CAST(floor(epoch(ts) / {_TRI_BUCKET_SEC}) AS BIGINT) AS mn, user_id
  FROM events),
small AS (
  SELECT event_type, mn FROM b GROUP BY 1, 2 HAVING count(*) <= {_TRI_CAP}),
bs AS (SELECT b.* FROM b JOIN small USING (event_type, mn)),
e AS (
  SELECT DISTINCT x.user_id AS a, y.user_id AS b2
  FROM bs x JOIN bs y
    ON x.event_type = y.event_type AND x.mn = y.mn
   AND x.user_id < y.user_id),
w AS (SELECT e1.a, e1.b2 AS b, e2.b2 AS c FROM e e1 JOIN e e2 ON e1.b2 = e2.a),
t AS (SELECT count(*) AS tri FROM w JOIN e e3 ON w.a = e3.a AND w.c = e3.b2)
SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
  CAST((SELECT count(*) FROM w) AS BIGINT) AS n_wedges,
  CAST(tri AS BIGINT) AS n_triangles,
  floor((tri * 1.0 / (SELECT count(*) FROM w)) * 1000000 + 0.5) / 1000000
    AS closure_ratio
FROM t
"""


@query(
    "q_graph_triangles",
    oracle=_TRI_ORACLE,
    tags=("graph", "scale-design"),
)
def q_graph_triangles(spark, sf_dir):
    """Triangle counting — the third graph primitive (after connected
    components and PageRank): the clustering-structure measure behind
    community detection and link-spam screens.  Graph = users
    co-occurring in a RARE (event_type, 10-minute) bucket, with the
    q_dedup_containment fanout cap (buckets holding > 8 users emit no
    edges) — the projection cap that keeps co-occurrence graphs
    buildable at any corpus size (a hot bucket would otherwise emit
    O(bucket²) edges).

    The count uses the ORIENTED wedge-close algorithm: edges stored
    once as a < b, wedges a<b<c from one self-equi-join on the middle
    vertex, closed by a second equi-join probing the (a, c) edge —
    every join keyed, no cartesian, wedge count bounded by
    cap x edges.  This orientation IS the classic degree-ordering
    trick's fixed-order variant: each triangle is counted exactly
    once (from its smallest vertex), not 6 times.  closure_ratio =
    triangles / wedges, the global transitivity under the same
    orientation.  Output is ONE row; nothing corpus-sized leaves the
    executors."""
    ev = Catalog(spark, sf_dir).events
    b = (
        ev.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / _TRI_BUCKET_SEC)
            .cast("bigint")
            .alias("mn"),
            "user_id",
        )
        .distinct()
    )
    small = (
        b.groupBy("event_type", "mn")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") <= _TRI_CAP)
        .drop("sz")
    )
    bs = b.join(small, ["event_type", "mn"])
    x = bs.selectExpr("event_type", "mn", "user_id AS a")
    y = bs.selectExpr("event_type AS et2", "mn AS mn2", "user_id AS b2")
    e = (
        x.join(
            y,
            (x.event_type == y.et2) & (x.mn == y.mn2) & (x.a < y.b2),
        )
        .select("a", "b2")
        .distinct()
    )
    e1 = e.selectExpr("a", "b2 AS b")
    e2 = e.selectExpr("a AS b_", "b2 AS c")
    w = e1.join(e2, e1.b == e2.b_).select("a", "b", "c")
    e3 = e.selectExpr("a AS a_", "b2 AS c_")
    tri = w.join(e3, (w.a == e3.a_) & (w.c == e3.c_))
    # three 1-row aggregates combined in ONE plan (1-row broadcast
    # config-join precedent); ReusedExchange dedupes the shared edge
    # subtree instead of recomputing it per count
    ne = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    nw = w.agg(F.count(F.lit(1)).cast("bigint").alias("n_wedges"))
    nt = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return (
        ne.crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(nt))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            # NULL when the graph has no wedges (found by the sf10
            # scaling smoke: at 100× event density EVERY bucket
            # exceeds the fanout cap, the capped graph goes empty, and
            # an unguarded ratio raises DIVIDE_BY_ZERO under ANSI —
            # matches DuckDB, where x/0 is NULL)
            quantize(
                F.when(
                    F.col("n_wedges") > 0,
                    F.col("n_triangles") / F.col("n_wedges"),
                ),
                6,
            ).alias("closure_ratio"),
        )
    )
