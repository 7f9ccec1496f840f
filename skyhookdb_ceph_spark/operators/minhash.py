"""Banded MinHash LSH for near-duplicate detection (SURVEY.md §2.12).

100 TB design: the only joins are equi-joins —

1. band-signature self-join: shuffle on (band, signature); each bucket
   holds only docs sharing a minimum-hash shingle, so candidate pairs
   are ~linear in true near-dups, never O(n^2);
2. shingle-set lookup joins for exact Jaccard on the (small) candidate
   set: shuffle on doc_id.

Everything is Catalyst expressions (JVM codegen) — md5/array ops, no
Python.  Hash = md5 because it is byte-identical in DuckDB, keeping the
whole pipeline oracle-checkable (the driver red-flags oracle-less ops).

Determinism: band salt is the band index; no RNG anywhere.

The MinHash LSH — the only code that knows it.  Documents are
(doc_id, text); a NULL text yields no shingles, so no candidates.
- Encode: `shingle_sets` (distinct K_SHINGLE-word shingles), then one
  row-minimum template and one band stack in two forms —
  `band_minima_wide` / `band_signatures` (exploded groupBy-min, the
  batch form) and `inline_band_signatures` (per-row array lambdas, the
  only form a stream can run).  Both yield identical (doc_id, b, bsig).
- Verify: `jaccard_sql` is the one set-Jaccard term, kept at
  >= THRESHOLD; candidate pairs reach their shingle sets through one
  merge-hinted lookup (`jaccard_pairs`, `recall_curve`, the probe).
- Index: `build_lsh_index(docs)` persists (doc_id, b, bsig) as a
  session-scoped bucketBy(bsig) table; `probe_lsh_index(index, base,
  delta)` returns the verified (dd, db, jac) delta-vs-base pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import ensure_parallelism

K_SHINGLE = 3  # words per shingle
N_BANDS = 8  # LSH bands (candidate = collision in ANY band)
# Min-hash ROWS per band: a band collides only when ALL r row-minima
# agree, so P(candidate | Jaccard s) = 1 - (1 - s^r)^b.  r=1 (the
# round-4..10 shape) thresholds that S-curve at ~(1/b)^(1/1) = 0.125 —
# at 100× fixture rows the sf10 smoke measured mid-similarity pairs
# (J≈0.3, correctly REJECTED by the exact verify) flooding the
# candidate join ~k² until the verify spill exceeded the disk
# (BASELINE.md §L.1).  r=4, b=8 moves the threshold to ~0.59:
# recall@J=0.8 = 1-(1-0.41)^8 = 98.5%, candidates@J=0.32 cut 12×.
N_ROWS = 4
THRESHOLD = 0.8  # exact Jaccard a verified near-dup pair must reach
_AUDIT_DOCS = 5000  # recall_curve's sample size at any corpus size


def shingle_expr(k: int = K_SHINGLE) -> str:
    """Distinct k-word shingles of `text` (1-based, mirrors the
    DuckDB oracle's generate_series/list indexing)."""
    return (
        f"array_distinct(transform("
        f"sequence(1, greatest(size(split(text, ' ')) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', slice(split(text, ' '), i, {k}))))"
    )


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) — distinct K_SHINGLE-word shingle set per
    document.

    Built via posexplode + (k-1) leads over a doc-keyed window +
    collect_set, NOT the transform/slice lambda of shingle_expr: the
    higher-order form interprets one lambda (with an array slice
    allocation) per shingle, which dominated every MinHash query
    (measured: the fuzzy-dedup family dropped 2-4x at sf0.1).  The
    window's per-doc row count is bounded by document length, so the
    shuffle is safe at any corpus size.  Docs shorter than k words
    contribute their whole text as the single partial shingle —
    identical to shingle_expr and the DuckDB oracle (concat_ws
    rejoins split()'s empty tokens, so arbitrary whitespace
    round-trips exactly)."""
    from pyspark.sql import Window

    k = K_SHINGLE
    # Explicit NULL-text filter: explode(split(NULL)) silently drops
    # the row, whereas the DuckDB oracles produce a NULL signature that
    # can never equi-join — filtering here makes "NULL text yields no
    # candidates" true on both engines BY CONSTRUCTION, not by fixture
    # luck (ADVICE r4).
    docs = ensure_parallelism(docs).filter(F.col("text").isNotNull())
    words = docs.selectExpr(
        "doc_id", "posexplode(split(text, ' ')) AS (pos, w)"
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    cols = [F.col("w").alias("w0")] + [
        F.lead("w", j).over(wnd).alias(f"w{j}") for j in range(1, k)
    ]
    full = (
        words.select("doc_id", *cols)
        .filter(F.col(f"w{k - 1}").isNotNull())
        .select(
            "doc_id",
            F.concat_ws(" ", *[f"w{j}" for j in range(k)]).alias("s"),
        )
    )
    shorts = docs.selectExpr("doc_id", "text AS s").filter(
        f"size(split(text, ' ')) < {k}"
    )
    return (
        full.unionByName(shorts)
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("shingles"))
    )


def _band_cols(row_min, rows: int = N_ROWS) -> list[str]:
    """b0..b{N_BANDS-1}: band b is the concatenation of `rows`
    row-minima (Catalyst flattens the `||` chain into one concat).
    Each shingle is md5-hashed ONCE (`h`); row (b, j)'s hash
    function is a rotation of that digest (the 8-hex window at
    offset b*N_ROWS+j of digest||digest) — b×r distinct hash families
    for the cost of one md5 per shingle (the dominant cost of the
    pipeline).  The min-hash collision argument only needs each row's
    function to rank shingles uniformly, which the rotated windows do
    (adjacent windows differ in their leading character, which decides
    almost every comparison).  `row_min` turns the per-shingle window
    into its minimum over the document."""
    return [
        " || ".join(
            row_min(f"substring(concat(h, h), {b * N_ROWS + j + 1}, 8)")
            for j in range(rows)
        )
        + f" AS b{b}"
        for b in range(N_BANDS)
    ]


def _stack(wide: DataFrame, *keep: str) -> DataFrame:
    """Wide b0..b{N_BANDS-1} -> one (b, bsig) row per band."""
    stack = ", ".join(f"{b}, b{b}" for b in range(N_BANDS))
    return wide.selectExpr(*keep, f"stack({N_BANDS}, {stack}) AS (b, bsig)")


def _grouped_minima(sh: DataFrame, hash_sql: str, rows: int) -> DataFrame:
    # Explode the shingle set once, hash each shingle once, and take
    # the per-row minimum as grouped MIN aggregates — the values equal
    # the array_min(transform(...)) form exactly (min commutes), but
    # everything stays in whole-stage codegen instead of interpreted
    # lambdas per document.
    ex = sh.selectExpr("doc_id", "explode(shingles) AS s").selectExpr(
        "doc_id", f"{hash_sql} AS h"
    )
    return ex.groupBy("doc_id").agg(
        *[F.expr(c) for c in _band_cols(lambda w: f"min({w})", rows)]
    )


def band_minima_wide(sh: DataFrame) -> DataFrame:
    """Wide form of band_signatures: one row per doc with columns
    b0..b{N_BANDS-1}.  Used stacked for the LSH bucket join and wide by
    the recall audit (the per-pair catch flag is an OR over the band
    columns — pure codegen, no extra shuffle)."""
    return _grouped_minima(sh, "md5(s)", N_ROWS)


def band_signatures(sh: DataFrame) -> DataFrame:
    """One BANDED min-hash signature per (doc, band): (doc_id, b,
    bsig), the concatenation of N_ROWS independent row-minima — two
    docs collide in a band only when every row agrees (the standard
    (b, r) LSH construction; see N_ROWS for the S-curve)."""
    return _stack(band_minima_wide(sh), "doc_id")


def inline_band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, b, bsig) computed per row with array lambdas
    (shingle_expr, one md5 per shingle, array_min per rotated window):
    no shuffle, so it runs on a stream, where the batch form's window
    and groupBy cannot.  Same values as band_signatures."""
    hashed = (
        docs.filter("text IS NOT NULL")
        .selectExpr("doc_id", f"{shingle_expr()} AS shingles")
        .selectExpr(
            "doc_id", "shingles", "transform(shingles, s -> md5(s)) AS hs"
        )
    )
    wide = hashed.selectExpr(
        "doc_id",
        "shingles",
        *_band_cols(lambda w: f"array_min(transform(hs, h -> {w}))"),
    )
    return _stack(wide, "doc_id", "shingles")


def _band_join(a: DataFrame, c: DataFrame) -> DataFrame:
    """(da, db) per band signature an `a` doc shares with a `c` doc —
    the LSH bucket equi-join on (b, bsig)."""
    a = a.selectExpr("doc_id AS da", "b", "bsig")
    c = c.selectExpr("doc_id AS db", "b AS b2", "bsig AS bsig2")
    return a.join(c, (a.b == c.b2) & (a.bsig == c.bsig2)).select("da", "db")


def candidate_pairs(sig: DataFrame) -> DataFrame:
    """Distinct (da < db) pairs sharing any band signature."""
    return _band_join(sig, sig).filter("da < db").distinct()


def jaccard_sql(a: str, b: str) -> str:
    """Exact set Jaccard of two distinct-element arrays, quantized to
    1e-6.  cast(... as double): a bare 1.0 literal parses as DECIMAL in
    Spark SQL, which would surface as Decimal objects in pandas;
    floor-quantization instead of round() for engine parity."""
    return (
        f"floor((cast(size(array_intersect({a}, {b})) AS double) "
        f"/ size(array_distinct(concat({a}, {b})))) * 1000000 + 0.5) / 1000000"
    )


def _lookup(cand: DataFrame, x: DataFrame, y: DataFrame) -> DataFrame:
    """Candidate pairs (da, db) joined to per-doc features: `x` keyed
    by da, `y` by db.

    merge hints: the verify joins must NEVER broadcast the
    shingle-set side — it is corpus-sized, and Catalyst's size
    estimate for the derived subtree undershoots so badly that at
    100× fixture rows it picked BroadcastHashJoin and the driver
    OOMed ("Not enough memory to build and broadcast", round 11,
    BASELINE.md §L.1).  SortMergeJoin over shuffle_hash: the SHJ
    hash build of the candidate side ALSO died at sf10 ("Can't
    acquire ... bytes to build hash relation" — 32 concurrent
    builds sharing one local heap), while SMJ sorts both sides and
    SPILLS — the only strategy whose memory is bounded regardless
    of candidate skew."""
    return cand.hint("merge").join(x, "da").hint("merge").join(y, "db")


def jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Full fuzzy-dedup pipeline: shingle -> band LSH -> exact Jaccard
    on candidates -> filter >= THRESHOLD.  Returns (doc_a, doc_b, jac).

    The shingle-set DataFrame feeds THREE consumers (band signatures +
    both sides of the verify join); without persist() Spark re-derives
    the whole explode->window->collect_set subtree per consumer —
    measured 4x the shingling work in the physical plan.  persist()
    computes it once and serves the joins from cached partitions; at
    cluster scale this is the difference between one corpus pass and
    four."""
    from pyspark import StorageLevel

    sh = shingle_sets(docs).persist(StorageLevel.MEMORY_AND_DISK)
    cand = candidate_pairs(band_signatures(sh))
    x = sh.selectExpr("doc_id AS da", "shingles AS sx")
    y = sh.selectExpr("doc_id AS db", "shingles AS sy")
    return (
        _lookup(cand, x, y)
        .selectExpr(
            "da AS doc_a", "db AS doc_b", f"{jaccard_sql('sx', 'sy')} AS jac"
        )
        .filter(f"jac >= {THRESHOLD}")
    )


def build_lsh_index(docs: DataFrame) -> DataFrame:
    """Persist the corpus's (doc_id, b, bsig) signatures ONCE as a
    bucketBy(bsig) table — pre-shuffled for exactly the band equi-join
    a probe runs (operators/bucketing.py) — and return it.  The name is
    per run and session-scoped: concurrent sessions sharing a
    warehouse never clobber each other's index mid-read, and the
    session's previous index is dropped."""
    from skyhookdb_ceph_spark.operators.bucketing import write_bucketed_scoped
    from skyhookdb_ceph_spark.operators.stats import measured_shuffle_width

    # bucket count scaled from a MEASURED row probe: a FIXED 8 buckets
    # serializes both the index write and the band join onto 8 tasks
    # once the corpus outgrows them — the sf10 scaling smoke measured
    # the last decade going superlinear before this (BASELINE.md
    # §L.1).  The probe counts DOCS (a cheap column-pruned scan), not
    # the signature frame — probing the signatures would recompute the
    # whole shingling subtree once just to count it.  Each doc emits
    # N_BANDS=8 signatures, so 12.5k docs/bucket ≈ 100k sigs/bucket.
    n_buckets = max(
        8,
        measured_shuffle_width(docs.select("doc_id"), 12_500, max_width=256)
        or 8,
    )
    sig = band_signatures(shingle_sets(docs))
    tbl = write_bucketed_scoped(sig, "inc_sig_index", ["bsig"], n_buckets)
    return docs.sparkSession.table(tbl)


def probe_lsh_index(
    index: DataFrame, base: DataFrame, delta: DataFrame
) -> DataFrame:
    """Verified near-dup pairs (dd, db, jac) of each `delta` doc
    against the indexed `base` docs: jac >= THRESHOLD.

    Cost O(delta + candidates), never O(corpus): the delta signatures
    equi-join the index on (b, bsig) once, eagerly, and only the
    candidate BASE docs are re-shingled for the exact verify
    (semi-join bounded; a production index would store shingle
    digests alongside)."""
    sh_delta = shingle_sets(delta)
    # merge hint: at fixture scale Catalyst would broadcast the delta
    # signatures, which at 100× rows is a driver OOM (§L.1); the merge
    # join rides the index's bucketBy(bsig) layout exchange-free on
    # the index side while the delta side shuffles O(delta)
    # localCheckpoint: the pairs feed the verify AND, through the
    # semi-join, the base re-shingling — unmaterialized, each consumer
    # re-ran the delta shingling and the index join (3 candidate joins
    # and 108 stages per admission at sf0.01; 77 stages with it).  The
    # pairs are candidate-sized and stay on the executors.
    cand = (
        _band_join(band_signatures(sh_delta), index.hint("merge"))
        .distinct()
        .localCheckpoint()
    )
    base_cand = base.join(
        cand.select(F.col("db").alias("doc_id")).distinct(), "doc_id", "semi"
    )
    x = sh_delta.selectExpr("doc_id AS da", "shingles AS sx")
    y = shingle_sets(base_cand).selectExpr("doc_id AS db", "shingles AS sy")
    return (
        _lookup(cand, x, y)
        .selectExpr("da AS dd", "db", f"{jaccard_sql('sx', 'sy')} AS jac")
        .filter(f"jac >= {THRESHOLD}")
    )


def recall_curve(docs: DataFrame) -> DataFrame:
    """MEASURED recall of the production (b=8, r=4) banded LSH, per
    exact-Jaccard band — the audit every dedup stack owes its users
    after changing detector parameters (this repo changed r=1 -> r=4 in
    round 11; the 98.5%-recall@J=0.8 claim was analytic until now).

    Ground truth cannot be all-pairs at scale, so it is what production
    recall audits use: a PERMISSIVE reference detector — r=1 bands from
    an INDEPENDENT hash family (salted md5), S-curve threshold ~1/b =
    0.125 — over a deterministic, corpus-scaled doc sample (high bits
    of the Knuth multiplicative hash of the id, mod max(1,
    n//_AUDIT_DOCS) == 0; ~_AUDIT_DOCS docs at any corpus size; the
    whole fixture at fixture scale).  The hash — not the raw id — is
    what makes the sample hold on SPARSE or STRIDED id spaces
    (post-dedup survivors, all-odd ids): `doc_id % m == 0` silently
    empties or skews there.  The HIGH bits specifically: an odd
    multiplier leaves the product's low bits congruent to the id's,
    so a low-bit residue re-inherits the stride (Fibonacci-hashing
    rule, re-learned live in q_sample_token_budget).  Knuth's
    2654435761 is used instead of xxhash64 because the DuckDB oracle
    must compute the identical sample.  Exact Jaccard is computed on
    the reference candidates only; `caught` = the production bands
    collide (an OR over the 8 wide signature columns, no second LSH
    join).  Low-J bands measure the S-curve floor (recall ~ 0), the
    J>=0.8 bands the operating point (recall ~ 1).

    Columns: j_band (floor(jac*10)/10), truth_pairs, caught_pairs,
    recall.  100 TB: sample is O(_AUDIT_DOCS) regardless of corpus; the
    only joins are the reference band equi-join and doc-keyed feature
    lookups; never all-pairs.
    """
    from pyspark import StorageLevel

    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs_audit"))
    sample = (
        docs.crossJoin(F.broadcast(n_docs))
        .filter(
            # ((id % 2^31-1) * knuth) % 2^32, then DROP the low 6 bits
            # before the modulus: knuth is odd, so the product's low
            # bits preserve id strides (h ≡ id·c mod 2^k) and an even
            # modulus over strided ids would still skew the sample —
            # the high bits are the well-mixed ones (Fibonacci
            # hashing).  Pre-mod keeps the product inside BIGINT for
            # any id; identical expression in DuckDB.
            "CAST(floor((((doc_id % 2147483647) * 2654435761) "
            "% 4294967296) / 64.0) AS BIGINT)"
            f" % greatest(1, CAST(floor(n_docs_audit / {_AUDIT_DOCS}.0) "
            "AS BIGINT)) = 0"
        )
        .drop("n_docs_audit")
    )
    sh = shingle_sets(sample).persist(StorageLevel.MEMORY_AND_DISK)
    # reference detector: r=1, b=8 minima of an independent salted
    # family — candidates down to J ~ 0.05 by the 1-(1-J)^8 curve, so
    # the audit sees the S-curve's floor as well as its shoulder
    rsig = _grouped_minima(sh, "md5(concat('r1|', s))", 1)
    cand = candidate_pairs(_stack(rsig, "doc_id"))
    # per-doc features for the verify side: shingle set (exact J) +
    # the 8 production band signatures (catch flag) — joined ONCE per
    # pair side
    feat = sh.join(band_minima_wide(sh), "doc_id")
    x = feat.selectExpr(
        "doc_id AS da",
        "shingles AS sx",
        *[f"b{b} AS ab{b}" for b in range(N_BANDS)],
    )
    y = feat.selectExpr(
        "doc_id AS db",
        "shingles AS sy",
        *[f"b{b} AS cb{b}" for b in range(N_BANDS)],
    )
    caught = " OR ".join(f"ab{b} = cb{b}" for b in range(N_BANDS))
    pairs = _lookup(cand, x, y).selectExpr(
        f"{jaccard_sql('sx', 'sy')} AS jac",
        f"CASE WHEN {caught} THEN 1 ELSE 0 END AS caught",
    )
    return (
        pairs.groupBy(F.expr("floor(jac * 10) / 10").alias("j_band"))
        .agg(
            F.count(F.lit(1)).alias("truth_pairs"),
            F.sum("caught").alias("caught_pairs"),
        )
        .selectExpr(
            "j_band",
            "truth_pairs",
            "caught_pairs",
            # cast: a bare 1.0 literal parses as DECIMAL in Spark SQL
            # (object dtype in pandas) — double division like the oracle
            "floor(cast(caught_pairs AS double) / truth_pairs * 1000000 "
            "+ 0.5) / 1000000 AS recall",
        )
        .orderBy("j_band")
    )
