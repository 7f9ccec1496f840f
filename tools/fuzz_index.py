#!/usr/bin/env python
"""Differential fuzz, grammar v5 — the INDEX LIFECYCLE (SURVEY §5).

Grammars v1-v3 diff Spark vs DuckDB on batch plans; v4/v4b/v4c diff
streamed vs batch execution.  v5 diffs the round-15 persisted-index
MAINTENANCE path against two independent references per seed:

    base-build -> append_text_index(delta) [-> compact]  ... (A)
    full-corpus rebuild                                   ... (B)
    DuckDB inline BM25 scorer over the raw text           ... (C)

and asserts probe_bm25(A) == probe_bm25(B) == C exactly — i.e. the
append path (new row files + stats rewrite), and optionally the
compaction rewrite, answer IDENTICALLY to an index built from
scratch, which in turn matches a from-first-principles scorer in a
different engine.  What the randomization covers that the registered
pins (q_text_index_incremental / q_text_index_compact, one spec
each) cannot:

- delta split: doc_id % m = r for random m in 2..10, r in 0..m-1 —
  including splits where the delta carries most of the corpus and
  splits whose delta introduces previously-unseen vocabulary;
- query terms: 1-2 tokens drawn from the fixture's actual vocabulary
  by document-frequency rank (a deterministic DuckDB-derived list) —
  head terms, mid terms, and df=1 tail terms all get probed; 2-term
  sums are IEEE-commutative (a+b == b+a), so exact equality is fair
  (3+ terms would reintroduce association-order drift, which is the
  registered queries' quantize-then-rank territory, not a lifecycle
  property);
- k in {1, 5, 10, 20} (beyond-matching-docs k included);
- doc_pred candidate exclusions (None / <> 0 / % 2 = 0) — df must
  stay corpus-wide under all of them (the probe_bm25 contract);
- compact or not after the append.

Grammar v5b (same file, separate seed space) fuzzes the SIGNATURE
index's maintenance path — the asymmetric case where append and
rebuild legitimately DIFFER by design: delta vectors are encoded
with the BASE cohort's FROZEN quartile thresholds (re-deriving from
the grown corpus would silently shift existing plane bits), so the
reference is DuckDB computing thresholds from the base cohort only
(interpolated over the quantized `v`, the r14 parity rule) and
encoding everything with them.  Randomized: delta split
(vec_id % m = r, m in 2..10) — every seed exercises 192 real-valued
threshold interpolations + both tiers' bit packing on a different
base cohort.  The per-cohort popcount census (n_vectors, 1-bit and
2-bit mass) must match exactly.

Failures land in tools/fuzz_failures/idx_seed_N.json (v5) and
sigidx_seed_N.json (v5b).
"""

from __future__ import annotations

import atexit
import json
import random
import shutil
import sys
import tempfile
from dataclasses import asdict, dataclass
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

from skyhookdb_ceph_spark.queries.text import (  # noqa: E402
    _BM25_B,
    _BM25_K1,
)


@dataclass
class IndexSpec:
    kind: str  # append | append_compact
    mod: int  # delta = doc_id % mod == rem
    rem: int
    terms: tuple[str, ...]
    k: int
    doc_pred: str | None


_PREDS = (None, "doc_id <> 0", "doc_id % 2 = 0")

_VOCAB: list[str] | None = None


def _vocab(sf_dir: str) -> list[str]:
    """Deterministic probe vocabulary: every [a-z0-9]+ token in the
    fixture ranked by (df DESC, token), head 120 + mid 60 + tail 60 —
    derived once per process via DuckDB so seed draws are engine- and
    session-independent."""
    global _VOCAB
    if _VOCAB is None:
        rows = duckdb.sql(
            f"""
            WITH t AS (
              SELECT unnest(string_split(text, ' ')) AS tok, doc_id
              FROM '{sf_dir}/documents.parquet'),
            d AS (
              SELECT tok, count(DISTINCT doc_id) AS df FROM t
              WHERE tok <> '' AND regexp_full_match(tok, '[a-z0-9]+')
              GROUP BY tok)
            SELECT tok FROM d ORDER BY df DESC, tok
            """
        ).fetchall()
        toks = [r[0] for r in rows]
        _VOCAB = toks[:120] + toks[len(toks) // 2:len(toks) // 2 + 60] + toks[-60:]
    return _VOCAB


def gen_case5(seed: int, sf_dir: str) -> IndexSpec:
    rng = random.Random((seed + 95_000_011) * 2654435761 % (2**31 - 1))
    vocab = _vocab(sf_dir)
    n_terms = rng.choice((1, 2, 2))
    terms = tuple(sorted(rng.sample(vocab, n_terms)))
    mod = rng.randint(2, 10)
    return IndexSpec(
        kind=rng.choice(("append", "append", "append_compact")),
        mod=mod,
        rem=rng.randrange(mod),
        terms=terms,
        k=rng.choice((1, 5, 10, 20)),
        doc_pred=rng.choice(_PREDS),
    )


_SCRATCH: list[str] = []


@atexit.register
def _drop_scratch() -> None:
    for d in _SCRATCH:
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH.clear()


# Rebuild reference (B) is memoized per sf_dir — it does not depend
# on the seed's delta split, and rebuilding it per seed would triple
# the sweep cost for no extra coverage.
_REBUILD_CACHE: dict[str, str] = {}


def _rebuilt_index(spark, sf_dir: str) -> str:
    from skyhookdb_ceph_spark.operators.text_index import build_text_index
    from skyhookdb_ceph_spark.queries._util import Catalog

    if sf_dir not in _REBUILD_CACHE:
        tmp = tempfile.mkdtemp(prefix="fuzzidx_full_")
        _SCRATCH.append(tmp)
        build_text_index(spark, Catalog(spark, sf_dir).documents, tmp)
        _REBUILD_CACHE[sf_dir] = tmp
    return _REBUILD_CACHE[sf_dir]


def _duck_bm25(spec: IndexSpec, sf_dir: str) -> list[tuple]:
    terms_sql = ", ".join(f"'{t}'" for t in spec.terms)
    pred = f"AND ({spec.doc_pred})" if spec.doc_pred else ""
    return duckdb.sql(
        f"""
        WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS toks
          FROM '{sf_dir}/documents.parquet'),
        dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl
          FROM dl),
        tf AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
            SELECT doc_id, unnest(toks) AS term FROM d) x
          WHERE term IN ({terms_sql})
          GROUP BY doc_id, term),
        df AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
          GROUP BY term),
        scored AS (
          SELECT tf.doc_id,
            sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                * tf.tf * ({_BM25_K1} + 1)
                / (tf.tf + {_BM25_K1}
                   * (1 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
            ) AS raw
          FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats s
          WHERE 1=1 {pred.replace('doc_id', 'tf.doc_id')}
          GROUP BY tf.doc_id),
        q AS (
          SELECT doc_id, floor(raw * 1000000 + 0.5) / 1000000 AS bm25,
            CAST(row_number() OVER (
              ORDER BY floor(raw * 1000000 + 0.5) / 1000000 DESC, doc_id)
              AS INT) AS rnk
          FROM scored)
        SELECT doc_id, bm25, rnk FROM q WHERE rnk <= {spec.k}
        ORDER BY rnk
        """
    ).fetchall()


def compare5(spec: IndexSpec, spark, sf_dir: str) -> str | None:
    from skyhookdb_ceph_spark.operators.text_index import (
        append_text_index,
        build_text_index,
        compact,
        probe_bm25,
    )
    from skyhookdb_ceph_spark.queries._util import Catalog

    docs = Catalog(spark, sf_dir).documents
    delta_pred = f"doc_id % {spec.mod} = {spec.rem}"
    tmp = tempfile.mkdtemp(prefix="fuzzidx_")
    _SCRATCH.append(tmp)
    try:
        # (A) lifecycle path: base build + append [+ compact]
        probe_dir = f"{tmp}/a"
        build_text_index(spark, docs.filter(f"NOT ({delta_pred})"), probe_dir)
        append_text_index(spark, docs.filter(delta_pred), probe_dir)
        if spec.kind == "append_compact":
            compact(spark, probe_dir, f"{tmp}/a_compacted")
            probe_dir = f"{tmp}/a_compacted"

        def run(path: str) -> list[tuple]:
            return [
                tuple(r)
                for r in probe_bm25(
                    spark, path, terms=spec.terms, k=spec.k,
                    doc_pred=spec.doc_pred,
                )
                .orderBy("rnk")
                .collect()
            ]

        got_a = run(probe_dir)
        got_b = run(_rebuilt_index(spark, sf_dir))
        want = [tuple(r) for r in _duck_bm25(spec, sf_dir)]
    except Exception as exc:  # noqa: BLE001
        return f"raised {type(exc).__name__}: {exc}"[:400]
    if got_a != got_b:
        return (
            f"lifecycle != rebuild: {len(got_a)} vs {len(got_b)} rows;"
            f" first diff {next((p for p in zip(got_a, got_b) if p[0] != p[1]), None)}"
        )
    if got_a != want:
        return (
            f"spark != duckdb: {len(got_a)} vs {len(want)} rows;"
            f" first diff {next((p for p in zip(got_a, want) if p[0] != p[1]), None)}"
        )
    return None


def run5(
    n: int,
    seed0: int,
    sf_dir: str,
    stop_on_fail: bool = False,
    spark=None,
    progress_every: int = 25,
) -> list[tuple[int, str]]:
    from skyhookdb_ceph_spark.session import get_spark

    if spark is None:
        spark = get_spark(app_name="fuzz_index", shuffle_partitions=8)
    failures = []
    for seed in range(seed0, seed0 + n):
        spec = gen_case5(seed, sf_dir)
        problem = compare5(spec, spark, sf_dir)
        if problem is not None:
            out_dir = Path(__file__).parent / "fuzz_failures"
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"idx_seed_{seed}.json").write_text(
                json.dumps(
                    {"seed": seed, "spec": asdict(spec), "problem": problem},
                    indent=2,
                )
            )
            print(f"DIVERGE seed={seed} [{spec.kind}] {problem}")
            print(f"  spec: {asdict(spec)}")
            failures.append((seed, problem))
            if stop_on_fail:
                break
        elif progress_every and (seed - seed0 + 1) % progress_every == 0:
            print(f"... {seed - seed0 + 1}/{n} green", flush=True)
    return failures


# ---------------------------------------------------------------------------
# grammar v5b — the SIGNATURE-index lifecycle (frozen 2-bit thresholds)
# ---------------------------------------------------------------------------


@dataclass
class SigSpec:
    kind: str  # sig_append
    mod: int  # delta = vec_id % mod == rem
    rem: int


def gen_case5b(seed: int) -> SigSpec:
    rng = random.Random((seed + 96_000_023) * 2246822519 % (2**31 - 1))
    mod = rng.randint(2, 10)
    return SigSpec(kind="sig_append", mod=mod, rem=rng.randrange(mod))


def _duck_sig_census(pred_t: str, sf_dir: str) -> list[tuple]:
    """DuckDB reference for the append-with-frozen-thresholds census:
    thresholds interpolated over the quantized `v` of the BASE cohort
    only (the r14 parity fix), both tiers encoded for ALL vectors,
    popcount census per cohort.  pred_t carries a {v} placeholder so
    the delta predicate can be rendered unambiguously in each scope."""
    from skyhookdb_ceph_spark.operators.sig_index import _PLANES, _VQ
    from skyhookdb_ceph_spark.queries.similarity import (
        _BITS1,
        _BITS2,
        _THR_DUCK,
        _plane_expr,
        _sig_duckdb,
    )

    emb = f"'{sf_dir}/embeddings.parquet'"
    planes = ", ".join(_plane_expr(k, h) for k, h in _PLANES)
    return duckdb.sql(
        f"""
        WITH ex AS (
          SELECT vec_id, i.pos,
            {_VQ.format(v='embedding[i.pos]')} AS v
          FROM {emb}, (SELECT unnest(generate_series(1, 64)) AS pos) i),
        thr AS (
          SELECT pos, {_THR_DUCK}
          FROM ex WHERE NOT ({pred_t.format(v='vec_id')}) GROUP BY pos),
        s2 AS (
          SELECT vec_id, {planes}
          FROM ex JOIN thr USING (pos) GROUP BY vec_id),
        s1 AS (
          SELECT vec_id,
            {_sig_duckdb('embedding', 1, 32)} AS sig_lo,
            {_sig_duckdb('embedding', 33, 64)} AS sig_hi
          FROM {emb})
        SELECT CAST(CASE WHEN {pred_t.format(v='s1.vec_id')} THEN 1
            ELSE 0 END AS INT) AS is_delta,
          CAST(count(*) AS BIGINT) AS n_vectors,
          {_BITS1} AS bits_1bit,
          {_BITS2} AS bits_2bit
        FROM s1 JOIN s2 USING (vec_id)
        GROUP BY 1 ORDER BY 1
        """
    ).fetchall()


def compare5b(spec: SigSpec, spark, sf_dir: str) -> str | None:
    """The production lifecycle under test: build_sig_index on the
    base cohort, append_sig_index (stored params) on the delta; the
    cohort is derived from vec_id on read."""
    from pyspark.sql import functions as F

    from skyhookdb_ceph_spark.operators.sig_index import (
        append_sig_index,
        build_sig_index,
    )
    from skyhookdb_ceph_spark.queries._util import Catalog
    from skyhookdb_ceph_spark.queries.similarity import _BITS1, _BITS2

    pred_t = f"{{v}} % {spec.mod} = {spec.rem}"
    pred = pred_t.format(v="vec_id")
    tmp = tempfile.mkdtemp(prefix="fuzzsig_")
    _SCRATCH.append(tmp)
    try:
        e = Catalog(spark, sf_dir).embeddings
        build_sig_index(spark, e.filter(f"NOT ({pred})"), tmp)
        append_sig_index(spark, e.filter(pred), tmp)
        got = [
            tuple(r)
            for r in spark.read.parquet(f"{tmp}/sigs")
            .groupBy(F.expr(pred).cast("int").alias("is_delta"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                F.expr(_BITS1).alias("bits_1bit"),
                F.expr(_BITS2).alias("bits_2bit"),
            )
            .orderBy("is_delta")
            .collect()
        ]
        want = [tuple(r) for r in _duck_sig_census(pred_t, sf_dir)]
    except Exception as exc:  # noqa: BLE001
        return f"raised {type(exc).__name__}: {exc}"[:400]
    if got != want:
        return f"census differs: spark={got} duckdb={want}"
    return None


def run5b(
    n: int,
    seed0: int,
    sf_dir: str,
    stop_on_fail: bool = False,
    spark=None,
    progress_every: int = 25,
) -> list[tuple[int, str]]:
    from skyhookdb_ceph_spark.session import get_spark

    if spark is None:
        spark = get_spark(app_name="fuzz_index", shuffle_partitions=8)
    failures = []
    for seed in range(seed0, seed0 + n):
        spec = gen_case5b(seed)
        problem = compare5b(spec, spark, sf_dir)
        if problem is not None:
            out_dir = Path(__file__).parent / "fuzz_failures"
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"sigidx_seed_{seed}.json").write_text(
                json.dumps(
                    {"seed": seed, "spec": asdict(spec), "problem": problem},
                    indent=2,
                )
            )
            print(f"DIVERGE seed={seed} [{spec.kind}] {problem}")
            failures.append((seed, problem))
            if stop_on_fail:
                break
        elif progress_every and (seed - seed0 + 1) % progress_every == 0:
            print(f"... {seed - seed0 + 1}/{n} green", flush=True)
    return failures


def main() -> int:
    n, seed0, stop, gen = 50, 0, False, "v5"
    sf_dir = "/root/testdata/sf0.001"
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--n":
            n = int(next(it))
        elif a == "--seed0":
            seed0 = int(next(it))
        elif a == "--sf-dir":
            sf_dir = next(it)
        elif a == "--stop-on-fail":
            stop = True
        elif a == "--gen":
            gen = next(it)
    runner = run5b if gen == "v5b" else run5
    failures = runner(n, seed0, sf_dir, stop)
    print(f"\n{n - len(failures)}/{n} agree [{gen}]")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
