"""Persisted inverted TEXT index (SURVEY.md §2.11): keyword search
(the original IDX_TXT analog — the on-disk index must prune to one
token-prefix partition and match the in-memory ranking), plus the
round-15 lifecycle suite: the BM25 probe must READ the layout — tok0
partition prune + token filter — never re-tokenize the corpus, and
the incremental append must be append-only under the
frozen-tokenization rule.  Every test drives the production build /
append / compact / probe functions of operators/text_index.py, the one
module that knows the layout.  Mirrors tests/test_sig_index.py for the
text side of the index lifecycle."""

from __future__ import annotations

import collections
import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.catalog import Catalog
from skyhookdb_ceph_spark.operators.text_index import (
    _max_files_per_tok0,
    _postings,
    _with_tok0,
    append_text_index,
    build_text_index,
    compact,
    keyword_search,
    probe_bm25,
)
from skyhookdb_ceph_spark.plans.explain import explain_str
from skyhookdb_ceph_spark.queries.text import _BM25_TERMS
from skyhookdb_ceph_spark.registry import load_all

SF = "/root/testdata/sf0.001"
PKG = pathlib.Path(__file__).resolve().parents[1] / "skyhookdb_ceph_spark"


# ---------------------------------------------------------------------------
# keyword search over the persisted index (pre-r15 suite, kept intact)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def persisted_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("skyhook_idx") / "idx")
    build_text_index(spark, Catalog(spark, SF).documents, path)
    return spark, SF, path


def _persisted_search(spark, path, keyword):
    return keyword_search(spark.read.parquet(f"{path}/postings"), keyword)


def test_persisted_search_prunes_partitions(persisted_index):
    spark, _, path = persisted_index
    plan = explain_str(_persisted_search(spark, path, "join"))
    assert "PartitionFilters" in plan
    frag = plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "tok0" in frag  # the prune actually keys on the prefix dir


def test_persisted_search_matches_in_memory(persisted_index):
    spark, sf, path = persisted_index
    docs = Catalog(spark, sf).documents
    mem = [
        tuple(r)
        for r in keyword_search(_with_tok0(_postings(docs)), "join").collect()
    ]
    disk = [tuple(r) for r in _persisted_search(spark, path, "join").collect()]
    assert disk == mem
    assert len(disk) > 0


# ---------------------------------------------------------------------------
# round-15 lifecycle suite: BM25 probe-only + incremental append
# ---------------------------------------------------------------------------

# Tokenize-only physical markers: the build pass is an explode over a
# split of the document text.  None may appear in a probe-only plan —
# and neither may the documents table itself.
_TOKENIZE_MARKERS = ("explode", "split", "documents")


def _snapshot_parquet(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_probe_plan_never_tokenizes(spark, tmp_path):
    """The probe plan contains no explode, no split, and no scan of
    the documents table — at 100 TB that absence IS the index: a few
    posting lists + the doc-length sidecar instead of re-tokenizing
    every document body per query."""
    tmp = str(tmp_path / "txtidx")
    build_text_index(spark, Catalog(spark, SF).documents, tmp)
    plan = explain_str(probe_bm25(spark, tmp, _BM25_TERMS))
    for marker in _TOKENIZE_MARKERS:
        assert marker not in plan, f"probe plan re-tokenizes: {marker}"


def test_probe_plan_prunes_tok0_partitions(spark, tmp_path):
    """The posting fetch is a PARTITION PRUNE: the scan's
    PartitionFilters carry the tok0 predicate (the omap point-lookup
    analog — only the query terms' first-letter directories are
    read), and the token equality is pushed into the pruned scan."""
    tmp = str(tmp_path / "txtidx")
    build_text_index(spark, Catalog(spark, SF).documents, tmp)
    plan = explain_str(probe_bm25(spark, tmp, _BM25_TERMS))
    assert re.search(r"PartitionFilters: \[[^\]]*tok0", plan)
    assert re.search(r"PushedFilters: \[[^\]]*token", plan)


def test_probe_matches_inline_bm25(spark, tmp_path):
    """Persisting the index must not change a single answer row vs
    the per-execution q_text_bm25 (the indexed query also shares the
    inline oracle, so the driver pins this at sf0.01; this is the
    sf0.001 fast path)."""
    tmp = str(tmp_path / "txtidx")
    build_text_index(spark, Catalog(spark, SF).documents, tmp)
    indexed = sorted(map(tuple, probe_bm25(spark, tmp, _BM25_TERMS).collect()))
    reg = load_all()
    ref = sorted(map(tuple, reg["q_text_bm25"].fn(spark, SF).collect()))
    assert indexed == ref and len(indexed) == 10


def test_incremental_append_leaves_base_files_untouched(spark, tmp_path):
    """append_text_index writes NEW postings and dlens files only —
    every base data file (across all tok0 partition directories and
    the length sidecar) survives with identical name, size, and mtime.
    O(delta) maintenance; a rebuild is O(corpus).  Only the 1-row
    stats sidecar is rewritten, by design."""
    d = Catalog(spark, SF).documents
    tmp = str(tmp_path / "txtinc")
    build_text_index(spark, d.filter("doc_id % 10 <> 7"), tmp)
    before = _snapshot_parquet(tmp)
    append_text_index(spark, d.filter("doc_id % 10 = 7"), tmp)
    after = _snapshot_parquet(tmp)
    for piece in ("postings", "dlens"):
        new = {f for f in set(after) - set(before) if f.startswith(piece)}
        assert new, f"delta landed no new {piece} files"
    for f, meta in before.items():
        if not f.startswith("stats"):
            assert after[f] == meta, f"base file rewritten: {f}"


def test_frozen_tokenization_is_a_real_parameter(spark):
    """The frozen-tokenization rule has teeth on the fixture: the
    delta cohort tokenized with the frozen rule (space split) differs
    from a case-folding variant in at least the tok0 routing of some
    posting — i.e. the census q_text_index_incremental pins would
    actually catch a delta job that drifted.  The documents fixture
    is lowercase, so drift is modeled on the delimiter (split on 'e'
    stands in for any rule change); if the fixture ever makes both
    rules agree, this fails loudly rather than letting the pin rot."""
    d = Catalog(spark, SF).documents.filter("doc_id % 10 = 7")
    frozen = sorted(map(tuple, _postings(d).collect()))
    drifted = sorted(
        map(
            tuple,
            d.select(
                "doc_id", F.explode(F.split("text", "e")).alias("token")
            )
            .filter(F.col("token") != "")
            .groupBy("token", "doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
            .collect(),
        )
    )
    assert frozen != drifted


def test_stats_sidecar_roundtrips(spark, tmp_path):
    """The persisted (n_docs, avgdl) equals a fresh derivation from
    the corpus — the BM25 parameters the probe reads back instead of
    re-deriving from document bodies."""
    tmp = str(tmp_path / "txtidx")
    build_text_index(spark, Catalog(spark, SF).documents, tmp)
    stored = spark.read.parquet(f"{tmp}/stats").collect()
    d = Catalog(spark, SF).documents
    fresh = (
        d.select(F.size(F.split("text", " ")).cast("bigint").alias("dl"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        )
        .collect()
    )
    assert [tuple(r) for r in stored] == [tuple(r) for r in fresh]


# ---------------------------------------------------------------------------
# round-15 wave 2: hybrid RRF over BOTH persisted indexes
# ---------------------------------------------------------------------------

_ENCODE_MARKERS = ("shiftleft", "posexplode", "percentile")


def test_hybrid_probe_plan_never_tokenizes_or_encodes(spark, tmp_path):
    """The fused probe's plan contains neither the text build pass
    (explode/split of document bodies, documents scan) nor the
    signature encode pass (shiftleft packing, posexplode, percentile
    probe) — both ran once at build.  At 100 TB a hybrid query
    touches a few posting lists, the 16 B/vector signature column,
    and ~NCAND float rows."""
    from skyhookdb_ceph_spark.operators.sig_index import build_sig_index
    from skyhookdb_ceph_spark.queries.text import probe_hybrid_rrf

    tdir = str(tmp_path / "txt")
    sdir = str(tmp_path / "sig")
    build_text_index(spark, Catalog(spark, SF).documents, tdir)
    build_sig_index(spark, Catalog(spark, SF).embeddings, sdir)
    e = Catalog(spark, SF).embeddings
    plan = explain_str(probe_hybrid_rrf(spark, tdir, sdir, e))
    for marker in _TOKENIZE_MARKERS + _ENCODE_MARKERS:
        assert marker not in plan, f"hybrid probe rebuilds: {marker}"
    # both index layouts actually feed the plan
    assert os.path.basename(tdir) in plan
    assert os.path.basename(sdir) in plan


def test_hybrid_probe_candidate_pred_leaves_df_corpuswide(spark, tmp_path):
    """probe_bm25's doc_pred excludes candidates WITHOUT changing
    term weights: df is counted over the unfiltered pruned postings
    (a property of the index), so scores for surviving docs are
    byte-identical with and without the exclusion."""
    tmp = str(tmp_path / "txtidx")
    build_text_index(spark, Catalog(spark, SF).documents, tmp)
    base = {
        r["doc_id"]: r["bm25"]
        for r in probe_bm25(spark, tmp, _BM25_TERMS, k=50).collect()
    }
    excl = {
        r["doc_id"]: r["bm25"]
        for r in probe_bm25(
            spark, tmp, _BM25_TERMS, k=50, doc_pred="doc_id <> 0"
        ).collect()
    }
    assert 0 not in excl
    for d, s in excl.items():
        assert base[d] == s, f"df shifted under candidate exclusion: {d}"


def test_compacted_layout_answers_identically(spark, tmp_path):
    """Compaction must not change one answer: probe_bm25 over the
    fragmented (base build + appended delta) index equals probe_bm25
    over its compacted rewrite, row for row — and the compacted layout
    really is one file per tok0 directory."""
    from skyhookdb_ceph_spark.queries.text import _TXT_DELTA_PRED

    d = Catalog(spark, SF).documents
    frag, comp = str(tmp_path / "frag"), str(tmp_path / "comp")
    build_text_index(spark, d.filter(f"NOT ({_TXT_DELTA_PRED})"), frag)
    append_text_index(spark, d.filter(_TXT_DELTA_PRED), frag)
    compact(spark, frag, comp)
    assert _max_files_per_tok0(comp) == 1
    assert _max_files_per_tok0(frag) > 1
    a = sorted(map(tuple, probe_bm25(spark, frag, _BM25_TERMS).collect()))
    b = sorted(map(tuple, probe_bm25(spark, comp, _BM25_TERMS).collect()))
    assert a == b and len(a) == 10


def test_index_format_lives_in_one_module():
    """The Spark BM25 term, the tok0 key derivation and the compaction
    sort are written once, in operators/text_index.py: no query module
    keeps its own copy of the layout or the scorer.  (Oracle SQL spells
    the term ``s.n_docs - df.df`` and is not matched.)"""
    needles = (
        r"(?<![.\w])n_docs - df\b|F\.col\(\"n_docs\"\) - F\.col\(\"df\"\)",
        r'F\.substring\("token"',
        r'sortWithinPartitions\("token"',
    )
    sites = collections.Counter()
    for path in PKG.rglob("*.py"):
        text = path.read_text()
        for needle in needles:
            sites[str(path.relative_to(PKG))] += len(re.findall(needle, text))
    assert +sites == {"operators/text_index.py": 3}
