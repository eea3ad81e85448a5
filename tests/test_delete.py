"""Document deletion: logical tombstones now, physical purge at compaction.

Semantics under test (builder.delete_docs docstring):

* a tombstone append is immediately visible to newly opened engines —
  deleted docs vanish from every match set (ALL/NOT complement included)
  while surviving docs keep their exact global-collection BM25 scores
  (post-hoc-restriction, same contract as ``doc_filter``);
* ``compact()`` purges tombstoned entries physically, recomputes
  stats/term_stats, and retires the tombstones — post-compaction scores
  equal a fresh build over the surviving corpus while doc ids stay the
  original dense ids (never reused).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from search_engine_spark.build.builder import IndexBuilder
from search_engine_spark.config import EngineConfig
from search_engine_spark.plans.parser import SearchMode
from search_engine_spark.query.engine import SearchEngine
from search_engine_spark.testing.synth import synth_corpus

# small chunks so 150 docs spread over several chunks (deletions touch
# some chunks and leave others byte-identical pass-throughs)
CFG = EngineConfig(
    chunk_docs=16, chunks_per_batch=2, block_docs=8, n_term_buckets=8
)

# scoring probes only (NOT's zero-score id order is build-dependent);
# num_return high enough that no match set is truncated
SCORED_PROBES = [
    ("zqmerge zqshard", SearchMode.OR),
    ("zqmerge zqshard", SearchMode.AND),
    ("zqmerge AND ( zqshard OR codec_2 )", SearchMode.QUERY_EVALUATOR),
]
K = 200


def _rows(engine, probes=SCORED_PROBES, use_wand=True):
    out = engine.search_batch(probes, num_return=K, use_wand=use_wand)
    return sorted(
        (r.qid, r.doc_id, round(r.score, 9)) for r in out.collect()
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    corpus = spark.createDataFrame(synth_corpus(n_docs=150, seed=7))
    index_dir = str(tmp_path_factory.mktemp("didx"))
    builder = IndexBuilder(spark, index_dir, CFG)
    builder.build_all(corpus)
    baseline = _rows(SearchEngine(spark, index_dir, CFG))
    # delete 3 docs that matched the OR probe (so the deletion is visible)
    victims = sorted({doc for _q, doc, _s in baseline})[:3]
    builder.delete_docs(victims)
    return builder, index_dir, corpus, baseline, victims


def test_logical_delete_excludes_keeps_scores(built, spark):
    _b, index_dir, _c, baseline, victims = built
    after = _rows(SearchEngine(spark, index_dir, CFG))
    assert not any(doc in victims for _q, doc, _s in after)
    # post-hoc restriction: survivors keep their exact baseline scores
    assert after == [r for r in baseline if r[1] not in victims]


def test_not_complement_never_resurrects(built, spark):
    _b, index_dir, _c, _base, victims = built
    eng = SearchEngine(spark, index_dir, CFG)
    out = eng.search("zqmerge", SearchMode.NOT, num_return=10_000)
    ids = {r.doc_id for r in out.collect()}
    assert not ids & set(victims)
    # complement of a rare term over 150 docs minus 3 deletions
    assert len(ids) == 150 - 3 - eng.search(
        "zqmerge", SearchMode.OR, num_return=10_000
    ).count()


def test_wand_matches_exhaustive_under_deletes(built, spark):
    _b, index_dir, _c, _base, _v = built
    eng = SearchEngine(spark, index_dir, CFG)
    assert _rows(eng, use_wand=True) == _rows(eng, use_wand=False)


def test_facets_exclude_deleted(built, spark):
    _b, index_dir, _c, baseline, victims = built
    eng = SearchEngine(spark, index_dir, CFG)
    got = {
        (r.value, r.n_docs)
        for r in eng.facet_counts("zqmerge zqshard", SearchMode.OR).collect()
    }
    matched = {d for q, d, _s in baseline if q == 0 and d not in victims}
    langs = {
        r.doc_id: r.lang
        for r in eng.store.read_docs().select("doc_id", "lang").collect()
    }
    want: dict[str, int] = {}
    for d in matched:
        want[langs[d]] = want.get(langs[d], 0) + 1
    assert got == {(k, v) for k, v in want.items()}


def test_filter_and_tombstones_in_one_chunk(built, spark):
    """A doc_filter that keeps deleted and live docs of the same chunk:
    the kernels see both per-chunk arrays at once.  Search (WAND on and
    off) and facets must equal the unfiltered results restricted to the
    live docs that pass."""
    _b, index_dir, _c, _base, victims = built
    eng = SearchEngine(spark, index_dir, CFG)
    # shard_2 adds live matches beside the deleted zqmerge/zqshard docs
    probes = [
        ("zqmerge zqshard shard_2", SearchMode.OR),
        ("shard_2 OR ( zqmerge AND zqshard )", SearchMode.QUERY_EVALUATOR),
    ]
    unfiltered = _rows(eng, probes)
    hits = sorted({d for _q, d, _s in unfiltered})
    # a chunk holding a deleted doc and live matches; the filter keeps
    # the chunk's deleted docs and every other live match
    chunk = next(
        v // CFG.chunk_docs for v in victims
        if any(d // CFG.chunk_docs == v // CFG.chunk_docs for d in hits)
    )
    in_chunk = [d for d in hits if d // CFG.chunk_docs == chunk]
    keep = sorted(
        {v for v in victims if v // CFG.chunk_docs == chunk}
        | set(in_chunk[::2])
    )
    pred = F.col("doc_id").isin(keep)
    want = [r for r in unfiltered if r[1] in keep]
    assert want and set(keep) & set(victims)
    for use_wand in (True, False):
        got = sorted(
            (r.qid, r.doc_id, round(r.score, 9))
            for qid, (q, m) in enumerate(probes)
            for r in eng.search(
                q, m, num_return=K, use_wand=use_wand, doc_filter=pred
            ).withColumn("qid", F.lit(qid)).collect()
        )
        assert got == want, use_wand

    langs = {
        r.doc_id: r.lang
        for r in eng.docs.select("doc_id", "lang").collect()
    }
    q, m = probes[0]
    tally: dict[str, int] = {}
    for qid, d, _s in want:
        if qid == 0:
            tally[langs[d]] = tally.get(langs[d], 0) + 1
    facets = eng.facet_counts(q, m, doc_filter=pred).collect()
    assert {(r.value, r.n_docs) for r in facets} == set(tally.items())


def test_delete_where_predicate(built, spark):
    builder, index_dir, _c, _base, _v = built
    n_md = builder.store.read_docs().where(F.col("lang") == "md").count()
    res = builder.delete_where(F.col("lang") == "md")
    assert res["deleted"] == n_md
    eng = SearchEngine(spark, index_dir, CFG)
    out = eng.search("def data", SearchMode.OR, num_return=10_000)
    joined = out.join(eng.store.read_docs(), "doc_id")
    assert joined.where(F.col("lang") == "md").count() == 0


def test_compact_purges_matches_fresh_rebuild(built, spark, tmp_path):
    builder, index_dir, corpus, _base, victims = built
    store = builder.store
    deleted_ids = {
        r.doc_id for r in store.read_tombstones().collect()
    }
    assert set(victims) <= deleted_ids
    n_before = int(store.read_stats()["num_docs"])

    res = builder.compact()
    assert res["compacted"] and res["purged_docs"] == len(deleted_ids)
    assert not os.path.isdir(store.tombstones_path)
    builder.vacuum()

    eng = SearchEngine(spark, index_dir, CFG)
    # stats recomputed over survivors
    assert int(eng.stats["num_docs"]) == n_before - len(deleted_ids)
    # doc ids never reused: docs table keeps the tombstoned rows
    assert store.read_docs().count() == n_before

    # fresh build over the surviving corpus (new dense ids) must produce
    # identical (content-key, score) result sets
    key = F.concat_ws("|", "repo", "path", "commit")
    survivors = corpus.join(
        store.read_docs()
        .where(F.col("doc_id").isin([int(i) for i in deleted_ids]))
        .select("repo", "path", "commit"),
        ["repo", "path", "commit"],
        "left_anti",
    )
    fresh_dir = str(tmp_path / "fresh")
    fresh_builder = IndexBuilder(spark, fresh_dir, CFG)
    fresh_builder.build_all(survivors)
    fresh = SearchEngine(spark, fresh_dir, CFG)

    def keyed(engine):
        out = engine.search_batch(SCORED_PROBES, num_return=K)
        j = out.join(engine.store.read_docs(), "doc_id").select(
            "qid", key.alias("k"), F.round("score", 6).alias("s")
        )
        return sorted(tuple(r) for r in j.collect())

    assert keyed(eng) == keyed(fresh)
    # purged engine has no pending tombstones
    assert eng._deleted_by_chunk is None


def test_compact_without_tombstones_noop_on_single_batch(spark, tmp_path):
    corpus = spark.createDataFrame(synth_corpus(n_docs=40, seed=3))
    builder = IndexBuilder(spark, str(tmp_path / "idx"), CFG)
    builder.build_all(corpus)
    # everything fits one committed batch and nothing is deleted
    if len(builder.store.committed_batches()) == 1:
        assert builder.compact() == {"compacted": False, "batches": [0]}


def test_cli_delete(built, spark, capsys):
    import json

    from search_engine_spark.cli import main

    _b, index_dir, _c, _base, _v = built
    main(["delete", "--index", index_dir, "--ids", "1,2"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"deleted": 2}
