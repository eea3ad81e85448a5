"""Batch compaction: many committed batches -> one, identical answers.

The commit protocol is the lineage append (a row whose ``replaces``
column supersedes the rewritten batches); readers resolve visibility
from lineage alone, so compaction must be invisible to every query
while collapsing the batches x buckets small-file layout streaming
ingestion leaves behind.
"""

from __future__ import annotations

import os

import pytest

from search_engine_spark.build.builder import IndexBuilder
from search_engine_spark.config import EngineConfig
from search_engine_spark.plans.parser import SearchMode
from search_engine_spark.query.engine import SearchEngine
from search_engine_spark.testing.synth import synth_corpus

# small chunks/batches so 150 docs -> several committed batches
CFG = EngineConfig(
    chunk_docs=16, chunks_per_batch=2, block_docs=8, n_term_buckets=8
)

PROBES = [
    ("zqmerge zqshard", SearchMode.OR),
    ("zqmerge zqshard", SearchMode.AND),
    ("zqmerge", SearchMode.NOT),
    ("zqmerge AND ( zqshard OR codec_2 )", SearchMode.QUERY_EVALUATOR),
]


def _results(spark, index_dir):
    eng = SearchEngine(spark, index_dir, CFG)
    rows = eng.search_batch(PROBES, num_return=20).collect()
    return sorted(
        (r.qid, r.rank, r.doc_id, round(r.score, 9)) for r in rows
    )


def _batch_dirs(index_dir, sub):
    base = os.path.join(index_dir, sub)
    return sorted(
        d for d in os.listdir(base) if d.startswith("batch=")
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    corpus = spark.createDataFrame(synth_corpus(n_docs=150, seed=7))
    index_dir = str(tmp_path_factory.mktemp("cidx"))
    builder = IndexBuilder(spark, index_dir, CFG)
    builder.build_all(corpus)
    return builder, index_dir


def test_compact_preserves_results_and_collapses_batches(built, spark):
    builder, index_dir = built
    before_batches = builder.store.committed_batches()
    assert len(before_batches) > 1  # the scenario needs real fragmentation
    before = _results(spark, index_dir)
    stats_before = builder.store.read_stats()

    out = builder.compact()
    assert out["compacted"] and out["replaced"] == before_batches

    # one visible batch; answers and lineage-derived metrics unchanged
    after_batches = builder.store.committed_batches()
    assert after_batches == [out["batch_id"]]
    assert _results(spark, index_dir) == before
    (lineage,) = builder.store.committed_lineage(["n_docs"])
    assert lineage["n_docs"] == 150
    # finalize after compaction reproduces identical stats (total_postings
    # comes from committed lineage sums)
    builder.finalize()
    assert builder.store.read_stats() == stats_before

    # old dirs still on disk until vacuum; invisible to readers
    assert len(_batch_dirs(index_dir, "postings")) == len(before_batches) + 1
    removed = builder.vacuum()["removed_dirs"]
    assert len(removed) == len(before_batches)
    assert _batch_dirs(index_dir, "postings") == [f"batch={out['batch_id']}"]
    assert _results(spark, index_dir) == before


def test_vacuum_removes_legacy_doclens_copies(built, spark):
    """Indexes built before doc lengths were read from the postings' ""
    rows kept a doclens/batch=K copy per batch.  Such an index still
    opens (nothing reads the copies) and vacuum drops the whole doclens/
    tree, the copies of live batches included."""
    builder, index_dir = built
    before = _results(spark, index_dir)
    (live,) = builder.store.committed_batches()  # compacted above
    legacy = os.path.join(index_dir, "doclens")
    for b in (0, live):
        builder.store.read_doclens().write.parquet(
            os.path.join(legacy, f"batch={b}")
        )
    assert _results(spark, index_dir) == before
    assert builder.vacuum()["removed_dirs"] == [legacy]
    assert not os.path.exists(legacy)
    assert _results(spark, index_dir) == before


def test_compact_is_noop_on_single_batch(built, spark):
    builder, _ = built
    again = builder.compact()  # previous test left exactly one batch
    assert again["compacted"] is False


def test_compaction_of_streamed_increments(spark, tmp_path):
    """The real scenario: streaming increments leave one batch per
    advance(); compaction collapses them and answers equal a one-shot
    batch build over the same corpus.  A second compaction supersedes
    the first's batch transitively (visibility always resolves through
    lineage alone)."""
    from pyspark.sql import types as T

    from search_engine_spark.streaming import StreamingIndexer

    rows = synth_corpus(n_docs=150, seed=11)
    # arrival order == (repo,path,commit) order => streamed doc ids
    # equal the batch build's, so results are comparable verbatim.
    # Three waves, an advance() (= one committed batch) after each of
    # the first two, so there is real multi-batch fragmentation.
    waves = [
        [dict(r, repo="a-" + r["repo"]) for r in rows[:48]],
        [dict(r, repo="b-" + r["repo"]) for r in rows[48:96]],
        [dict(r, repo="c-" + r["repo"]) for r in rows[96:]],
    ]
    schema = T.StructType.fromDDL(
        "repo string, path string, commit string, lang string, "
        "content string"
    )
    cols = ["repo", "path", "commit", "lang", "content"]
    src = str(tmp_path / "arrivals")
    staging = str(tmp_path / "staging")
    index_dir = str(tmp_path / "sidx")

    indexer = StreamingIndexer(spark, index_dir, staging, CFG)

    def arrive(wave, final=False):
        spark.createDataFrame(wave, schema=schema).select(
            *cols
        ).write.mode("append").parquet(src)
        indexer.start(
            spark.readStream.schema(schema).parquet(src),
            available_now=True,
        )
        return indexer.advance(final=final)

    arrive(waves[0])
    arrive(waves[1])
    assert len(indexer.builder.store.committed_batches()) == 2
    # doc lengths live in the postings' "" rows only
    assert not os.path.exists(os.path.join(index_dir, "doclens"))

    first = indexer.builder.compact()
    assert first["compacted"]

    arrive(waves[2], final=True)  # new batch on top of the compacted one

    batches = indexer.builder.store.committed_batches()
    assert first["batch_id"] in batches and len(batches) == 2

    # reference: one-shot batch build over the full corpus
    ref_dir = str(tmp_path / "refidx")
    IndexBuilder(spark, ref_dir, CFG).build_all(
        spark.createDataFrame(
            waves[0] + waves[1] + waves[2], schema=schema
        ).select(*cols)
    )
    want = _results(spark, ref_dir)
    assert _results(spark, index_dir) == want

    second = indexer.builder.compact()
    assert second["compacted"] and second["replaced"] == batches
    assert indexer.builder.store.committed_batches() == [
        second["batch_id"]
    ]
    indexer.builder.vacuum()
    assert _batch_dirs(index_dir, "postings") == [
        f"batch={second['batch_id']}"
    ]
    assert not os.path.exists(os.path.join(index_dir, "doclens"))
    assert _results(spark, index_dir) == want


def test_crash_between_purge_commit_and_finalize_is_detected(
    spark, tmp_path, monkeypatch
):
    """A purging compact() that dies between its lineage commit and the
    stats recompute would leave purged postings scoring with stale
    pre-purge collection stats.  The pending-finalize marker makes that
    window loud: engines refuse to open, and repair_pending_finalize()
    re-runs finalize and clears it."""
    import os

    from search_engine_spark.query.engine import SearchEngine

    corpus = spark.createDataFrame(synth_corpus(n_docs=150, seed=19))
    index_dir = str(tmp_path / "crashidx")
    builder = IndexBuilder(spark, index_dir, CFG)
    builder.build_all(corpus)
    n_del = builder.delete_docs([1, 2, 3, 4, 5])["deleted"]
    assert n_del == 5

    monkeypatch.setattr(
        IndexBuilder, "finalize",
        lambda self: (_ for _ in ()).throw(RuntimeError("injected crash")),
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        builder.compact()
    monkeypatch.undo()

    marker = builder.store.pending_finalize_path
    assert os.path.exists(marker)
    # the crashed-compact marker (no "incremental" flag) must word the
    # diagnostic for the purge case ...
    with pytest.raises(RuntimeError, match="purging compact"):
        SearchEngine(spark, index_dir, CFG)
    # ... while an in-flight/crashed streaming advance's marker (payload
    # {"incremental": true}) must NOT claim a compact crashed — a reader
    # racing a live advance should be told to retry
    import json as _json

    saved = open(marker).read()
    with open(marker, "w") as fh:
        _json.dump({"batch_id": 99, "incremental": True}, fh)
    with pytest.raises(RuntimeError, match="streaming advance"):
        SearchEngine(spark, index_dir, CFG)
    with open(marker, "w") as fh:
        fh.write(saved)

    assert builder.repair_pending_finalize() is True
    assert not os.path.exists(marker)
    # stats now reflect the survivors (the stale value would be 150)
    assert builder.store.read_stats()["num_docs"] == 145
    eng = SearchEngine(spark, index_dir, CFG)
    got = {r.doc_id for r in eng.search("zqmerge", SearchMode.OR).collect()}
    assert not got & {1, 2, 3, 4, 5}
    # a clean purge leaves no marker behind
    builder2 = IndexBuilder(spark, index_dir, CFG)
    builder2.delete_docs([10])
    builder2.compact()
    assert not os.path.exists(marker)
