"""Checkpoint/resume: an interrupted build, resumed, must produce an index
logically identical to an uninterrupted one (the reference restarts from
scratch — ingestion.py:804-805 rmtree; resumability is a north-star
addition gated on the lineage table)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.build.builder import IndexBuilder
from search_engine_spark.config import EngineConfig
from search_engine_spark.testing.synth import synth_corpus

CFG = EngineConfig(chunk_docs=32, chunks_per_batch=2, block_docs=8, n_term_buckets=4)


def _postings_snapshot(store):
    rows = store.read_postings().collect()
    return sorted(
        (
            r.term, r.chunk_id, r.df, bytes(r.doc_ids), bytes(r.tfs_body),
            bytes(r.tfs_title), bytes(r.pos_body), bytes(r.pos_title),
        )
        for r in rows
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(synth_corpus(n_docs=200, seed=21))


@pytest.fixture(scope="module")
def full_build(spark, corpus, tmp_path_factory):
    """Uninterrupted reference build: (builder, stats)."""
    full = IndexBuilder(spark, str(tmp_path_factory.mktemp("full")), CFG)
    return full, full.build_all(corpus)


def test_interrupted_build_resumes_identically(
    spark, tmp_path, corpus, full_build
):
    full, full_stats = full_build

    # interrupted build: stop after 1 of the ~4 batches
    part_dir = str(tmp_path / "part")
    part = IndexBuilder(spark, part_dir, CFG)
    part.build_docs(corpus)
    first = part.build_postings(corpus, resume=True, max_batches=1)
    assert len(first) == 1
    committed = part.store.committed_batches()
    assert committed == [0]

    # resume must not re-run batch 0 and must finish the rest
    rest = part.build_postings(corpus, resume=True)
    assert all(m["batch_id"] != 0 for m in rest)
    part_stats = part.finalize()

    assert part_stats == full_stats
    assert _postings_snapshot(part.store) == _postings_snapshot(full.store)

    # doclens agree too
    a = sorted(
        (r.chunk_id, bytes(r.doc_ids), bytes(r.doc_lens))
        for r in part.store.read_doclens().collect()
    )
    b = sorted(
        (r.chunk_id, bytes(r.doc_ids), bytes(r.doc_lens))
        for r in full.store.read_doclens().collect()
    )
    assert a == b

    # lineage carries per-batch metrics (docs/sec ingredients + fingerprint)
    lin = spark.read.parquet(part.store.lineage_path).collect()
    assert {r.batch_id for r in lin} == set(part.store.committed_batches())
    for r in lin:
        assert r.n_docs > 0 and r.wall_sec > 0
        assert r.input_fingerprint.startswith("doc_id:[")


def test_resume_keeps_the_index_layout(spark, tmp_path, corpus, full_build):
    """A resume whose caller config asks for another layout must keep the
    layout pinned in meta.json: the resumed batches use it, the meta is
    not rewritten, and the index equals an uninterrupted build."""
    import dataclasses

    full, full_stats = full_build

    part_dir = str(tmp_path / "part")
    part = IndexBuilder(spark, part_dir, CFG)
    part.build_docs(corpus)
    part.build_postings(corpus, resume=True, max_batches=1)
    with open(part.store.meta_path) as fh:
        meta = fh.read()

    resumed = IndexBuilder(
        spark, part_dir, dataclasses.replace(CFG, chunk_docs=2 * CFG.chunk_docs)
    )
    assert resumed.config.chunk_docs == CFG.chunk_docs
    assert resumed.build_all(corpus) == full_stats
    with open(part.store.meta_path) as fh:
        assert fh.read() == meta
    assert _postings_snapshot(resumed.store) == _postings_snapshot(full.store)


def test_resume_noop_when_complete(spark, tmp_path):
    corpus = spark.createDataFrame(synth_corpus(n_docs=60, seed=3))
    d = str(tmp_path / "idx")
    b = IndexBuilder(spark, d, CFG)
    b.build_all(corpus)
    again = b.build_postings(corpus, resume=True)
    assert again == []
