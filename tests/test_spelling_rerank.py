"""Spelling correction (Q23) + MLP re-rank (Q21/Q22) paths."""

from __future__ import annotations

import numpy as np
import pytest

from search_engine_spark.build.builder import IndexBuilder
from search_engine_spark.config import EngineConfig
from search_engine_spark.functions.trigrams import (
    get_trigrams_from_token,
    levenshtein,
)
from search_engine_spark.oracle.refsem import RefSemIndex
from search_engine_spark.plans.parser import SearchMode
from search_engine_spark.query.engine import SearchEngine
from search_engine_spark.ranking.model import RankingModel
from search_engine_spark.testing.synth import corpus_to_tokens, synth_corpus

CFG = EngineConfig(
    chunk_docs=64, chunks_per_batch=2, block_docs=8, n_term_buckets=8,
    enable_spelling=True,
)


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    rows = synth_corpus(n_docs=120, seed=13)
    corpus = spark.createDataFrame(rows)
    index_dir = str(tmp_path_factory.mktemp("spellidx"))
    IndexBuilder(spark, index_dir, CFG).build_all(corpus, trigrams=True)
    engine = SearchEngine(spark, index_dir, CFG)
    oracle = RefSemIndex(corpus_to_tokens(rows))
    return engine, oracle


def test_trigram_extraction_matches_reference_shape():
    # reference utils.py:15-43 sliding scheme with $ boundaries
    assert get_trigrams_from_token("a") == {"$a$"}
    assert get_trigrams_from_token("ab") == {"$ab", "ab$"}
    assert get_trigrams_from_token("abc") == {"$ab", "abc", "bc$"}
    assert get_trigrams_from_token("abcd") == {"$ab", "abc", "bcd", "cd$"}


def test_levenshtein():
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("", "abc") == 3
    assert levenshtein("abc", "abc") == 0


def test_misspelled_query_corrected(setup):
    """An OOV typo is replaced through the trigram->Jaccard->edit-distance
    ->max-df funnel; the engine's results equal searching the corrected
    token directly.  (The funnel's last stage is argmax *df* — reference
    inverted_index.py:1037-1041 — so on a tiny vocabulary the winner can
    be a high-df sibling rather than the intended word.)"""
    from search_engine_spark.query.spelling import SpellingCorrector

    engine, oracle = setup
    corrector = SpellingCorrector(engine.spark, engine.store)
    fixed = corrector.correct("zqmrge")
    assert fixed != "zqmrge"  # something was found
    _n, ref_top = oracle.search_text(fixed, SearchMode.AND)
    got = engine.search("zqmrge", SearchMode.AND).collect()
    assert [r.doc_id for r in sorted(got, key=lambda r: r.rank)] == [
        d for _s, d in ref_top
    ]
    # deterministic
    assert corrector.correct("zqmrge") == fixed


def test_correct_many_is_one_job_and_matches_singles(setup):
    """A whole batch of OOV tokens is corrected in ONE Spark job (the
    round-2 per-token parquet-scan latency fix), with results identical
    to token-at-a-time correction."""
    from search_engine_spark.query.spelling import SpellingCorrector

    engine, _oracle = setup
    corrector = SpellingCorrector(engine.spark, engine.store)
    tokens = ["zqmrge", "zqshrd", "codc_2", "xxqqzz"]
    singles = {t: corrector.correct(t) for t in tokens}

    sc = engine.spark.sparkContext

    def jobs_for(fn):
        group = f"spell-{id(fn)}"
        sc.setJobGroup(group, "spelling job-count assertion")
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    # warm the cached trigram table so both measurements see it
    corrector.correct_many(["warmup"])
    batch, n_batch = jobs_for(lambda: corrector.correct_many(tokens))
    _one, n_one = jobs_for(lambda: corrector.correct_many(tokens[:1]))
    assert batch == singles
    # ONE action regardless of batch size: AQE splits an action into a
    # run-to-run-varying handful of jobs, so assert the count does not
    # SCALE with the token count (a per-token implementation would cost
    # ~len(tokens) * n_one)
    assert n_batch <= 2 * n_one, (n_batch, n_one)
    assert n_batch < len(tokens) * n_one, (n_batch, n_one)


def test_invocab_token_not_corrected(setup):
    engine, oracle = setup
    _n, ref_top = oracle.search_text("zqmerge", SearchMode.AND)
    got = engine.search("zqmerge", SearchMode.AND).collect()
    assert [r.doc_id for r in sorted(got, key=lambda r: r.rank)] == [
        d for _s, d in ref_top
    ]


def test_rerank_permutes_candidates(setup):
    """Re-ranked top-k is a subset of the BM25 candidate set, ordered by
    the (deterministic seeded) MLP score."""
    engine, _oracle = setup
    plan = engine.compile("zqmerge zqshard", SearchMode.OR, num_return=5)
    base = engine.execute(
        [type(plan)(**{**plan.__dict__, "num_return": plan.num_candidates})]
    ).collect()
    cand_ids = {r.doc_id for r in base}
    model = RankingModel.seeded()
    rr = engine.rerank([plan], model=model).collect()
    assert 0 < len(rr) <= 5
    assert {r.doc_id for r in rr} <= cand_ids
    scores = [r.score for r in sorted(rr, key=lambda r: r.rank)]
    assert scores == sorted(scores, reverse=True)
    # deterministic across runs
    rr2 = engine.rerank([plan], model=model).collect()
    assert sorted((r.doc_id, r.score) for r in rr) == sorted(
        (r.doc_id, r.score) for r in rr2
    )


def test_batch_spelling_matches_single(setup, count_jobs):
    """search_batch must run the same OOV-correction funnel as search() —
    the two entry points return identical results for typo queries — and
    a batch corrects all its typos in one correction job, not one per
    query."""
    engine, _oracle = setup
    typos = [
        ("zqmrge", SearchMode.AND),
        ("zqshrd", SearchMode.OR),
        ("codc_2 zqmerge", SearchMode.QUERY_EVALUATOR),
    ]
    key = lambda r: r.rank
    batch = engine.search_batch(typos).collect()
    for qid, (q, mode) in enumerate(typos):
        single = engine.search(q, mode).collect()
        assert [
            (r.doc_id, r.score)
            for r in sorted((r for r in batch if r.qid == qid), key=key)
        ] == [(r.doc_id, r.score) for r in sorted(single, key=key)], q

    # compiling runs only the correction job(s); spelling results are not
    # memoized, so every call below corrects again
    with count_jobs() as one:
        engine.search_batch(typos[:1])
    with count_jobs() as three:
        engine.search_batch(typos)
    assert 0 < len(three) < 3 * len(one), (len(three), len(one))


def test_rerank_scores_candidates_outside_posting_chunks(setup):
    """Candidates living in a chunk with no postings rows for the fetch
    terms (NOT/scan-all plans) must still be scored with zero-tf sentinel
    features, not silently dropped (ADVICE features.py:123) — exercised by
    invoking the kernel directly with an empty postings side."""
    import numpy as np

    from search_engine_spark.ranking.features import make_features_kernel
    from pyspark.sql import functions as F

    engine, _oracle = setup
    plan = engine.compile("NOT zqmerge", SearchMode.QUERY_EVALUATOR,
                          num_return=10)
    chunk_row = engine._doclens.orderBy("chunk_id").limit(1)
    right = chunk_row.toPandas()
    # docs 0..2 live in chunk 0 — candidate lists ride the right side
    right["cands"] = [[{"qid": plan.qid, "doc_id": int(d)} for d in range(3)]]
    left = (
        engine._postings.where(F.lit(False))
        .select("term", "chunk_id", "df", "doc_ids", "tfs_body",
                "tfs_title", "pos_body", "pos_title")
        .toPandas()
    )
    kernel = make_features_kernel(
        [plan], RankingModel.seeded().w,
        {
            "num_docs": int(engine.stats["num_docs"]),
            "avg_doc_len": float(engine.stats["avg_doc_len"]),
            "avg_title_len": float(engine.stats["avg_title_len"]),
            "max_doc_len": int(engine.stats["max_doc_len"]),
            "max_title_len": int(engine.stats["max_title_len"]),
        },
        1.6, 0.75, 2.0,
    )
    out = kernel(left, right)
    assert sorted(out["doc_id"].tolist()) == [0, 1, 2]
    assert np.isfinite(out["mlp_score"].to_numpy()).all()


def test_rerank_plan_has_no_driver_collect(setup, monkeypatch):
    """Building the rerank plan must stay lazy — no DataFrame.collect()
    round-trip for the candidate set (VERDICT What's-wrong #4)."""
    from pyspark.sql import DataFrame as SparkDataFrame

    engine, _oracle = setup
    plan = engine.compile("zqmerge zqshard", SearchMode.OR, num_return=5)

    def _no_collect(self):  # pragma: no cover - raise path
        raise AssertionError("driver collect() during rerank plan build")

    monkeypatch.setattr(SparkDataFrame, "collect", _no_collect)
    df = engine.rerank([plan])  # plan construction only
    monkeypatch.undo()
    assert len(df.collect()) > 0


def test_semantic_mode_applies_spelling_funnel(setup, tmp_path):
    """Semantic search corrects OOV tokens like the reference's get_docs
    does even with the IDF threshold disabled (inverted_index.py:
    1097-1115): typo query == corrected query, candidates fixed."""
    from search_engine_spark.pipeline import embeddings as embmod
    from pyspark.sql import functions as F

    engine, _oracle = setup
    docs = engine.store.read_docs().select("doc_id", "path")
    emb = embmod.embed_pipeline(
        docs, id_col="doc_id", body_col="path", model_dim=16,
        truncate_dim=8,
    ).withColumnRenamed("id", "vec_id").cache()
    qvec = [float(v) for v in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    a = engine.semantic_search(
        "zqmrge", qvec, embeddings=emb, num_semantic_candidates=20,
        num_return=5,
    ).collect()
    from search_engine_spark.query.spelling import SpellingCorrector

    fixed = SpellingCorrector(engine.spark, engine.store).correct("zqmrge")
    b = engine.semantic_search(
        fixed, qvec, embeddings=emb, num_semantic_candidates=20,
        num_return=5,
    ).collect()
    key = lambda r: r.rank
    assert [(r.doc_id, r.score) for r in sorted(a, key=key)] == [
        (r.doc_id, r.score) for r in sorted(b, key=key)
    ]


def test_bm25_all_empty_titles_guard():
    """avg_title_len == 0 (all-empty-title corpus) must not NaN scores."""
    from search_engine_spark.functions.bm25 import fielded_bm25

    idfs = np.array([1.0, 2.0])
    tfb = np.array([[1, 2], [0, 3]], dtype=np.int64)
    tft = np.zeros_like(tfb)
    dl = np.array([10.0, 20.0])
    tl = np.zeros(2)
    score, body, title = fielded_bm25(
        idfs, tfb, tft, dl, tl, avg_doc_len=15.0, avg_title_len=0.0
    )
    assert np.isfinite(score).all()
    assert np.allclose(title, 0.0)
    assert np.allclose(score, body)


def test_feature_values_match_reference_semantics(setup):
    """Spot-check the 10 features for one candidate against a direct
    oracle-side computation (first-occurrence / length normalizations,
    inverted_index.py:1337-1360)."""
    engine, oracle = setup
    import pandas as pd

    from search_engine_spark.functions.codec import (
        decode_doclens_row,
        decode_term_row,
    )
    from search_engine_spark.ranking.features import chunk_features

    plan = engine.compile("zqmerge", SearchMode.AND)
    from pyspark.sql import functions as F

    rows = (
        engine._postings.where(F.col("term") == "zqmerge")
        .orderBy("chunk_id")
        .collect()
    )
    assert rows
    row = rows[0]
    chunk_row = (
        engine._doclens.where(F.col("chunk_id") == row.chunk_id).head()
    )
    terms = {"zqmerge": decode_term_row(row, True, False)}
    chunk = decode_doclens_row(chunk_row)
    cand = terms["zqmerge"].docs[:3]
    stats = {
        "avg_doc_len": float(engine.stats["avg_doc_len"]),
        "avg_title_len": float(engine.stats["avg_title_len"]),
        "max_doc_len": int(engine.stats["max_doc_len"]),
        "max_title_len": int(engine.stats["max_title_len"]),
    }
    feats = chunk_features(
        plan, cand, terms, chunk, stats, 1.6, 0.75, 2.0
    )
    p = oracle.index["zqmerge"]
    for i, doc in enumerate(cand.tolist()):
        j = p.doc_ids.index(doc)
        dl = oracle.doc_lengths[doc]
        tl = oracle.title_lengths[doc]
        fo_body = p.pos_body[j][0] / dl if p.pos_body[j] else 1.0
        fo_title = p.pos_title[j][0] / tl if p.pos_title[j] else 1.0
        assert feats[i, 3] == pytest.approx(fo_body)
        assert feats[i, 4] == pytest.approx(fo_title)
        assert feats[i, 7] == pytest.approx(dl / stats["max_doc_len"])
        assert feats[i, 8] == pytest.approx(tl / stats["max_title_len"])
        assert feats[i, 9] == (1.0 if p.pos_title[j] else 0.0)
