"""spark-submit entry point.

Cluster launch (the north-star deployment shape)::

  zip -r se_spark.zip search_engine_spark
  spark-submit --py-files se_spark.zip -m ... \
      cli.py build --corpus s3://bucket/corpus --index s3://bucket/index
  spark-submit --py-files se_spark.zip \
      cli.py search --index s3://bucket/index --query "dup AND line" --mode QUERY_EVALUATOR

Local smoke::

  python -m search_engine_spark.cli build --corpus /root/testdata/... --index /tmp/idx

The session comes from ``SparkSession.builder.getOrCreate()`` so all
cluster sizing (executors, memory, shuffle partitions) flows in from
spark-submit / spark-defaults; the engine only sets Arrow on.

Sizing note for build jobs: the tokenize/merge stages are Arrow
``mapInPandas`` stages where each task is really TWO runnable threads
(the executor's Arrow feed/drain side plus the python worker).  Submit
builds with ``--conf spark.task.cpus=2`` (or halve
``spark.executor.cores``) so the scheduler doesn't oversubscribe
executor vcores — measured 2.2x build throughput at 32 local cores
(see BASELINE.md round-3 scaling section).

Sizing note for query/serve jobs: the OPPOSITE holds once the index is
large.  Query chunk kernels are short-lived per task and leave the
Arrow feed thread mostly idle, so ``spark.task.cpus=1`` (full slot
count) wins when kernel compute dominates scheduling — measured p50
2.62 -> 1.66 s and 4-term-OR 8.6 -> 4.2 s on a 20.48M-doc / 537M-
posting index at 32 local cores (bench_runs/r4_scale20m_queryconfig
.json).  At tiny per-query work (40k docs) the scheduling-bound regime
favors task.cpus=2 instead; size per workload, not globally.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(app: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName(app)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )


def cmd_build(args: argparse.Namespace) -> None:
    from search_engine_spark.build.builder import IndexBuilder
    from search_engine_spark.config import EngineConfig

    spark = _spark("se-build")
    cfg = EngineConfig(
        tokenizer=args.tokenizer,
        chunk_docs=args.chunk_docs,
        chunks_per_batch=args.chunks_per_batch,
        n_term_buckets=args.term_buckets,
        idf_threshold=args.idf_threshold,
        build_concurrency=args.build_concurrency,
    )
    from search_engine_spark.sources.corpus import load_corpus

    corpus = load_corpus(spark, args.corpus)
    builder = IndexBuilder(spark, args.index, cfg)
    t0 = time.time()
    builder.build_docs(corpus)
    metrics = builder.build_postings(
        corpus,
        resume=not args.no_resume,
        max_batches=args.max_batches,
    )
    stats = builder.finalize()
    if args.trigrams:
        builder.build_trigrams()
    wall = time.time() - t0
    n_docs = sum(m["n_docs"] for m in metrics)
    print(
        json.dumps(
            {
                "built_batches": [m["batch_id"] for m in metrics],
                "n_docs_this_run": n_docs,
                "docs_per_sec": round(n_docs / wall, 1) if wall else None,
                "stats": stats,
            }
        )
    )


def cmd_search(args: argparse.Namespace) -> None:
    from pyspark.sql import functions as F

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.plans.parser import SearchMode
    from search_engine_spark.query.engine import SearchEngine

    spark = _spark("se-search")
    engine = SearchEngine(
        spark, args.index, EngineConfig(enable_spelling=args.spelling)
    )
    mode = SearchMode[args.mode]
    t0 = time.time()
    model = None
    if args.model:
        from search_engine_spark.ranking.model import RankingModel

        model = RankingModel.load(args.model)
    if mode == SearchMode.SEMANTIC:
        if not args.embeddings:
            raise SystemExit("--mode SEMANTIC requires --embeddings")
        emb = spark.read.parquet(args.embeddings)
        head = emb.head()
        if head is None:
            raise SystemExit(
                f"embeddings table {args.embeddings} is empty"
            )
        id_col, emb_col = emb.columns[0], emb.columns[1]
        if args.query_vec_id is not None:
            row = emb.where(F.col(id_col) == args.query_vec_id).head()
            if row is None:
                raise SystemExit(
                    f"vec_id {args.query_vec_id} not found in "
                    f"{args.embeddings}"
                )
            qvec = [float(v) for v in row[emb_col]]
        else:
            # encode the query text with the encoder family the `embed`
            # subcommand recorded next to the table — encoding with a
            # different model/model_dim than the stored vectors would put
            # the query in a different space and make cosines meaningless
            from search_engine_spark.pipeline.embeddings import (
                get_encoder, postprocess, DEFAULT_PREFIX,
            )

            emeta = _read_embeddings_meta(args.embeddings)
            dim = len(head[emb_col])
            if emeta:
                model_dim = emeta["model_dim"]
                model_name = emeta["model"]
                if args.model_dim is not None and args.model_dim != model_dim:
                    raise SystemExit(
                        f"--model-dim {args.model_dim} conflicts with the "
                        f"stored embeddings (built with model_dim="
                        f"{model_dim}; see _embeddings_meta.json)"
                    )
                if emeta.get("truncate_dim", dim) != dim:
                    raise SystemExit(
                        f"embeddings meta says truncate_dim="
                        f"{emeta['truncate_dim']} but stored vectors have "
                        f"{dim} dims — table and meta disagree"
                    )
            else:
                model_dim = args.model_dim if args.model_dim else 64
                model_name = "fake-md5"
                print(
                    f"warning: no _embeddings_meta.json next to "
                    f"{args.embeddings}; assuming {model_name} "
                    f"model_dim={model_dim}",
                    file=sys.stderr,
                )
            raw = get_encoder(model_name, model_dim)(
                [DEFAULT_PREFIX + args.query]
            )
            qvec = [float(v) for v in postprocess(raw, dim)[0]]
        ranked = engine.semantic_search(
            args.query, qvec, embeddings=emb.select(
                F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
            ),
            num_return=args.k, model=model,
        )
    elif args.rerank:
        ranked = engine.search_reranked(
            args.query, mode, num_return=args.k, model=model
        )
    else:
        ranked = engine.search(args.query, mode, num_return=args.k)
    out = engine.attach_doc_info(ranked.collect())
    wall = time.time() - t0
    for r in out:
        print(f"{r.rank:3d}  {r.score:12.6f}  {r.doc_id:10d}  {r.repo}/{r.path}")
    print(f"-- {len(out)} results in {wall:.3f}s", file=sys.stderr)


def _read_embeddings_meta(table_path: str) -> dict | None:
    """Sidecar written by `embed` next to the parquet parts (underscore
    prefix keeps Spark's data-file discovery from picking it up)."""
    import os

    try:
        with open(os.path.join(table_path, "_embeddings_meta.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def cmd_embed(args: argparse.Namespace) -> None:
    """Embedding ingestion (reference embedding_ingestion_nomic.py CLI)."""
    import os

    from search_engine_spark.pipeline.embeddings import (
        DEFAULT_PREFIX, embed_pipeline, get_encoder,
    )

    spark = _spark("se-embed")
    corpus = spark.read.parquet(args.corpus)
    out = embed_pipeline(
        corpus,
        id_col=args.id_col,
        body_col=args.body_col,
        title_col=args.title_col,
        model_dim=args.model_dim,
        truncate_dim=args.truncate_dim,
        batch_size=args.batch_size,
        encoder=get_encoder(args.model, args.model_dim),
    )
    out.withColumnRenamed("id", "vec_id").write.mode("overwrite").parquet(
        args.output
    )
    # record the encoding space so `search --mode SEMANTIC` can encode
    # query text with the same model/dims instead of trusting CLI flags
    with open(os.path.join(args.output, "_embeddings_meta.json"), "w") as f:
        json.dump(
            {
                "model": args.model,
                "model_dim": args.model_dim,
                "truncate_dim": args.truncate_dim,
                "prefix": DEFAULT_PREFIX,
            },
            f,
        )
    print(json.dumps({"rows": spark.read.parquet(args.output).count()}))


def cmd_ann_build(args: argparse.Namespace) -> None:
    from search_engine_spark.pipeline.similarity import IvfIndex, LshIndex

    spark = _spark("se-ann-build")
    emb = spark.read.parquet(args.embeddings)
    if args.kind == "lsh":
        idx = LshIndex.build(
            emb, args.output, n_planes=args.n_planes, seed=args.seed
        )
    else:
        idx = IvfIndex.build(
            emb, args.output, n_centroids=args.n_centroids, seed=args.seed
        )
    print(json.dumps(idx.meta | {"path": args.output}, default=str))


def cmd_make_dataset(args: argparse.Namespace) -> None:
    """Offline training-dataset pipeline + optional re-ranker training
    (reference create-dataset*.py + ranking_model/train.py)."""
    import os

    from pyspark.sql import functions as F

    from search_engine_spark.pipeline import dataset as ds
    from search_engine_spark.ranking import train as tr

    spark = _spark("se-make-dataset")
    docs0 = spark.read.parquet(args.documents)
    docs = docs0.select(
        F.col(args.id_col).alias("docid"),
        F.col(args.title_col).alias("title"),
        F.col(args.body_col).alias("body"),
    )
    if args.index:
        # mine the candidate rankings from the engine's own BM25 run
        # (the provenance the reference's top100 TSV has) — with IDF
        # pruning disabled: candidate mining needs full retrieval depth
        from search_engine_spark.config import EngineConfig
        from search_engine_spark.query.engine import SearchEngine

        engine = SearchEngine(
            spark, args.index, EngineConfig(idf_threshold=-1.0e18)
        )
        top100 = ds.top100_from_engine(engine, ds.synth_queries(docs0))
    else:
        top100 = ds.synth_top100(docs0)
    piv = ds.rank_pivot(top100)
    target = [str(r) for r in ds.TARGET_RANKS]
    labeled = ds.label_matches(
        ds.join_train(docs, ds.synth_qrels(docs0), ds.synth_queries(docs0))
        .join(F.broadcast(piv), "queryid"),
        target,
    )
    # queries with fewer than 100 retrieved candidates have null rank
    # cells; the reference's per-rank inner joins drop such examples —
    # same here (only bites engine-mined top100 with rare-term queries)
    for c in target:
        labeled = labeled.where(F.col(f"`{c}`").isNotNull())
    labeled = ds.with_row_index(labeled, ["queryid", "docid"])
    r = docs.agg(
        F.sum(F.size(ds.tokens_col("body"))).alias("sb"),
        F.sum(F.size(ds.tokens_col("title"))).alias("st"),
        F.count("*").alias("n"),
    ).head()
    with_idf = ds.query_idf_lists(labeled, ds.term_dfs(docs), int(r.n))
    feats = ds.offline_features(with_idf, r.sb / r.n, r.st / r.n)
    wide = ds.negatives_features_wide(
        feats.select("index", "queryid", "query", "query_idfs",
                     *[f"`{c}`" for c in ds.TARGET_RANKS]),
        docs, r.sb / r.n, r.st / r.n,
    )
    full = feats.select("index", "match", *ds.FEATURE_COLUMNS).join(
        wide, "index"
    )
    splits = ds.seeded_split(full)
    for name, frame in splits.items():
        frame.write.mode("overwrite").parquet(
            os.path.join(args.output, f"{name}-split.parquet")
        )
    summary = {n: f.count() for n, f in splits.items()}
    if args.train:
        tr_pdf = splits["train"].toPandas().sort_values("index")
        te_pdf = splits["test"].toPandas().sort_values("index")
        X, T = tr.build_examples(tr_pdf)
        Xt, _ = tr.build_examples(te_pdf)
        model, hist = tr.fit(X, T, epochs=args.epochs, lr=args.lr)
        model.save(os.path.join(args.output, "ranking_model.npz"))
        summary["final_loss"] = round(hist[-1]["loss"], 6)
        summary.update(
            {k.replace("@", ""): round(v, 4)
             for k, v in tr.evaluate(model, Xt).items()}
        )
    print(json.dumps(summary))


def cmd_stream_ingest(args: argparse.Namespace) -> None:
    """Drain a streaming corpus source and fold it into the index."""
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.sources.corpus import CORPUS_SCHEMA
    from search_engine_spark.streaming import StreamingIndexer

    spark = _spark("se-stream-ingest")
    cfg = EngineConfig(
        tokenizer=args.tokenizer,
        chunk_docs=args.chunk_docs,
        chunks_per_batch=args.chunks_per_batch,
        n_term_buckets=args.term_buckets,
    )
    indexer = StreamingIndexer(spark, args.index, args.staging, cfg)
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(args.source)
    indexer.start(stream, available_now=True)
    res = indexer.advance(final=args.final, upsert=args.upsert)
    print(json.dumps({k: v for k, v in res.items() if k != "batch"}))


def cmd_compact(args: argparse.Namespace) -> None:
    """Collapse all committed batches into one (then optionally vacuum
    the superseded dirs) — run after many streaming increments to undo
    the small-file fragmentation they leave."""
    from search_engine_spark.build.builder import IndexBuilder
    from search_engine_spark.config import EngineConfig

    spark = _spark("se-compact")
    builder = IndexBuilder(spark, args.index, EngineConfig())
    res = builder.compact()
    if args.vacuum and res.get("compacted"):
        res["vacuum"] = builder.vacuum()
    print(json.dumps(res))


def cmd_delete(args: argparse.Namespace) -> None:
    """Tombstone docs by id list or docs-table predicate.  Deletion is
    logical and immediate for newly opened readers; `compact` purges
    physically and recomputes stats (builder.delete_docs docstring)."""
    from pyspark.sql import functions as F

    from search_engine_spark.build.builder import IndexBuilder
    from search_engine_spark.config import EngineConfig

    spark = _spark("se-delete")
    builder = IndexBuilder(spark, args.index, EngineConfig())
    if args.ids:
        res = builder.delete_docs(int(i) for i in args.ids.split(","))
    else:
        res = builder.delete_where(F.expr(args.where))
    print(json.dumps(res))


def cmd_curate(args: argparse.Namespace) -> None:
    """Corpus -> training corpus: near-dup removal + optional language
    filter + quality floor, survivors PII-scrubbed (pipeline/curate.py).
    Prints the per-reason decision counts; optionally persists the full
    decision table for auditing."""
    import os

    from pyspark.sql import functions as F

    from search_engine_spark.pipeline import curate

    spark = _spark("se-curate")
    df = (
        spark.read.parquet(args.input)
        if os.path.exists(args.input)
        else spark.read.table(args.input)
    )
    bench = None
    if args.bench:
        bench = (
            spark.read.parquet(args.bench)
            if os.path.exists(args.bench)
            else spark.read.table(args.bench)
        )
    kwargs = dict(
        id_col=args.id_col,
        text_col=args.text_col,
        neardup_threshold=args.neardup_threshold,
        min_quality=args.min_quality,
        allowed_langs=tuple(args.langs.split(",")) if args.langs else None,
        bench=bench,
        contamination_kwargs=dict(
            bench_id_col=args.bench_id_col,
            bench_text_col=args.bench_text_col,
            shingle_k=args.bench_shingle_k,
            min_overlap_frac=args.bench_overlap,
        ),
    )
    dec = curate.curate_decisions(df, **kwargs).cache()
    if args.decisions:
        dec.write.mode("error").parquet(args.decisions)
    out = curate.curated_corpus(
        df, scrub_pii=not args.no_scrub, **kwargs
    )
    out.write.mode("error").parquet(args.output)
    counts = {
        r["reason"]: int(r["count"])
        for r in dec.groupBy("reason").count().collect()
    }
    print(json.dumps({"input_rows": df.count(), "reasons": counts,
                      "kept_rows": counts.get("kept", 0)}))


def cmd_compose(args: argparse.Namespace) -> None:
    """Training-data composition: optional domain-mixture sampling ->
    optional token-budget best-first selection -> surviving corpus out;
    optionally also writes concat-and-chop pack assignments for the
    survivors (pipeline/packing.py)."""
    import os

    from pyspark.sql import functions as F

    from search_engine_spark.pipeline import packing

    spark = _spark("se-compose")
    df = (
        spark.read.parquet(args.input)
        if os.path.exists(args.input)
        else spark.read.table(args.input)
    )
    n_in = df.count()
    if args.mixture:
        weights = {}
        for part in args.mixture.split(","):
            g, w = part.split("=")
            weights[g] = float(w)
        df = packing.mixture_sample(
            df, weights, group_col=args.group_col, id_col=args.id_col,
            seed=args.seed,
        )
    if args.token_budget is not None:
        kept = packing.take_token_budget(
            df, args.token_budget, id_col=args.id_col, text_col=args.text_col
        ).select(F.col("id").alias(args.id_col))
        df = df.join(F.broadcast(kept), args.id_col, "left_semi")
    df.write.mode("error").parquet(args.output)
    out = spark.read.parquet(args.output)
    n_out = out.count()
    n_packs = None
    if args.pack_out:
        asn = packing.pack_assignments(
            out, id_col=args.id_col, text_col=args.text_col,
            seq_len=args.pack_seq_len,
        )
        asn.write.mode("error").parquet(args.pack_out)
        n_packs = (
            packing.pack_stats(asn, args.pack_seq_len).count()
        )
    print(json.dumps({"input_rows": n_in, "kept_rows": n_out,
                      "n_packs": n_packs}))


def cmd_serve(args: argparse.Namespace) -> None:
    """Long-lived HTTP search endpoint over a warm engine (twin of the
    reference's web.py; also kills the per-query cold-start the one-shot
    `search` subcommand pays)."""
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.serve import serve

    spark = _spark("se-serve")
    serve(
        spark,
        args.index,
        host=args.host,
        port=args.port,
        config=EngineConfig(enable_spelling=args.spelling),
        corpus_path=args.corpus,
        model_path=args.model,
    )


def cmd_repl(args: argparse.Namespace) -> None:
    """Interactive query loop over ONE warm engine — twin of the
    reference's terminal REPL (``/root/reference/main.py:89-112``: load
    index once, loop ``input()`` -> search -> print scored results +
    snippets + timing).  Reads queries from stdin (one per line; EOF,
    Ctrl-C or ``:q`` exits), so it is scriptable: ``echo 'dup small' |
    ... repl --index ...``.  ``:mode X`` / ``:k N`` switch the search
    mode / result count mid-session."""
    import sys as _sys

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.plans.parser import SearchMode
    from search_engine_spark.query.engine import SearchEngine

    spark = _spark("se-repl")
    t0 = time.time()
    engine = SearchEngine(
        spark,
        args.index,
        EngineConfig(enable_spelling=args.spelling),
    )
    corpus = None
    if args.corpus:
        from search_engine_spark.sources.corpus import load_corpus

        corpus = load_corpus(spark, args.corpus)
    mode = SearchMode[args.mode]
    k = args.k
    print(f"Index loaded. Took {time.time() - t0:.4f}s", file=_sys.stderr)
    interactive = _sys.stdin.isatty()
    while True:
        try:
            if interactive:
                print("query> ", end="", flush=True, file=_sys.stderr)
            line = _sys.stdin.readline()
        except KeyboardInterrupt:
            break
        if not line:
            break
        query = line.strip()
        if not query:
            continue
        if query in (":q", ":quit", ":exit"):
            break
        if query.startswith(":mode "):
            try:
                mode = SearchMode[query.split(None, 1)[1].strip().upper()]
                print(f"mode = {mode.name}", file=_sys.stderr)
            except KeyError as e:
                print(f"unknown mode {e}", file=_sys.stderr)
            continue
        if query.startswith(":k "):
            k = int(query.split(None, 1)[1])
            print(f"k = {k}", file=_sys.stderr)
            continue
        t = time.time()
        try:
            ranked = engine.search(query, mode, num_return=k)
            rows = engine.attach_doc_info(ranked.collect(), corpus)
        except Exception as e:  # parse errors etc. must not kill the loop
            print(f"error: {e}", file=_sys.stderr)
            continue
        wall = time.time() - t
        for r in sorted(rows, key=lambda r: r.rank):
            line = (
                f"{r.rank:3d}  {r.score:12.6f}  {r.doc_id:10d}  "
                f"{r.repo}/{r.path}"
            )
            if corpus is not None and r.snippet is not None:
                line += f"  | {r.snippet}"
            print(line)
        print(f"-- {len(rows)} results in {wall:.4f}s", file=_sys.stderr)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="search_engine_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build/resume the index")
    b.add_argument("--corpus", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--tokenizer", default="simplemma")
    b.add_argument("--chunk-docs", type=int, default=1 << 17)
    b.add_argument("--chunks-per-batch", type=int, default=64)
    b.add_argument("--build-concurrency", type=int, default=1,
                   help="lineage batches submitted as concurrent Spark "
                        "jobs (pipelined bulk build; commit unit unchanged)")
    b.add_argument("--term-buckets", type=int, default=32)
    b.add_argument("--idf-threshold", type=float, default=1.5,
                   help="low-IDF term pruning threshold (reference 1.5); "
                        "pass -1e18 to disable")
    b.add_argument("--max-batches", type=int, default=None)
    b.add_argument("--no-resume", action="store_true")
    b.add_argument("--trigrams", action="store_true")
    b.set_defaults(fn=cmd_build)

    s = sub.add_parser("search", help="query a built index")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument(
        "--mode",
        default="QUERY_EVALUATOR",
        choices=["AND", "OR", "NOT", "PHRASE", "QUERY_EVALUATOR", "SEMANTIC"],
    )
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--rerank", action="store_true")
    s.add_argument("--spelling", action="store_true")
    s.add_argument("--embeddings", default=None,
                   help="embeddings parquet (SEMANTIC mode)")
    s.add_argument("--query-vec-id", type=int, default=None,
                   help="use a stored vector as the query embedding")
    s.add_argument("--model-dim", type=int, default=None,
                   help="query-encoder dim; defaults to the stored "
                        "_embeddings_meta.json (errors on conflict)")
    s.add_argument("--model", default=None,
                   help="trained re-ranker weights (.npz from make-dataset --train)")
    s.set_defaults(fn=cmd_search)

    e = sub.add_parser("embed", help="embedding ingestion (B13)")
    e.add_argument("--corpus", required=True)
    e.add_argument("--output", required=True)
    e.add_argument("--model", default="fake-md5")
    e.add_argument("--id-col", default="doc_id")
    e.add_argument("--body-col", default="text")
    e.add_argument("--title-col", default=None)
    e.add_argument("--model-dim", type=int, default=64)
    e.add_argument("--truncate-dim", type=int, default=32)
    e.add_argument("--batch-size", type=int, default=32)
    e.set_defaults(fn=cmd_embed)

    a = sub.add_parser("ann-build", help="materialize an ANN index")
    a.add_argument("--embeddings", required=True)
    a.add_argument("--output", required=True)
    a.add_argument("--kind", choices=["lsh", "ivf"], default="lsh")
    a.add_argument("--n-planes", type=int, default=4)
    a.add_argument("--n-centroids", type=int, default=16)
    a.add_argument("--seed", type=int, default=11)
    a.set_defaults(fn=cmd_ann_build)

    d = sub.add_parser(
        "make-dataset",
        help="offline training dataset (+ optional re-ranker training)",
    )
    d.add_argument("--documents", required=True)
    d.add_argument("--output", required=True)
    d.add_argument("--id-col", default="doc_id")
    d.add_argument("--title-col", default="source")
    d.add_argument("--body-col", default="text")
    d.add_argument("--index", default=None,
                   help="mine top100 candidates from this index's BM25 run "
                        "instead of the hash-synthetic ranking")
    d.add_argument("--train", action="store_true")
    d.add_argument("--epochs", type=int, default=25)
    d.add_argument("--lr", type=float, default=5e-4)
    d.set_defaults(fn=cmd_make_dataset)

    st = sub.add_parser(
        "stream-ingest", help="drain a streaming source into the index"
    )
    st.add_argument("--source", required=True)
    st.add_argument("--index", required=True)
    st.add_argument("--staging", required=True)
    st.add_argument("--final", action="store_true")
    st.add_argument("--upsert", action="store_true",
                    help="tombstone older (repo, path) versions the "
                         "increment supersedes")
    st.add_argument("--tokenizer", default="simplemma")
    st.add_argument("--chunk-docs", type=int, default=1 << 17)
    st.add_argument("--chunks-per-batch", type=int, default=64)
    st.add_argument("--term-buckets", type=int, default=32)
    st.set_defaults(fn=cmd_stream_ingest)

    cp = sub.add_parser(
        "compact",
        help="collapse committed batches into one (see builder.compact)",
    )
    cp.add_argument("--index", required=True)
    cp.add_argument("--vacuum", action="store_true",
                    help="also delete the superseded batch dirs")
    cp.set_defaults(fn=cmd_compact)

    dl = sub.add_parser(
        "delete",
        help="tombstone docs (logical delete; `compact` purges physically)",
    )
    dl.add_argument("--index", required=True)
    g = dl.add_mutually_exclusive_group(required=True)
    g.add_argument("--ids", help="comma-separated doc ids")
    g.add_argument("--where",
                   help="SQL predicate over docs-table metadata "
                        "(repo, path, commit, lang)")
    dl.set_defaults(fn=cmd_delete)

    cu = sub.add_parser(
        "curate",
        help="corpus -> curated training corpus "
             "(decontam+dedup+lang+quality+PII)",
    )
    cu.add_argument("--input", required=True,
                    help="parquet path or catalog table with id+text cols")
    cu.add_argument("--output", required=True)
    cu.add_argument("--decisions", default=None,
                    help="also write the (id, keep, reason) table here")
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--min-quality", type=float, default=0.0)
    cu.add_argument("--langs", default=None,
                    help="comma-separated allow-list, e.g. en,de")
    cu.add_argument("--neardup-threshold", type=float, default=0.5)
    cu.add_argument("--no-scrub", action="store_true")
    cu.add_argument("--bench", default=None,
                    help="benchmark/eval table (parquet path or catalog "
                         "table) for n-gram decontamination")
    cu.add_argument("--bench-id-col", default="bench_id")
    cu.add_argument("--bench-text-col", default="bench_text")
    cu.add_argument("--bench-shingle-k", type=int, default=8)
    cu.add_argument("--bench-overlap", type=float, default=0.5)
    cu.set_defaults(fn=cmd_curate)

    co = sub.add_parser(
        "compose",
        help="mixture-sample + token-budget select + sequence-pack a corpus",
    )
    co.add_argument("--input", required=True)
    co.add_argument("--output", required=True)
    co.add_argument("--id-col", default="doc_id")
    co.add_argument("--text-col", default="text")
    co.add_argument("--group-col", default="lang")
    co.add_argument("--mixture", default=None,
                    help="per-group keep rates, e.g. en=0.8,de=0.5")
    co.add_argument("--seed", type=int, default=7)
    co.add_argument("--token-budget", type=int, default=None,
                    help="keep best-quality docs up to this many tokens")
    co.add_argument("--pack-out", default=None,
                    help="also write pack assignments here")
    co.add_argument("--pack-seq-len", type=int, default=2048)
    co.set_defaults(fn=cmd_compose)

    sv = sub.add_parser(
        "serve", help="HTTP search endpoint over a warm engine"
    )
    sv.add_argument("--index", required=True)
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8080)
    sv.add_argument("--spelling", action="store_true")
    sv.add_argument("--corpus", default=None,
                    help="corpus parquet for result snippets")
    sv.add_argument("--model", default=None,
                    help="re-ranker weights (.npz) for rerank=1 requests")
    sv.set_defaults(fn=cmd_serve)

    rp = sub.add_parser(
        "repl", help="interactive query loop over one warm engine"
    )
    rp.add_argument("--index", required=True)
    rp.add_argument("--mode", default="QUERY_EVALUATOR",
                    choices=["AND", "OR", "NOT", "PHRASE", "QUERY_EVALUATOR"])
    rp.add_argument("--k", type=int, default=10)
    rp.add_argument("--spelling", action="store_true")
    rp.add_argument("--corpus", default=None,
                    help="corpus path/table for result snippets")
    rp.set_defaults(fn=cmd_repl)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
