"""Corpus source + dense doc-id assignment.

Input shape per BASELINE.json input_hint:
``(repo:string, path:string, commit:string, lang:string, content:string)``.
``path`` is the *title* field, ``content`` the *body* (reference:
``ingestion.py:751-752``).

Doc ids must be dense ints assigned in a stable global order (the
reference assigns them by input-row ordinal, ``ingestion.py:732``; we pin
the order to ``(repo, path, commit)``).  A global ``row_number()`` window
would be a single-task total sort — instead we use the partition-offset
scheme: ``repartitionByRange`` on the sort key (deterministic sampling
seed), count rows per range partition (one cheap agg job), broadcast the
cumulative offsets, then a per-partition ``row_number`` window.  This also
yields the *disjoint contiguous doc-range per partition* property the
build relies on (partial posting lists concatenate back in sorted order —
the distributed mirror of the reference's disjoint block ranges,
``ingestion.py:473-485``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SORT_KEYS = ["repo", "path", "commit"]


def load_corpus(spark: SparkSession, source: str) -> DataFrame:
    """Corpus from a path OR a catalog table identifier.

    The north rule's deployment reads an Iceberg table of source-code
    repositories: pass ``catalog.db.corpus`` (any dotted identifier a
    configured catalog resolves — Iceberg via
    ``spark.sql.catalog.<name>`` settings on spark-submit; temp views in
    tests) and the scan goes through ``spark.read.table`` with the
    catalog's partition pruning / column stats.  Anything that looks
    like a filesystem location (contains ``/``, a URI scheme, or exists
    on the local filesystem — so a bare relative filename like
    ``corpus.parquet`` is not misrouted to the catalog) stays a parquet
    path read.  ``table:`` forces catalog resolution for identifiers
    that shadow a local path."""
    import os

    if source.startswith("table:"):
        return spark.read.table(source[len("table:"):]).select(
            "repo", "path", "commit", "lang", "content"
        )
    if "/" in source or "://" in source or os.path.exists(source):
        return spark.read.parquet(source)
    return spark.read.table(source).select(
        "repo", "path", "commit", "lang", "content"
    )


CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"


def load_corpus_csv(
    spark: SparkSession,
    path: str,
    sep: str = "\t",
    header: bool = False,
) -> DataFrame:
    """Corpus from delimited text (the reference ingests headerless TSVs,
    ``create-dataset.py:8-19``).  Column order must be
    (repo, path, commit, lang, content); multiline/quoted content is
    handled by Spark's CSV parser.  Prefer parquet at scale — CSV scans
    can't column-prune or push filters — but the loader keeps TSV corpora
    drop-in."""
    return (
        spark.read.schema(CORPUS_SCHEMA)
        .option("sep", sep)
        .option("header", str(header).lower())
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(path)
    )


def load_corpus_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Corpus from JSON-lines (one object per document with the canonical
    field names).  Schema is pinned, not inferred — a 10^12-file
    inference pass would be its own job, and drifting field types would
    silently corrupt doc-id assignment."""
    return (
        spark.read.schema(CORPUS_SCHEMA)
        .json(path)
        .select("repo", "path", "commit", "lang", "content")
    )


# Range-partition width for dense-id assignment.  Each range partition
# is sorted in one task (row_number window), so partition row count —
# not corpus size — sets that task's memory; pinning partitions to core
# count made the sort superlinear once partitions outgrew executor
# memory (measured: docs phase 50 s @20.48M -> 163 s @40.96M with 32
# fixed partitions).  2^18 rows keeps the per-task sort comfortably
# in-memory at any corpus size; the count pass build_docs already runs
# supplies n_rows for free.
ID_ASSIGN_ROWS_PER_PARTITION = 1 << 18


def assign_doc_ids(
    corpus: DataFrame,
    n_partitions: int | None = None,
    n_rows: int | None = None,
    trust_sha256: bool = False,
) -> DataFrame:
    """Adds dense ``doc_id`` (0..N-1 in (repo, path, commit) order) and
    ``sha256`` (per-row invariant vs the source corpus).

    ``sha256`` is computed from ``content``, overwriting any ``sha256``
    column the input carries (a user corpus's own column is not the
    invariant ``verify_corpus`` checks).  Only with ``trust_sha256`` is an
    existing column kept and ``content`` not required — for
    ``IndexBuilder.build_docs``' slim path: hashing is a per-row map, so
    computing ``sha256`` *before* this function and projecting
    ``content`` away means the range shuffle (and the persist below)
    moves ~150-byte key rows instead of whole documents — at
    100 TB that is the difference between shuffling the corpus and
    shuffling ~1% of it (measured: the full-row form filled 56 GB of
    block-manager scratch at 163.84M docs and died; the slim form fits).
    Per-row hashes are shuffle-invariant, so the output is bit-identical.

    The ranged DataFrame is persisted before the counts pass: range
    partitioning samples its boundaries, and two *separate* evaluations of
    the same plan can pick different boundaries — the offsets from pass 1
    would then be applied to a differently-partitioned pass 2, silently
    duplicating/dropping ids.  Callers must materialize the result (write
    it) before unpersisting; ``IndexBuilder.build_docs`` additionally
    asserts row-count conservation.
    """
    spark = corpus.sparkSession
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism
        if n_rows is not None:
            n_partitions = max(
                n_partitions,
                -(-n_rows // ID_ASSIGN_ROWS_PER_PARTITION),
            )
    ranged = corpus.repartitionByRange(n_partitions, *SORT_KEYS).withColumn(
        "_pid", F.spark_partition_id()
    )
    ranged.persist()
    counts = ranged.groupBy("_pid").count().collect()
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r._pid):
        offsets[row._pid] = acc
        acc += row["count"]
    offset_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _offset long"
    )
    w = Window.partitionBy("_pid").orderBy(*SORT_KEYS)
    out = (
        ranged.withColumn("_rn", F.row_number().over(w).cast("long") - 1)
        .join(F.broadcast(offset_df), "_pid")
        .withColumn("doc_id", F.col("_offset") + F.col("_rn"))
    )
    if not trust_sha256:
        out = out.withColumn("sha256", F.sha2(F.col("content"), 256))
    return out.drop("_pid", "_rn", "_offset")
