"""Driver contracts for the training-data pipeline operators
(Spark engine vs DuckDB oracle over the ``documents`` / ``embeddings``
views).  See ``search_engine_spark/contracts.py`` for the float-parity
rules; hash functions are md5-prefix based so both engines compute
identical values."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.pipeline import dedup, similarity, textstats

_TOK = "regexp_extract_all(lower(text), '[a-z0-9_]+')"
_H = "(('0x' || substr(md5({s}), 1, 8))::BIGINT)"
_P = dedup.MINHASH_P


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# 3-gram shingle list (distinct, first-seen order) — twin of
# dedup.shingles_col(text, 3)
_SHINGLES = f"""
list_distinct(list_transform(
  range(greatest(len({_TOK}) - 3, 0) + 1),
  i -> array_to_string(({_TOK})[i + 1 : i + 3], ' ')
))"""


def _shingles_of(alias: str) -> str:
    return _SHINGLES.replace("text", f"{alias}.text")


# ------------------------------------------------------------ dedup

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups over a corpus with planted duplicates (documents
    unioned with a deterministic copy of doc_id % 10 == 0 rows)."""
    docs = _docs(spark, sf_dir)
    planted = docs.where(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return dedup.exact_dup_groups(
        docs.unionByName(planted), "doc_id", "text"
    )


SQL_DEDUP_EXACT = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(text) AS content_md5,
       count(*)::BIGINT AS n_docs,
       min(doc_id) AS keep_id
FROM u GROUP BY md5(text) HAVING count(*) > 1
"""


def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature summary per doc (first/min/sum of the 16-hash
    signature) — validates the vectorized signature computation."""
    sigs = dedup.minhash_signatures(_docs(spark, sf_dir), "doc_id", "text")
    return sigs.select(
        "id",
        F.col("sig")[0].alias("sig0"),
        F.array_min("sig").alias("sig_min"),
        F.aggregate(
            "sig", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sig_sum"),
    )


def _sql_minhash_sig() -> str:
    params = dedup.minhash_params(16, seed=7)
    hashes = ", ".join(
        f"list_min(list_transform(xs, x -> ({a} * x + {b}) % {_P}))"
        for a, b in params
    )
    return f"""
WITH sh AS (
  SELECT doc_id AS id,
         list_transform({_SHINGLES}, s -> {_H.format(s='s')}) AS xs
  FROM documents
),
sig AS (SELECT id, [{hashes}] AS sig FROM sh)
SELECT id, sig[1] AS sig0, list_min(sig) AS sig_min,
       list_reduce(sig, (a, x) -> a + x) AS sig_sum
FROM sig
"""


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: band candidates -> exact
    Jaccard >= 0.5 -> verified pairs."""
    return dedup.minhash_dedup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.5
    ).select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))


def _sql_minhash_neardup() -> str:
    params = dedup.minhash_params(16, seed=7)
    band_keys = []
    for b in range(4):
        cols = [
            f"list_min(list_transform(xs, x -> ({a} * x + {bb}) % {_P}))::VARCHAR"
            for a, bb in params[b * 4 : (b + 1) * 4]
        ]
        band_keys.append(" || '_' || ".join(cols))
    bands_sql = ", ".join(f"({k}) AS band{b}" for b, k in enumerate(band_keys))
    return f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLES} AS shingles,
         list_transform({_SHINGLES}, s -> {_H.format(s='s')}) AS xs
  FROM documents
),
banded0 AS (SELECT id, shingles, {bands_sql} FROM sh),
banded AS (
  SELECT id, shingles, unnest(['b0_' || band0, 'b1_' || band1,
                               'b2_' || band2, 'b3_' || band3]) AS bk
  FROM banded0
),
cand AS (
  SELECT DISTINCT l.id AS id1, r.id AS id2, l.shingles AS s1, r.shingles AS s2
  FROM banded l JOIN banded r ON l.bk = r.bk AND l.id < r.id
),
scored AS (
  SELECT id1, id2,
         len(list_intersect(s1, s2))::DOUBLE
           / len(list_distinct(list_concat(s1, s2))) AS j
  FROM cand
)
SELECT id1, id2, round(j, 6)::DOUBLE AS jaccard FROM scored WHERE j >= 0.5
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_table(_docs(spark, sf_dir), "doc_id", "text")


def _sql_simhash() -> str:
    # per distinct token: h = 32-bit md5 prefix, tf = occurrences; bit i of
    # the fingerprint set iff sum(+-tf by bit i of h) > 0
    bit_terms = " + ".join(
        f"""(CASE WHEN list_sum(list_transform(th,
              s -> CASE WHEN (s.h >> {i}) & 1 = 1 THEN s.tf ELSE -s.tf END)) > 0
            THEN {1 << i}::BIGINT ELSE 0 END)"""
        for i in range(32)
    )
    return f"""
WITH toks AS (SELECT doc_id AS id, {_TOK} AS l FROM documents),
th AS (
  SELECT id,
         list_transform(
           list_distinct(l),
           t -> struct_pack(
             h := {_H.format(s='t')},
             tf := len(list_filter(l, x -> x = t))
           )
         ) AS th
  FROM toks
)
SELECT id, ({bit_terms}) AS simhash FROM th
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for consecutive doc-id pairs."""
    docs = _docs(spark, sf_dir)
    pairs = docs.select(
        F.col("doc_id").alias("id1"), (F.col("doc_id") + 1).alias("id2")
    ).join(
        docs.select(F.col("doc_id").alias("id2")), "id2", "semi"
    )
    return dedup.jaccard_pairs(docs, pairs, "doc_id", "text").select(
        "id1", "id2", F.round("jaccard", 6).alias("jaccard")
    )


SQL_NGRAM_JACCARD = f"""
SELECT a.doc_id AS id1, b.doc_id AS id2,
       round(
         len(list_intersect({_shingles_of('a')}, {_shingles_of('b')}))::DOUBLE
           / len(list_distinct(list_concat({_shingles_of('a')}, {_shingles_of('b')}))),
         6)::DOUBLE AS jaccard
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over a corpus with planted duplicate
    vectors (vec_id % 10 == 0 copied to +1e6): LSH-bucket candidates,
    exact pairwise cosine >= 0.99."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    planted = emb.where(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    pairs = dedup.embedding_neardup_pairs(
        emb.unionByName(planted), threshold=0.99
    )
    return pairs.select("id1", "id2", F.round("cos", 6).alias("cos"))


def _sql_dedup_embedding(sf_dir: str | None = None) -> str | None:
    sf_dir = sf_dir or CORRECTNESS_SF_DIR
    try:
        embs = _load_oracle_embeddings(sf_dir)
    except Exception:
        return None
    planes = similarity.hyperplanes(embs.shape[1], n_planes=4, seed=11)
    plane_cols = ", ".join(
        f"{_lit_list(p)} AS p{i}" for i, p in enumerate(planes)
    )
    bucket = " + ".join(
        f"(CASE WHEN {_seq_dot_sql('e.embedding', f'pl.p{i}')} > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(planes.shape[0])
    )
    pair_dot = (
        "list_reduce(list_transform(range(len(l.embedding)), "
        "i -> l.embedding[i + 1]::DOUBLE * r.embedding[i + 1]::DOUBLE), "
        "(a, x) -> a + x)"
    )
    row_norm = (
        "sqrt(list_reduce(list_transform({c}, x -> x::DOUBLE * x::DOUBLE), "
        "(a, x) -> a + x))"
    )
    return f"""
WITH pl AS (SELECT {plane_cols}),
u AS (
  SELECT vec_id AS id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 10 = 0
),
b AS (SELECT e.id, e.embedding, ({bucket}) AS bucket FROM u e, pl),
pairs AS (
  SELECT l.id AS id1, r.id AS id2,
         {pair_dot}
           / ({row_norm.format(c='l.embedding')}
              * {row_norm.format(c='r.embedding')}) AS cos
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id
)
SELECT id1, id2, round(cos, 6)::DOUBLE AS cos FROM pairs WHERE cos >= 0.99
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified MinHash near-dup pairs —
    the canonical-doc assignment per duplicate cluster."""
    pairs = dedup.minhash_dedup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.5
    )
    return dedup.dedup_components(pairs)


def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-doc selection per duplicate cluster (longest text wins,
    ties to the smallest id) — the keep/drop decision that materializes
    a deduplicated corpus (`dedup.dedup_corpus` filters on it)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    return dedup.representatives(docs, pairs, "doc_id", "text")


def _sql_dedup_representatives() -> str:
    """Closure oracle + per-component window: keep = first by
    (length DESC, id ASC) within each duplicate cluster."""
    components = _sql_dedup_components()
    return f"""
WITH comp AS ({components}),
m AS (
  SELECT c.id, c.component, length(d.text) AS len
  FROM comp c JOIN documents d ON d.doc_id = c.id
)
SELECT id, component,
       (row_number() OVER (PARTITION BY component ORDER BY len DESC, id)
          = 1)::INT AS keep
FROM m
"""


def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate-cluster labels via the O(log n) large-star/
    small-star algorithm (the long-chain scale path) — label-identical
    to min-label propagation, so it shares the recursive-CTE oracle."""
    pairs = dedup.minhash_dedup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.5
    )
    return dedup.components_two_phase(pairs)


def q_dedup_components_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged components contract (one driver row for both algorithms):
    min-label propagation and large-star/small-star labels joined per
    id — both must equal the recursive-closure oracle's min-reachable-id
    labels, so any divergence between the two breaks the hash."""
    pairs = dedup.minhash_dedup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.5
    )
    prop = dedup.dedup_components(pairs)
    star = dedup.components_two_phase(pairs).withColumnRenamed(
        "component", "component_star"
    )
    return prop.join(star, "id")


def _sql_dedup_components_both() -> str:
    return f"""
WITH comp AS ({_sql_dedup_components()})
SELECT id, component, component AS component_star FROM comp
"""


def _sql_dedup_components() -> str:
    """Recursive-CTE oracle: reachability closure, component = min
    reachable id (DuckDB explores the closure; Spark converges by label
    propagation — same fixpoint)."""
    neardup = _sql_minhash_neardup()
    return f"""
WITH RECURSIVE pairs AS ({neardup}),
edges AS (
  SELECT id1 AS src, id2 AS dst FROM pairs
  UNION
  SELECT id2 AS src, id1 AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id, id AS comp FROM verts
  UNION
  SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id, min(comp) AS component FROM reach GROUP BY id
"""


# ------------------------------------------------------------ similarity

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    qvec = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).head()["embedding"]
    ]
    top = similarity.cosine_topk(emb, qvec, k=10)
    return top.select("id", F.round("cos", 6).alias("cos"))


SQL_COSINE_TOPK = """
WITH q AS (
  SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
  FROM embeddings WHERE vec_id = 0
),
scored AS (
  SELECT e.vec_id AS id,
         list_reduce(
           list_transform(range(len(e.embedding)),
             i -> e.embedding[i + 1]::DOUBLE * q.qv[i + 1]),
           (a, x) -> a + x)
         / (sqrt(list_reduce(
              list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE),
              (a, x) -> a + x))
            * sqrt(list_reduce(list_transform(q.qv, x -> x * x),
                               (a, x) -> a + x))) AS cos
  FROM embeddings e, q
)
SELECT id, round(cos, 6)::DOUBLE AS cos
FROM scored ORDER BY cos DESC, id LIMIT 10
"""


_ANN_CACHE: dict[tuple[str, str], object] = {}
# bump when the materialized ANN layout changes (stale /tmp reuse guard)
_ANN_LAYOUT_V = "v1"
# the driver runs the SQL oracles at this fixed sf; the ANN oracle SQL
# inlines plane/centroid/probe constants derived from this table
CORRECTNESS_SF_DIR = "/root/testdata/sf0.01"


def _ann_index(spark: SparkSession, sf_dir: str, kind: str):
    """Build-or-open the materialized ANN index for an sf dir (cached —
    build once, query many; the topk scan partition-prunes)."""
    import hashlib
    import os
    import tempfile

    key = (os.path.abspath(sf_dir), kind)
    if key in _ANN_CACHE:
        return _ANN_CACHE[key]
    from search_engine_spark.contracts import data_fingerprint

    cls = similarity.LshIndex if kind.startswith("lsh") else similarity.IvfIndex
    fp = data_fingerprint(key[0], tables=("embeddings",))
    tag = hashlib.sha256(
        f"{key[0]}|{kind}|{_ANN_LAYOUT_V}|{fp}".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"se_ann_{tag}")
    if os.path.exists(os.path.join(path, "ann_meta.json")):
        idx = cls.open(spark, path)
    else:
        idx = cls.build(_emb(spark, sf_dir), path)
    _ANN_CACHE[key] = idx
    return idx


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    emb = _emb(spark, sf_dir)
    return [
        float(v) for v in emb.where(F.col("vec_id") == 0).head()["embedding"]
    ]


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the materialized index (partition-pruned nprobe-cell
    scan, exact cosine re-score)."""
    idx = _ann_index(spark, sf_dir, "ivf")
    top = idx.topk(_query_vec(spark, sf_dir), k=10)
    return top.select("id", F.round("cos", 6).alias("cos"))


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN over the materialized index (partition-pruned probed-bucket
    scan, exact cosine re-score)."""
    idx = _ann_index(spark, sf_dir, "lsh")
    top = idx.topk(_query_vec(spark, sf_dir), k=10)
    return top.select("id", F.round("cos", 6).alias("cos"))


def q_lsh_deleted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN probe after vector deletion: every ``vec_id % 10 == 0``
    is tombstoned, then physically purged by the ANN compaction — the
    probe must return the top-k over the survivors only (the oracle
    scores the embeddings table WHERE vec_id % 10 <> 0)."""
    import os

    idx = _ann_index(spark, sf_dir, "lsh_deleted")
    marker = os.path.join(idx.path, "_DELETED")
    if not os.path.exists(marker):
        victims = _emb(spark, sf_dir).where(
            F.col("vec_id") % 10 == 0
        ).select("vec_id")
        idx.delete(victims)
        idx.compact()
        open(marker, "w").close()
    top = idx.topk(_query_vec(spark, sf_dir), k=10)
    return top.select("id", F.round("cos", 6).alias("cos"))


def q_lsh_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged LSH ANN contract (one driver row for both lifecycle
    stages): the partition-pruned probe over the full materialized index
    ('full') and over the tombstone-deleted + compacted twin
    ('deleted')."""
    full = q_lsh_topk(spark, sf_dir).select(
        F.lit("full").alias("stage"), "id", "cos"
    )
    deleted = q_lsh_deleted_topk(spark, sf_dir).select(
        F.lit("deleted").alias("stage"), "id", "cos"
    )
    return full.unionByName(deleted)


# --- ANN oracle SQL: full hash-checked twins.  The quantizer constants
# (hyperplanes / k-means centroids) and the driver-side probe sets are
# deterministic functions of the sf0.01 embeddings table + fixed seeds, so
# they are computed here in numpy and inlined as SQL literals; the SQL then
# replicates the row-side bucket/cell assignment (same left-to-right float
# accumulation as Spark's F.aggregate) and the exact cosine re-score.

def _lit_list(vec) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vec) + "]::DOUBLE[]"


def _load_oracle_embeddings(sf_dir: str) -> "object":
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = t["vec_id"].to_numpy()
    embs = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    return embs[np.argsort(ids)]


def _seq_dot_sql(vec_expr: str, const_col: str) -> str:
    return (
        f"list_reduce(list_transform(range(len({vec_expr})), "
        f"i -> {vec_expr}[i + 1]::DOUBLE * {const_col}[i + 1]), "
        f"(a, x) -> a + x)"
    )


def _cos_sql(qvec: list[float]) -> str:
    """Cosine vs an inlined query vector — mirrors
    ``similarity.cosine_to_query`` (query norm folded to a Python double)."""
    import numpy as np

    qn = float(np.sqrt(np.sum(np.asarray(qvec, dtype=np.float64) ** 2)))
    return (
        f"{_seq_dot_sql('e.embedding', 'q.qv')}"
        f" / (sqrt(list_reduce(list_transform(e.embedding,"
        f" x -> x::DOUBLE * x::DOUBLE), (a, x) -> a + x)) * {qn!r})"
    )


def _sql_ann_lsh(
    sf_dir: str = CORRECTNESS_SF_DIR, where: str = "TRUE"
) -> str | None:
    try:
        embs = _load_oracle_embeddings(sf_dir)
    except Exception:  # embeddings table absent: fall back to rows-only
        return None
    planes = similarity.hyperplanes(embs.shape[1], n_planes=4, seed=11)
    qvec = [float(v) for v in embs[0]]
    probe = similarity.lsh_probe_buckets(planes, qvec, probe_hamming=1)
    plane_cols = ", ".join(
        f"{_lit_list(p)} AS p{i}" for i, p in enumerate(planes)
    )
    bucket = " + ".join(
        f"(CASE WHEN {_seq_dot_sql('e.embedding', f'pl.p{i}')} > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(planes.shape[0])
    )
    return f"""
WITH pl AS (SELECT {plane_cols}),
q AS (SELECT {_lit_list(qvec)} AS qv),
b AS (
  SELECT e.vec_id AS id, e.embedding, ({bucket}) AS bucket
  FROM embeddings e, pl
  WHERE {where}
),
scored AS (
  SELECT e.id, {_cos_sql(qvec)} AS cos
  FROM b e, q
  WHERE e.bucket IN ({', '.join(str(x) for x in probe)})
)
SELECT id, round(cos, 6)::DOUBLE AS cos
FROM scored ORDER BY cos DESC, id LIMIT 10
"""


def _sql_ann_lsh_both(sf_dir: str = CORRECTNESS_SF_DIR) -> str | None:
    full = _sql_ann_lsh(sf_dir)
    if full is None:
        return None
    deleted = _sql_ann_lsh(sf_dir, where="e.vec_id % 10 <> 0")
    return f"""
SELECT 'full' AS stage, id, cos FROM ({full})
UNION ALL
SELECT 'deleted' AS stage, id, cos FROM ({deleted})
"""


def _sql_ann_ivf(sf_dir: str = CORRECTNESS_SF_DIR) -> str | None:
    try:
        embs = _load_oracle_embeddings(sf_dir)
    except Exception:
        return None
    import numpy as np

    cents = similarity.kmeans_centroids(embs[:4096], n_centroids=16, seed=11)
    qvec = [float(v) for v in embs[0]]
    qv = np.asarray(qvec, dtype=np.float64)
    order = np.argsort(((cents - qv[None, :]) ** 2).sum(axis=1))
    probe = [int(c) for c in order[:4]]
    cent_cols = ", ".join(
        f"{_lit_list(c)} AS c{i}" for i, c in enumerate(cents)
    )
    dists = ", ".join(
        f"list_reduce(list_transform(range(len(e.embedding)), "
        f"i -> (e.embedding[i + 1]::DOUBLE - ct.c{c}[i + 1])"
        f" * (e.embedding[i + 1]::DOUBLE - ct.c{c}[i + 1])), "
        f"(a, x) -> a + x)"
        for c in range(cents.shape[0])
    )
    return f"""
WITH ct AS (SELECT {cent_cols}),
q AS (SELECT {_lit_list(qvec)} AS qv),
cells AS (
  SELECT sub.vec_id AS id, sub.embedding,
         (list_position(sub.dl, list_min(sub.dl)) - 1) AS ivf_cell
  FROM (SELECT e.vec_id, e.embedding, [{dists}] AS dl
        FROM embeddings e, ct) AS sub
),
scored AS (
  SELECT e.id, {_cos_sql(qvec)} AS cos
  FROM cells e, q
  WHERE e.ivf_cell IN ({', '.join(str(x) for x in probe)})
)
SELECT id, round(cos, 6)::DOUBLE AS cos
FROM scored ORDER BY cos DESC, id LIMIT 10
"""


# ------------------------------------------------------------ text stats

# Deterministic PII salt appended to every 7th doc so the scrub contract
# always has live matches (2 emails, 2 IPv4s, 2 hex secrets per salted
# doc) regardless of what the synthetic corpus happens to contain.
_PII_SALT = (
    " mail alice.smith+dev@example-host.org cc bob_1@ex.io"
    " srv 10.0.0.7 gw 192.168.10.250"
    " key deadbeefcafebabe0123456789abcdef"
    " tok 0123456789ABCDEF0123456789abcdef00"
)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/secret redaction counts + scrubbed text over the salted corpus
    — same pattern strings evaluated by Spark (Java regex) and DuckDB
    (RE2); patterns are kept RE2-compatible so both dialects agree."""
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(_PII_SALT)),
        ).otherwise(F.col("text")),
    )
    return textstats.pii_scrub(docs, "doc_id", "text")


def _sql_pii_scrub() -> str:
    pats = dict(textstats.PII_PATTERNS)
    e, i4, hx = pats["email"], pats["ipv4"], pats["hex_secret"]
    scrub = (
        f"regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{e}', '<email>', 'g'), "
        f"'{i4}', '<ipv4>', 'g'), "
        f"'{hx}', '<hex_secret>', 'g')"
    )
    return f"""
WITH s AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || '{_PII_SALT}'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id AS id,
       len(regexp_extract_all(text, '{e}'))::BIGINT AS n_email,
       len(regexp_extract_all(text, '{i4}'))::BIGINT AS n_ipv4,
       len(regexp_extract_all(text, '{hx}'))::BIGINT AS n_hex_secret,
       {scrub} AS scrubbed,
       md5({scrub}) AS scrubbed_md5
FROM s
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(_docs(spark, sf_dir), "doc_id", "text")


SQL_TOKEN_COUNTS = f"""
SELECT doc_id AS id,
       len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT
         AS bpe_tokens,
       len(list_distinct({_TOK}))::BIGINT AS distinct_words
FROM documents
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.corpus_stats(_docs(spark, sf_dir), "doc_id", "text")


SQL_CORPUS_STATS = f"""
WITH t AS (SELECT len({_TOK}) AS n FROM documents),
s AS (
  SELECT count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS total_tokens,
         max(n)::BIGINT AS max_doc_tokens, min(n)::BIGINT AS min_doc_tokens
  FROM t
),
v AS (
  SELECT count(DISTINCT tok)::BIGINT AS vocab_size
  FROM (SELECT unnest({_TOK}) AS tok FROM documents)
)
SELECT n_docs, total_tokens, max_doc_tokens, min_doc_tokens,
       round(total_tokens::DOUBLE / n_docs, 6) AS avg_doc_tokens,
       vocab_size
FROM s, v
"""


def q_doclen_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.doc_length_histogram(
        _docs(spark, sf_dir), "doc_id", "text"
    )


SQL_DOCLEN_HIST = f"""
SELECT least(floor(len({_TOK}) / 100), 9)::INT AS bucket,
       count(*)::BIGINT AS n_docs
FROM documents GROUP BY 1
"""


_PROFILE_STAT_COLS = [
    "n_docs", "total_tokens", "max_doc_tokens", "min_doc_tokens",
    "avg_doc_tokens", "vocab_size",
]


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged corpus-profiling contract (one driver row for both ops) in
    long (metric, value) form: the one-row global stats unpivoted, plus
    the doc-length histogram as ``doclen_bucket_<b>`` rows."""
    docs = _docs(spark, sf_dir)
    melted = textstats.corpus_stats(docs, "doc_id", "text").select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("metric"),
                    F.col(c).cast("double").alias("value"),
                )
                for c in _PROFILE_STAT_COLS
            ])
        ).alias("kv")
    ).select("kv.metric", "kv.value")
    hist = textstats.doc_length_histogram(docs, "doc_id", "text").select(
        F.concat(
            F.lit("doclen_bucket_"), F.col("bucket").cast("string")
        ).alias("metric"),
        F.col("n_docs").cast("double").alias("value"),
    )
    return melted.unionByName(hist)


SQL_CORPUS_PROFILE = f"""
WITH t AS (SELECT len({_TOK}) AS n FROM documents),
s AS (
  SELECT count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS total_tokens,
         max(n)::BIGINT AS max_doc_tokens, min(n)::BIGINT AS min_doc_tokens
  FROM t
),
v AS (
  SELECT count(DISTINCT tok)::BIGINT AS vocab_size
  FROM (SELECT unnest({_TOK}) AS tok FROM documents)
),
stats AS (
  SELECT n_docs, total_tokens, max_doc_tokens, min_doc_tokens,
         round(total_tokens::DOUBLE / n_docs, 6) AS avg_doc_tokens,
         vocab_size
  FROM s, v
),
hist AS (
  SELECT least(floor(len({_TOK}) / 100), 9)::INT AS bucket,
         count(*)::BIGINT AS n_docs
  FROM documents GROUP BY 1
)
SELECT 'n_docs' AS metric, n_docs::DOUBLE AS value FROM stats
UNION ALL SELECT 'total_tokens', total_tokens::DOUBLE FROM stats
UNION ALL SELECT 'max_doc_tokens', max_doc_tokens::DOUBLE FROM stats
UNION ALL SELECT 'min_doc_tokens', min_doc_tokens::DOUBLE FROM stats
UNION ALL SELECT 'avg_doc_tokens', avg_doc_tokens FROM stats
UNION ALL SELECT 'vocab_size', vocab_size::DOUBLE FROM stats
UNION ALL SELECT 'doclen_bucket_' || bucket::VARCHAR, n_docs::DOUBLE
FROM hist
"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_scores(_docs(spark, sf_dir), "doc_id", "text")


_STOP_IN = ", ".join(repr(s) for s in textstats.STOPWORDS)
SQL_QUALITY = f"""
WITH t AS (
  SELECT doc_id AS id, text, {_TOK} AS l,
         length(text)::BIGINT AS n_chars,
         len({_TOK})::BIGINT AS n_tokens,
         len(list_filter({_TOK}, x -> x IN ({_STOP_IN}))) AS n_stop,
         len(regexp_extract_all(text, '[^a-zA-Z0-9_\\s]')) AS n_punct
  FROM documents
),
r AS (
  SELECT id, n_chars, n_tokens,
         CASE WHEN n_tokens > 0 THEN n_chars::DOUBLE / n_tokens ELSE 0.0 END
           AS mean_word_len,
         CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0.0 END
           AS stop_ratio,
         CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END
           AS punct_ratio
  FROM t
)
SELECT id, n_chars, n_tokens,
       round(mean_word_len, 6)::DOUBLE AS mean_word_len,
       round(stop_ratio, 6)::DOUBLE AS stop_ratio,
       round(punct_ratio, 6)::DOUBLE AS punct_ratio,
       round(least(n_tokens::DOUBLE / 100.0, 1.0) * 0.4
             + (1.0 - punct_ratio) * 0.3
             + least(stop_ratio * 5.0, 1.0) * 0.3, 6)::DOUBLE AS quality
FROM r
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(_docs(spark, sf_dir), "doc_id", "text")


def _sql_lang_id() -> str:
    hits = {
        lang: f"len(list_filter(l, x -> x IN ({', '.join(repr(m) for m in ms)})))"
        for lang, ms in textstats.LANG_MARKERS.items()
    }
    langs = list(hits)
    greatest = f"greatest({', '.join(hits[l] for l in langs)})"
    case = "CASE WHEN {g} = 0 THEN 'und' ".format(g=greatest)
    for l in langs:
        case += f"WHEN {hits[l]} = {greatest} THEN '{l}' "
    case += "ELSE 'und' END"
    return f"""
WITH t AS (SELECT doc_id AS id, {_TOK} AS l FROM documents)
SELECT id, {case} AS lang_pred, {greatest}::BIGINT AS lang_hits FROM t
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprints(_docs(spark, sf_dir), "doc_id", "text")


# raw (non-distinct) k-gram sequence in document order — winnowing windows
# are positional, so no list_distinct here (DuckDB's doesn't keep order)
_RAW_SHINGLES = f"""
list_transform(
  range(greatest(len({_TOK}) - 3, 0) + 1),
  i -> array_to_string(({_TOK})[i + 1 : i + 3], ' ')
)"""

SQL_FINGERPRINTS = f"""
WITH g AS (
  SELECT doc_id AS id,
         list_transform({_RAW_SHINGLES}, s -> {_H.format(s='s')}) AS hashes
  FROM documents
),
w AS (
  SELECT id,
         list_distinct(list_transform(
           range(greatest(len(hashes) - 4, 0) + 1),
           i -> list_min(hashes[i + 1 : i + 4])
         )) AS fps
  FROM g
)
SELECT id, len(fps)::BIGINT AS n_fingerprints,
       list_min(fps) AS min_fp, list_max(fps) AS max_fp
FROM w
"""


# ---------------------------------------------------------- curation

def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation decision table: near-dup removal + lang filter
    (en only) + quality floor (0.55), reason precedence near_dup > lang
    > low_quality — the end-to-end keep/drop pass chaining the
    individually-contracted primitives."""
    from search_engine_spark.pipeline import curate

    return curate.curate_decisions(
        _docs(spark, sf_dir), min_quality=0.55, allowed_langs=("en",)
    )


def _sql_curate() -> str:
    return f"""
WITH qual AS ({SQL_QUALITY}),
lg AS ({_sql_lang_id()}),
dups AS (SELECT id FROM ({_sql_dedup_representatives()}) WHERE keep = 0)
SELECT d.doc_id AS id,
       (CASE WHEN dups.id IS NOT NULL THEN 0
             WHEN lg.lang_pred NOT IN ('en') THEN 0
             WHEN qual.quality < 0.55 THEN 0
             ELSE 1 END)::INT AS keep,
       CASE WHEN dups.id IS NOT NULL THEN 'near_dup'
            WHEN lg.lang_pred NOT IN ('en') THEN 'lang'
            WHEN qual.quality < 0.55 THEN 'low_quality'
            ELSE 'kept' END AS reason
FROM documents d
JOIN qual ON qual.id = d.doc_id
JOIN lg ON lg.id = d.doc_id
LEFT JOIN dups ON dups.id = d.doc_id
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters in word-unit mode (the synthetic corpus
    is single-line, so words are the unit with actual repetition):
    duplicate-unit fraction + most-repeated-unit share."""
    return textstats.repetition_scores(
        _docs(spark, sf_dir), "doc_id", "text", unit_sep=" "
    )


SQL_REPETITION = """
WITH t AS (
  SELECT doc_id AS id,
         list_filter(string_split(text, ' '), u -> trim(u) != '') AS units
  FROM documents
),
c AS (
  SELECT id, len(units) AS n, len(list_distinct(units)) AS nd,
         coalesce(list_max(list_transform(list_distinct(units),
            u -> len(list_filter(units, x -> x = u)))), 0) AS top
  FROM t
)
SELECT id, n::BIGINT AS n_units, nd::BIGINT AS n_distinct_units,
       round(CASE WHEN n > 0 THEN (n - nd) / n::DOUBLE ELSE 0.0 END, 6)::DOUBLE
         AS dup_unit_frac,
       top::BIGINT AS top_unit_count,
       round(CASE WHEN n > 0 THEN top / n::DOUBLE ELSE 0.0 END, 6)::DOUBLE
         AS top_unit_frac
FROM c
"""


def q_decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination report: eval items are deterministic
    120-char prefixes of every 37th document; a document is flagged when
    it contains >= 50% (and >= 2) of an item's distinct 3-gram word
    shingles — catches the source doc and its planted near-dups."""
    from search_engine_spark.pipeline import curate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.substring("text", 1, 120).alias("bench_text"),
    )
    return curate.contamination_report(
        docs, bench, shingle_k=3, min_overlap_frac=0.5, min_hits=2
    )


SQL_DECONTAM_REPORT = f"""
WITH bench AS (
  SELECT doc_id AS bench_id, substr(text, 1, 120) AS text
  FROM documents WHERE doc_id % 37 = 0
),
bg AS (
  SELECT bench_id, len(sh) AS n_bench, unnest(sh) AS gram
  FROM (SELECT bench_id, {_SHINGLES} AS sh FROM bench)
),
dg AS (
  SELECT id, unnest(sh) AS gram
  FROM (SELECT doc_id AS id, {_SHINGLES} AS sh FROM documents)
),
hits AS (
  SELECT id, bench_id, n_bench, count(*)::BIGINT AS n_hit
  FROM dg JOIN bg USING (gram)
  WHERE gram != ''
  GROUP BY id, bench_id, n_bench
)
SELECT id, bench_id, n_hit, n_bench::BIGINT AS n_bench,
       round(n_hit / n_bench, 6)::DOUBLE AS overlap_frac
FROM hits
WHERE n_hit >= 2 AND n_hit >= 0.5 * n_bench
"""


def q_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing: deterministic doc order,
    512-token packs, distributed two-level prefix sum (bucket window +
    broadcast bucket-prefix — never a global single-partition window)."""
    from search_engine_spark.pipeline import packing

    return packing.pack_assignments(
        _docs(spark, sf_dir), seq_len=512, bucket_span=128
    )


SQL_PACKING = f"""
WITH t AS (
  SELECT doc_id AS id, len({_TOK})::BIGINT AS n_tokens FROM documents
),
p AS (
  SELECT id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS prefix
  FROM t
)
SELECT id, n_tokens,
       (prefix // 512)::BIGINT AS pack_id,
       (prefix % 512)::BIGINT AS pack_offset
FROM p
"""


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-first token-budget selection: quality-DESC greedy keep while
    the exclusive running token total stays under 3000 — the bucketed
    two-level prefix sum vs the oracle's plain global-order window."""
    from search_engine_spark.pipeline import packing

    return packing.take_token_budget(_docs(spark, sf_dir), 3000)


SQL_TOKEN_BUDGET = f"""
WITH q AS ({SQL_QUALITY}),
p AS (
  SELECT id, n_tokens, quality,
         coalesce(sum(n_tokens) OVER (
           ORDER BY quality DESC, id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0)::BIGINT AS prefix_tokens
  FROM q
)
SELECT id, n_tokens, quality, prefix_tokens
FROM p WHERE prefix_tokens < 3000
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampling: per-lang keep rates via a
    salted md5 hash fraction of doc_id — exactly reproducible, no RNG."""
    from search_engine_spark.pipeline import packing

    return packing.mixture_sample(
        _docs(spark, sf_dir),
        {"en": 0.8, "de": 0.5, "fr": 0.25},
        group_col="lang",
        seed=7,
    ).select("doc_id", "lang")


SQL_MIXTURE_SAMPLE = """
SELECT doc_id, lang FROM documents
WHERE (('0x' || substr(md5(doc_id::VARCHAR || ':7'), 1, 8))::BIGINT
       / 4294967296.0)
      < (CASE lang WHEN 'en' THEN 0.8 WHEN 'de' THEN 0.5
                   WHEN 'fr' THEN 0.25 ELSE 0.0 END)
"""


# ------------------------------------------------------------ embeddings

def q_embed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13 ingestion chain on the deterministic fake encoder: prefix ->
    batched mapInPandas encode -> layer-norm -> truncate(32) ->
    L2-normalize; contract projects two components + sum + norm."""
    from search_engine_spark.pipeline import embeddings

    docs = _docs(spark, sf_dir)
    emb = embeddings.embed_pipeline(docs, title_col="source")
    e = F.col("embedding")
    return emb.select(
        "id",
        F.round(e[0], 6).alias("e0"),
        F.round(e[15], 6).alias("e15"),
        F.round(
            F.aggregate(e, F.lit(0.0), lambda a, x: a + x), 6
        ).alias("e_sum"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(e, lambda x: x * x),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ),
            6,
        ).alias("e_norm"),
    )


SQL_EMBED_INGEST = """
WITH src AS (
  SELECT doc_id AS id, 'search_document: ' || source || text AS t
  FROM documents
),
raw AS (
  SELECT id, list_transform(range(64), i ->
    (('0x' || substr(md5(t || '|' || i), 1, 8))::BIGINT
      / 4294967296.0 - 0.5)) AS r
  FROM src
),
mv AS (
  SELECT id, r,
         list_reduce(list_prepend(0.0, r), (a, x) -> a + x) / 64.0 AS m
  FROM raw
),
vv AS (
  SELECT id, r, m,
         list_reduce(list_prepend(0.0,
           list_transform(r, x -> (x - m) * (x - m))), (a, x) -> a + x)
           / 64.0 AS v
  FROM mv
),
ln AS (
  SELECT id, list_transform(r, x -> (x - m) / sqrt(v + 1e-5)) AS l FROM vv
),
tr AS (SELECT id, l[1:32] AS t FROM ln),
l2 AS (
  SELECT id, t,
         greatest(sqrt(list_reduce(list_prepend(0.0,
           list_transform(t, x -> x * x)), (a, x) -> a + x)), 1e-12) AS nrm
  FROM tr
)
SELECT id,
  round(t[1] / nrm, 6)::DOUBLE AS e0,
  round(t[16] / nrm, 6)::DOUBLE AS e15,
  round(list_reduce(list_prepend(0.0,
    list_transform(t, x -> x / nrm)), (a, x) -> a + x), 6)::DOUBLE AS e_sum,
  round(sqrt(list_reduce(list_prepend(0.0,
    list_transform(t, x -> (x / nrm) * (x / nrm))), (a, x) -> a + x)),
    6)::DOUBLE AS e_norm
FROM l2
"""


# ------------------------------------------------------------ dataset
# Offline training-dataset pipeline (pipeline/dataset.py): synthetic
# qrels/queries/top100 are pure functions of `documents` (sandbox mandate:
# no external data), so the DuckDB oracle re-derives them expression-for-
# expression and the whole D2/D4/D5/D6/D11/D12 + feature chain is
# hash-checked.

from search_engine_spark.pipeline import dataset as ds

_T_RANKS = [str(r) for r in ds.TARGET_RANKS]


def _dataset_docs(spark: SparkSession, sf_dir: str):
    docs0 = _docs(spark, sf_dir)
    return docs0, docs0.select(
        F.col("doc_id").alias("docid"),
        F.col("source").alias("title"),
        F.col("text").alias("body"),
    )


def _dataset_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs0, docs = _dataset_docs(spark, sf_dir)
    piv = ds.rank_pivot(ds.synth_top100(docs0))
    train = ds.join_train(docs, ds.synth_qrels(docs0), ds.synth_queries(docs0))
    labeled = ds.label_matches(
        train.join(F.broadcast(piv), "queryid"), _T_RANKS
    )
    return ds.with_row_index(labeled, ["queryid", "docid"])


def _dataset_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs0, docs = _dataset_docs(spark, sf_dir)
    labeled = _dataset_labeled(spark, sf_dir)
    r = docs.agg(
        F.sum(F.size(ds.tokens_col("body"))).alias("sb"),
        F.sum(F.size(ds.tokens_col("title"))).alias("st"),
        F.count("*").alias("n"),
    ).head()
    avg_bl, avg_tl, n_docs = r.sb / r.n, r.st / r.n, int(r.n)
    with_idf = ds.query_idf_lists(labeled, ds.term_dfs(docs), n_docs)
    return ds.offline_features(with_idf, avg_bl, avg_tl)


# shared DuckDB CTE prologue for the dataset oracles
_DS_TOK = "regexp_extract_all(lower({c}), '[a-z0-9_]+')"
_DS_CTES = f"""
WITH docs AS (
  SELECT doc_id AS docid, source AS title, text AS body FROM documents
),
tok AS (
  SELECT docid, {_DS_TOK.format(c='body')} AS bt,
         {_DS_TOK.format(c='title')} AS tt
  FROM docs
),
st AS (
  SELECT count(*)::BIGINT AS n,
         sum(len(bt))::DOUBLE / count(*) AS avg_bl,
         sum(len(tt))::DOUBLE / count(*) AS avg_tl
  FROM tok
),
tdf AS (
  SELECT tok, count(*)::BIGINT AS df
  FROM (SELECT docid, unnest(list_distinct(list_concat(bt, tt))) AS tok
        FROM tok)
  GROUP BY tok
),
queries AS (
  SELECT doc_id // 10 AS queryid,
         array_to_string(({_DS_TOK.format(c='text')})[1:2], ' ') AS query
  FROM documents WHERE doc_id % 10 = 0
),
qrels AS (
  SELECT doc_id // 10 AS queryid, doc_id AS docid, 1 AS rel
  FROM documents WHERE doc_id % 10 = 0
),
top100 AS (
  SELECT q.queryid, r.rank,
         (q.queryid * 7 + 13 * r.rank) % (SELECT n FROM st) AS docid,
         (100.0 - r.rank) AS score
  FROM queries q, (SELECT unnest(range(1, 101)) AS rank) r
)
"""

_PIVOT_COLS_SQL = ",\n       ".join(
    f'max(CASE WHEN rank = {r} THEN docid END) AS "{r}"'
    for r in ds.TARGET_RANKS
)

_DS_PIVOT_CTE = f"""
piv AS (
  SELECT queryid, {_PIVOT_COLS_SQL}
  FROM top100
  WHERE rank <= 6 OR rank > 94
  GROUP BY queryid
)"""

_MATCH_SQL = "COALESCE(" + ", ".join(
    f"CASE WHEN t.docid = piv.\"{r}\" THEN '{r}' END" for r in ds.TARGET_RANKS
) + ")"

_DS_LABELED_CTE = f"""
labeled AS (
  SELECT (row_number() OVER (ORDER BY t.queryid) - 1) AS "index",
         t.queryid, t.docid, t.query, {_MATCH_SQL} AS match,
         {", ".join(f'piv."{r}"' for r in ds.TARGET_RANKS)}
  FROM (SELECT q.queryid, q.query, r.docid
        FROM qrels r JOIN queries q USING (queryid)) t
  JOIN piv USING (queryid)
)"""


def q_ds_rank_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: rank -> columns pivot of the synthetic top100
    (create-dataset.py:52-57)."""
    docs0, _ = _dataset_docs(spark, sf_dir)
    return ds.rank_pivot(ds.synth_top100(docs0))


SQL_DS_RANK_PIVOT = (
    _DS_CTES + f""", {_DS_PIVOT_CTE}
SELECT * FROM piv
"""
)


def q_ds_train_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2+D5+D6: joined train table with match labels and row index
    (create-dataset.py:29,61-74)."""
    return _dataset_labeled(spark, sf_dir).select(
        "index", "queryid", "docid", "query", "match"
    )


SQL_DS_TRAIN_LABELS = (
    _DS_CTES + f""", {_DS_PIVOT_CTE}, {_DS_LABELED_CTE}
SELECT "index", queryid, docid, query, match FROM labeled
"""
)


# --- feature SQL builder (shared by positives and negatives oracles) ---

def _feat_exprs_sql(bt: str, tt: str) -> dict[str, str]:
    """The 10 feature expressions over (qt, idfs, {bt}, {tt}) list columns
    — mirrors pipeline/dataset.py offline_features (same accumulation
    order; norms handled by callers)."""
    def w(ft: str, avg: str) -> str:
        return (
            f"list_transform(qt, t -> len(list_filter({ft}, x -> x = t))::DOUBLE"
            f" / ((1.0 - 0.75) + 0.75 * (len({ft})::DOUBLE / {avg})))"
        )

    def bm25(ws: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(len(qt)), "
            f"j -> idfs[j + 1] * ({ws}[j + 1] * (1.6 + 1.0))"
            f" / ({ws}[j + 1] + 1.6))), (a, x) -> a + x)"
        )

    def fo(ft: str) -> str:
        return (
            f"list_transform(list_transform(qt, "
            f"t -> coalesce(list_position({ft}, t), 0)), "
            f"p -> CASE WHEN p > 0 THEN (p - 1)::DOUBLE / len({ft})"
            f" ELSE 1.0 END)"
        )

    wb, wt = w(bt, "st.avg_bl"), w(tt, "st.avg_tl")
    wc = f"list_transform(range(len(qt)), j -> {wb}[j + 1] + 2.0 * {wt}[j + 1])"
    fob, fot = fo(bt), fo(tt)
    mean = "(list_reduce(list_prepend(0.0, {l}), (a, x) -> a + x) / len(qt))"
    return {
        "bm25_score": bm25(wc),
        "bm25_score_body": bm25(wb),
        "bm25_score_title": bm25(wt),
        "body_first_occurrence_mean": mean.format(l=fob),
        "title_first_occurrence_mean": mean.format(l=fot),
        "body_first_occurrence_min": f"list_min({fob})",
        "title_first_occurrence_min": f"list_min({fot})",
        "in_title": f"(CASE WHEN len(list_filter({fot}, x -> x < 1.0)) > 0"
                    f" THEN 1 ELSE 0 END)",
    }


_DS_QIDF_CTE = """
qexp AS (
  SELECT queryid, unnest(range(len(qt))) AS i, unnest(qt) AS tok
  FROM (SELECT queryid, regexp_extract_all(lower(query), '[a-z0-9_]+') AS qt
        FROM queries)
),
qidf AS (
  SELECT q.queryid,
         list(coalesce(ln(((SELECT n FROM st) * 1.0 - d.df + 0.5)
                          / (d.df + 0.5)), 0.0) ORDER BY q.i) AS idfs
  FROM qexp q LEFT JOIN tdf d ON d.tok = q.tok
  GROUP BY q.queryid
)"""


def q_ds_offline_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8/D9: the 10 offline ranking features for the positive (query,
    doc) pairs (create-dataset-features.py:109-363), rounded to 6."""
    feats = _dataset_features(spark, sf_dir)
    return feats.select(
        "index", "queryid", "docid",
        *[
            F.round(F.col(c).cast("double"), 6).alias(c)
            for c in ds.FEATURE_COLUMNS
        ],
    )


def _sql_ds_offline_features() -> str:
    e = _feat_exprs_sql("bt", "tt")
    sel = ",\n       ".join(
        f"round({e[c]}, 6)::DOUBLE AS {c}"
        for c in ds.FEATURE_COLUMNS
        if c not in ("body_length_norm", "title_length_norm", "in_title")
    )
    return (
        _DS_CTES
        + f""", {_DS_PIVOT_CTE}, {_DS_LABELED_CTE}, {_DS_QIDF_CTE},
base AS (
  SELECT l."index" AS "index", l.queryid, l.docid,
         regexp_extract_all(lower(l.query), '[a-z0-9_]+') AS qt,
         qidf.idfs, tok.bt, tok.tt,
         len(tok.bt)::BIGINT AS blen, len(tok.tt)::BIGINT AS tlen
  FROM labeled l
  JOIN qidf USING (queryid)
  JOIN tok ON tok.docid = l.docid
),
mx AS (SELECT max(blen) AS mbl, max(tlen) AS mtl FROM base)
SELECT base."index" AS "index", base.queryid, base.docid,
       {sel},
       round(coalesce(blen / mx.mbl, 0.0), 6)::DOUBLE AS body_length_norm,
       round(coalesce(tlen / mx.mtl, 0.0), 6)::DOUBLE AS title_length_norm,
       round({e['in_title']}, 6)::DOUBLE AS in_title
FROM base
CROSS JOIN mx, st
"""
    )


def q_ds_negatives_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10+D11: melt -> single docs join -> featurize -> pivot back;
    contract projects the norm-free features of ranks 1 and 100 (the
    per-rank norms are exercised by pytest; bm25/first-occurrence columns
    are rank-independent of the frame)."""
    docs0, docs = _dataset_docs(spark, sf_dir)
    feats = _dataset_features(spark, sf_dir)
    r = docs.agg(
        F.sum(F.size(ds.tokens_col("body"))).alias("sb"),
        F.sum(F.size(ds.tokens_col("title"))).alias("st"),
        F.count("*").alias("n"),
    ).head()
    wide = ds.negatives_features_wide(
        feats.select(
            "index", "queryid", "query", "query_idfs",
            *[f"`{c}`" for c in _T_RANKS],
        ),
        docs,
        r.sb / r.n,
        r.st / r.n,
    )
    return wide.select(
        "index",
        F.round("bm25_score_1", 6).alias("bm25_score_1"),
        F.round("body_first_occurrence_mean_1", 6).alias(
            "body_first_occurrence_mean_1"
        ),
        F.round("bm25_score_100", 6).alias("bm25_score_100"),
        F.round(F.col("in_title_100").cast("double"), 6).alias("in_title_100"),
    )


def _sql_ds_negatives_wide() -> str:
    e = _feat_exprs_sql("bt", "tt")
    return (
        _DS_CTES
        + f""", {_DS_PIVOT_CTE}, {_DS_LABELED_CTE}, {_DS_QIDF_CTE},
negbase AS (
  SELECT l."index" AS "index", nr.neg_rank,
         regexp_extract_all(lower(l.query), '[a-z0-9_]+') AS qt,
         qidf.idfs, tok.bt, tok.tt
  FROM labeled l
  JOIN qidf USING (queryid)
  JOIN (SELECT "index", '1' AS neg_rank, "1" AS docid FROM labeled
        UNION ALL
        SELECT "index", '100' AS neg_rank, "100" AS docid FROM labeled) nr
    USING ("index")
  JOIN tok ON tok.docid = nr.docid
)
SELECT n."index" AS "index",
       round(max(CASE WHEN neg_rank = '1' THEN {e['bm25_score']} END), 6)::DOUBLE
         AS bm25_score_1,
       round(max(CASE WHEN neg_rank = '1'
                 THEN {e['body_first_occurrence_mean']} END), 6)::DOUBLE
         AS body_first_occurrence_mean_1,
       round(max(CASE WHEN neg_rank = '100' THEN {e['bm25_score']} END), 6)::DOUBLE
         AS bm25_score_100,
       round(max(CASE WHEN neg_rank = '100' THEN {e['in_title']} END), 6)::DOUBLE
         AS in_title_100
FROM negbase n, st
GROUP BY n."index"
"""
    )


def q_ds_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12: deterministic seeded 80/10/10 split — per-split row count and
    index checksum (create-dataset-negatives.ipynb seed-42 split)."""
    labeled = _dataset_labeled(spark, sf_dir)
    tagged = labeled.withColumn("split", ds.split_col("index"))
    return tagged.groupBy("split").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("index").cast("long").alias("sum_index"),
    )


SQL_DS_SPLIT_COUNTS = (
    _DS_CTES + f""", {_DS_PIVOT_CTE}, {_DS_LABELED_CTE},
tagged AS (
  SELECT "index",
         CASE WHEN ('0x' || substr(md5(42 || '_' || "index"), 1, 8))::BIGINT
                   / 4294967296.0 < 0.8 THEN 'train'
              WHEN ('0x' || substr(md5(42 || '_' || "index"), 1, 8))::BIGINT
                   / 4294967296.0 < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM labeled
)
SELECT split, count(*)::BIGINT AS n, sum("index")::BIGINT AS sum_index
FROM tagged GROUP BY split
"""
)


# ------------------------------------------------------------ multimodal

def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from search_engine_spark.pipeline import multimodal

    binary = multimodal.attach_binary(_docs(spark, sf_dir), "doc_id", "text")
    # decoder pinned to the SQL-replicable fake: the payloads are text
    # bytes, and the oracle hash must not depend on the host having PIL
    return multimodal.decode_features(binary, decoder="fake").select(
        "id", "n_bytes", "width", "height"
    )


SQL_MULTIMODAL_DECODE = """
SELECT doc_id AS id,
       strlen(text)::BIGINT AS n_bytes,
       (strlen(text) % 256)::BIGINT AS width,
       ((strlen(text) // 256) % 256)::BIGINT AS height
FROM documents
"""


PIPELINE_QUERIES = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_minhash_sigs": (q_minhash_sigs, _sql_minhash_sig()),
    "dedup_minhash_neardup": (q_minhash_neardup, _sql_minhash_neardup()),
    "dedup_simhash": (q_simhash, _sql_simhash()),
    "dedup_ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    # merged components contract (r4): one driver row hash-checks both
    # the min-label-propagation and the large-star/small-star labels;
    # the split q_dedup_components / q_dedup_components_star stay as
    # unit fixtures
    "dedup_components": (
        q_dedup_components_both, _sql_dedup_components_both(),
    ),
    "dedup_representatives": (
        q_dedup_representatives,
        _sql_dedup_representatives(),
    ),
    "dedup_embedding": (q_dedup_embedding, _sql_dedup_embedding()),
    "ann_cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    # full hash-checked oracles (quantizer constants + probe sets inlined
    # from the fixed correctness sf dir); fall back to rows-only (None) if
    # that table is unreadable at import time
    # merged LSH contract (r4): full + deleted lifecycle stages in one
    # driver row; q_lsh_topk / q_lsh_deleted_topk stay as unit fixtures
    "ann_lsh_topk": (q_lsh_both, _sql_ann_lsh_both()),
    "ann_ivf_topk": (q_ivf_topk, _sql_ann_ivf()),
    "embed_ingest": (q_embed_ingest, SQL_EMBED_INGEST),
    "dataset_rank_pivot": (q_ds_rank_pivot, SQL_DS_RANK_PIVOT),
    "dataset_train_labels": (q_ds_train_labels, SQL_DS_TRAIN_LABELS),
    "dataset_offline_features": (
        q_ds_offline_features, _sql_ds_offline_features(),
    ),
    "dataset_negatives_wide": (
        q_ds_negatives_wide, _sql_ds_negatives_wide(),
    ),
    "dataset_split_counts": (q_ds_split_counts, SQL_DS_SPLIT_COUNTS),
    "text_token_counts": (q_token_counts, SQL_TOKEN_COUNTS),
    "text_pii_scrub": (q_pii_scrub, _sql_pii_scrub()),
    # merged profiling contract (r4): global stats + doc-length histogram
    # in long (metric, value) form; q_corpus_stats / q_doclen_hist stay
    # as unit fixtures
    "text_corpus_profile": (q_corpus_profile, SQL_CORPUS_PROFILE),
    "text_quality": (q_quality, SQL_QUALITY),
    "text_lang_id": (q_lang_id, _sql_lang_id()),
    "text_fingerprints": (q_fingerprints, SQL_FINGERPRINTS),
    "text_repetition": (q_repetition, SQL_REPETITION),
    "curate_decisions": (q_curate, _sql_curate()),
    "decontam_report": (q_decontam_report, SQL_DECONTAM_REPORT),
    "packing_assignments": (q_packing, SQL_PACKING),
    "token_budget_select": (q_token_budget, SQL_TOKEN_BUDGET),
    "mixture_sample": (q_mixture_sample, SQL_MIXTURE_SAMPLE),
    "multimodal_decode": (q_multimodal_decode, SQL_MULTIMODAL_DECODE),
}
