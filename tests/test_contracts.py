"""Driver-contract parity: every queries() entry vs its oracle_sql() in
DuckDB, replicating the driver's compare (row count + schema-insensitive
sorted value comparison) at sf0.001."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    rel = con.sql(sql)
    cols, types = rel.columns, [str(t) for t in rel.types]
    rows = rel.fetchall()
    con.close()
    return cols, types, rows


_INT_TYPES = {"tinyint", "smallint", "int", "integer", "bigint"}
_FLOAT_TYPES = {"float", "double"}


def _type_family(t: str) -> str:
    """Coarse type family shared by Spark ``simpleString`` and DuckDB type
    names.  Integer widths and float widths are interchangeable (the
    driver's compare tolerates them); DuckDB's HUGEINT is not — integer
    ``sum()`` aggregates and windows return it unless cast, and the
    driver's hash does not match it against Spark's bigint."""
    t = t.lower()
    if t.endswith("[]"):
        return f"array<{_type_family(t[:-2])}>"
    if t.startswith("array<") and t.endswith(">"):
        return f"array<{_type_family(t[6:-1])}>"
    if t in _INT_TYPES:
        return "integral"
    if t in _FLOAT_TYPES:
        return "floating"
    if t in ("string", "varchar"):
        return "string"
    return t


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    try:  # Decimal -> float
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except ImportError:  # pragma: no cover
        pass
    return v

def _normalize(cols, rows):
    # Rows are compared in EMITTED order (the driver hashes row order, so
    # every contract must pin a deterministic total order on both sides);
    # only the column order inside each row is name-normalized.
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), out


def _pairs():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    # the shipped ANN oracle SQL inlines quantizer/probe constants for the
    # driver's fixed correctness dir (sf0.01); regenerate for this test's
    # sf so the same generator is exercised against local data
    from search_engine_spark.pipeline import contracts_pipeline as cp

    from search_engine_spark import contracts as cc

    for name, gen in (
        ("ann_lsh_topk", cp._sql_ann_lsh_both),
        ("ann_ivf_topk", cp._sql_ann_ivf),
        ("dedup_embedding", cp._sql_dedup_embedding),
        ("search_semantic_topk", cc._sql_search_semantic),
    ):
        if name in o:
            o[name] = cc.ordered_sql(gen(SF_DIR))
    return [(name, q[name], o.get(name)) for name in sorted(q)]


@pytest.mark.parametrize("name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()])
def test_contract_matches_oracle(spark, name, fn, sql):
    df = fn(spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]
    if sql is None:
        assert len(spark_rows) >= 0  # rows-only check (driver's weak mode)
        return
    duck_cols, duck_types, duck_rows = _duck(sql)
    # exact (unsorted) equality: the deterministic row order both sides
    # emit is "sort by every select-list column left-to-right", so the
    # select-list column ORDER must match, not just the name set
    assert spark_cols == duck_cols, name
    # per-column type echo: equal values in different type families
    # (e.g. bigint vs HUGEINT) still fail the driver's hash
    spark_fam = [_type_family(t) for _c, t in df.dtypes]
    duck_fam = [_type_family(t) for t in duck_types]
    assert spark_fam == duck_fam, (name, df.dtypes, duck_types)
    s_cols, s_rows = _normalize(spark_cols, spark_rows)
    d_cols, d_rows = _normalize(duck_cols, duck_rows)
    assert len(s_rows) == len(d_rows), (name, len(s_rows), len(d_rows))
    assert s_rows == d_rows, (name, s_rows[:3], d_rows[:3])


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"qid", "rank", "doc_id", "score", "path"} <= set(df.columns)


def test_data_fingerprint_invalidates_on_source_change(tmp_path):
    """Regenerated testdata must retire cached /tmp indexes: the cache
    tag's fingerprint changes when a source parquet's bytes/mtime do."""
    import os
    import time

    from search_engine_spark.contracts import data_fingerprint

    p = tmp_path / "documents.parquet"
    p.write_bytes(b"one")
    f1 = data_fingerprint(str(tmp_path))
    assert f1 == data_fingerprint(str(tmp_path))  # stable
    time.sleep(0.01)
    p.write_bytes(b"two!")
    assert data_fingerprint(str(tmp_path)) != f1
    # missing table -> still a stable tag, not an error
    os.remove(p)
    assert data_fingerprint(str(tmp_path)) == data_fingerprint(str(tmp_path))
