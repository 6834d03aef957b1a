"""Local mirror of the driver's correctness gate.

For every registry entry with an oracle: run the Spark query and the
DuckDB SQL on the same sf0.01 parquet, sort columns by name and rows
by value, and compare cell-by-cell (with float tolerance at 1e-9 —
the driver hashes, so our queries are designed to be exactly equal;
the tolerance only localizes a diagnosis when they are not).
"""

from __future__ import annotations

import math

import duckdb
import pytest

from extractor.queries import REGISTRY
from tests.conftest import SF_SMALL

TABLES = ["documents", "embeddings"]


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            if hasattr(v, "isoformat"):
                v = v.isoformat()
            if isinstance(v, bool):
                v = bool(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr), [cols[i] for i in order]


def compare_one(spark, name: str):
    qd = REGISTRY[name]
    sdf = qd.spark(spark, SF_SMALL)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = duck_con(SF_SMALL)
    res = con.execute(qd.sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), f"{name}: columns {scols} vs {dcols}"
    s_norm, cols = normalize(srows, scols)
    d_norm, _ = normalize(drows, dcols)
    assert len(s_norm) == len(d_norm), f"{name}: {len(s_norm)} vs {len(d_norm)} rows"
    for i, (a, b) in enumerate(zip(s_norm, d_norm)):
        if a != b:
            close = all(
                (isinstance(x, float) and isinstance(y, float)
                 and math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-6))
                or x == y
                for x, y in zip(a, b)
            )
            assert close, f"{name} row {i} (cols {cols}):\n spark={a}\n duck ={b}"


ORACLE_QUERIES = [n for n, qd in REGISTRY.items() if qd.sql is not None]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, name):
    compare_one(spark, name)


def test_registry_covers_entry_contract():
    """__spark_entry__ must expose exactly the registry."""
    import __spark_entry__ as entry

    assert set(entry.queries()) == set(REGISTRY)
    assert set(entry.oracle_sql()) == set(ORACLE_QUERIES)
