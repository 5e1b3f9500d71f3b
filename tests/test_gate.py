"""Local replica of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB over the same parquet,
compare row count, column names and exact values (what the driver's
value-hash does)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod


def _normalize(rows, columns):
    # driver compares order-insensitively with columns sorted by name
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return v
        if hasattr(v, "item"):
            return v.item()
        return v

    return sorted(
        tuple(canon(r[i]) for i in order) for r in rows
    ), [columns[i] for i in order]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_gate_query_matches_oracle(spark, sf_dir, duck, name):
    q = entry_mod.queries()[name]
    sqls = entry_mod.oracle_sql()
    got_df = q(spark, sf_dir)
    got = got_df.collect()
    got_rows, got_cols = _normalize(
        [tuple(r) for r in got], list(got_df.columns)
    )
    if name not in sqls:
        assert len(got_rows) >= 0  # rows-only check, like the driver
        return
    res = duck.execute(sqls[name])
    exp_cols = [d[0] for d in res.description]
    exp_rows, exp_cols_sorted = _normalize(res.fetchall(), exp_cols)
    assert got_cols == exp_cols_sorted, f"{name}: column mismatch"
    assert len(got_rows) == len(exp_rows), (
        f"{name}: {len(got_rows)} rows vs oracle {len(exp_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(got_rows, exp_rows) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_every_gate_has_an_oracle():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
