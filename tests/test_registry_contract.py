"""Driver-contract invariants on the query registry."""

from __future__ import annotations

import os

from table_extractor_spark.plans import queries as Q


def test_queries_and_oracles_consistent():
    q = Q.queries()
    o = Q.oracle_sql()
    assert set(o) <= set(q)
    # since r4, EVERY registered query has a driver-checkable oracle (the
    # ANN family's deterministic training is replayed in SQL)
    assert set(q) - set(o) == set()


def test_bench_headline_is_registered_and_windowed():
    """bench.py times its HEADLINE queries through queries(); each must be
    registered in ``__spark_entry__`` with an oracle.  The driver checks
    the first 50 queries() entries, served in registration order, so every
    headline query must sit inside that window."""
    import bench
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    for name in bench.HEADLINE:
        assert name in q, f"{name} is not registered"
        assert name in o, f"{name} has no oracle"
    assert list(q) == [n for n, _, _ in Q._REGISTRY]
    window = list(q)[:50]
    outside = [n for n in bench.HEADLINE if n not in window]
    assert outside == [], f"headline queries past the 50-entry window: {outside}"


def test_no_hugeint_oracle_outputs():
    """Root-cause regression net for the r3/r4 driver-reds: DuckDB
    promotes integer SUM to HUGEINT (int128), and a pandas/Arrow fetch
    renders that float64/decimal128 ('3' -> '3.0') — hash-red at any
    driver that doesn't fetch via fetchall().  Exactly the four r4-red
    queries (and no green one) had a HUGEINT output column.  Bind every
    registered oracle (planning only — nothing executes) and assert the
    class is extinct."""
    import duckdb

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    offenders = []
    for name, sql in Q.oracle_sql().items():
        rel = con.sql(sql)
        for col, typ in zip([d[0] for d in rel.description], rel.types):
            if str(typ).upper() in ("HUGEINT", "UHUGEINT"):
                offenders.append(f"{name}.{col}")
    assert offenders == [], (
        "uncast int128 oracle outputs (wrap in CAST(... AS BIGINT)): "
        f"{offenders}"
    )


def test_registry_names_unique():
    names = [n for n, _, _ in Q._REGISTRY]
    assert len(names) == len(set(names))
