"""Oracle-SQL hygiene guards — the failure class that produced 10 of
10 driver hash-fails across rounds 1-3 was REPRESENTATION drift, never
semantics: r1 float/timestamp rendering, r3 DuckDB HUGEINT sums
pandas-ified to float64 against Spark bigints. These tests bind every
registered oracle in DuckDB (DESCRIBE — no execution) and fail on the
dtypes that canonicalize differently from their Spark twins, so the
drift dies in CI instead of in a driver CORRECTNESS row.

No SparkSession needed; runs in milliseconds.
"""

import duckdb
import pytest

from dat_archive_map_reduce_spark.queries import ORACLE

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def test_every_oracle_binds(con):
    """Each oracle must at least plan against the test tables."""
    bad = []
    for name, sql in ORACLE.items():
        try:
            con.execute("DESCRIBE " + sql)
        except Exception as e:  # noqa: BLE001
            bad.append(f"{name}: {e}")
    assert not bad, "\n".join(bad)


def test_no_hugeint_oracle_outputs(con):
    """DuckDB sum(<integer>) returns HUGEINT, which pandas converts to
    float64 — the driver canonicalizer then hashes `123.0` against
    Spark's bigint `123` and fails. Every integer aggregate in a final
    SELECT needs CAST(... AS BIGINT) (r3 reds: text_normalize_redact,
    corpus_stratified_sample, q12_ship_latency)."""
    bad = []
    for name, sql in ORACLE.items():
        for col, typ, *_ in con.execute("DESCRIBE " + sql).fetchall():
            if "HUGEINT" in typ.upper():
                bad.append(f"{name}.{col}: {typ}")
    assert not bad, "uncast integer aggregates (HUGEINT -> float64):\n" + "\n".join(bad)


def test_no_bare_list_oracle_outputs(con):
    """The driver canonicalizer crashes on array-typed output columns
    (round-2 lesson) — stringify with array_to_string/to_json in the
    oracle and the matching Spark alias."""
    bad = []
    for name, sql in ORACLE.items():
        for col, typ, *_ in con.execute("DESCRIBE " + sql).fetchall():
            if typ.upper().endswith("[]") or typ.upper().startswith(("STRUCT", "MAP")):
                bad.append(f"{name}.{col}: {typ}")
    assert not bad, "non-scalar oracle output columns:\n" + "\n".join(bad)


def test_every_no_oracle_query_has_gated_portable_twin():
    """Rotation-loophole guard (round-4 verdict #5): a no-oracle row
    goes green after one driver run regardless of values, so every
    no-oracle query must declare a hash-gated portable twin in
    NO_ORACLE_TWINS (enforced at import too — this test makes the
    failure a named CI row rather than a collection error)."""
    from dat_archive_map_reduce_spark.queries import (
        NO_ORACLE_TWINS,
        ORACLE,
        QUERIES,
    )

    no_oracle = {n for n in QUERIES if n not in ORACLE}
    assert no_oracle == set(NO_ORACLE_TWINS), (
        no_oracle ^ set(NO_ORACLE_TWINS)
    )
    for name, twin in NO_ORACLE_TWINS.items():
        assert twin in ORACLE, f"{name}'s twin {twin} is not oracle-gated"


def test_weak_window_is_self_contained():
    """r13 verdict #4: CORRECTNESS_r13's 50-query driver window carried
    a weak no-oracle row WITHOUT its hash-green twin, so the
    driver-facing artifact could not prove the twin discipline on its
    own. The rotation must place every in-window no-oracle query's
    portable twin in the SAME leading window (or defer the pair)."""
    from dat_archive_map_reduce_spark import queries as Q

    names = list(Q.QUERIES)
    gw = Q._gate_window(Q._driver_rows_by_round())
    lead = set(names[:gw])
    for n in names[:gw]:
        if n not in Q.ORACLE:
            twin = Q.NO_ORACLE_TWINS[n]
            assert twin in lead, (
                f"weak query {n} is in the driver window but its twin "
                f"{twin} is not (window={gw})"
            )
