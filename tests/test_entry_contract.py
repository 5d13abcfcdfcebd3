"""Driver-contract invariants for __spark_entry__."""

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import __spark_entry__ as entry


def test_registry_consistency():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert qs, "queries() must not be empty"
    # every oracle refers to an existing query
    for name in oracles:
        assert name in qs, f"oracle {name} has no query"
    # every query is oracle-checked (rows-only exceptions listed here)
    # bpe_train is iterative (merge k depends on merge k-1): value
    # truth is tests/test_bpe.py's differential suite + the oracled
    # bpe_pair_counts twin of its corpus-scale stage.
    rows_only: set[str] = {"bpe_train"}
    missing = [n for n in qs if n not in oracles and n not in rows_only]
    assert not missing, f"queries without oracles: {missing}"


def test_oracle_sql_is_strings():
    for name, sql in entry.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_entry_smoke(spark):
    df = entry.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) >= 3


def test_one_query_runs(spark):
    out = entry.q_tile_counts(spark, entry.SF001)
    assert out.count() > 0


# every render kernel path (3857 near/average/stats/sort order/decoded,
# projected UTM/Albers/polar/Cassini, the kernel resamplers), the
# overview step and the PIP join, each against its DuckDB oracle at
# sf0.001 with the oracle check's own compare
ORACLED_PATHS = [
    "tile_render", "tile_render_avg", "tile_render_stats",
    "tile_render_sortfield", "tile_render_decoded", "tile_render_utm",
    "tile_render_albers", "tile_render_polar", "tile_render_cassini",
    "tile_render_lanczos", "tile_render_cubicspline", "tile_overview",
    "pip_join",
]


@pytest.fixture(scope="module")
def sf001_duck():
    import duckdb

    from check_oracles import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{entry.SF001}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLED_PATHS)
def test_query_matches_oracle(spark, sf001_duck, name):
    from check_oracles import norm_hash

    got = norm_hash(entry.queries()[name](spark, entry.SF001).toPandas())
    want = norm_hash(sf001_duck.execute(entry.oracle_sql()[name]).df())
    assert got[0] == want[0] and got[2] == want[2], (got, want)
