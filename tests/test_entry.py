"""Driver-contract conformance: every queries() entry vs its oracle_sql() twin.

Mimics the driver's check: row count, column names, and order-insensitive
value equality between the Spark result and DuckDB running the oracle SQL on
the same parquet tables.
"""

import ctypes
import math
import os
import threading

import duckdb
import pytest

import __spark_entry__ as entry_mod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    import os

    # data-derived oracle literals (IVF centroids) must match the test scale
    os.environ["SPARKTS_ORACLE_SF_DIR"] = sf_dir
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _oracle_df(con, sql):
    """Run an oracle query, interrupting it once it has grown this
    process's resident memory by a quarter of physical memory. DuckDB's
    memory_limit does not bound every allocation (at sf0.001 the
    intermittent_fc replay peaks above 13 GB), and an unbounded oracle gets
    the whole test process killed by the OOM killer; interrupted, it fails
    only its own test."""
    page = os.sysconf("SC_PAGE_SIZE")

    def rss():
        with open("/proc/self/statm") as fh:
            return int(fh.read().split()[1]) * page

    limit = rss() + os.sysconf("SC_PHYS_PAGES") * page // 4
    done = threading.Event()

    def watch():
        while not done.wait(0.05):
            if rss() > limit:
                con.interrupt()
                return

    watcher = threading.Thread(target=watch, daemon=True)
    watcher.start()
    try:
        return con.execute(sql).df()
    except duckdb.InterruptException:
        pytest.fail(f"oracle grew resident memory past {limit >> 20} MB")
    finally:
        done.set()
        watcher.join(timeout=5)
        # glibc keeps freed query memory in its arenas; hand it back so the
        # next oracle starts from the same resident size
        trim = getattr(ctypes.CDLL(None), "malloc_trim", None)
        if trim is not None:
            trim(0)


def _norm(df):
    """Sort columns by name, rows by all values, normalize cells."""
    df = df[sorted(df.columns)]

    def cell(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "∅"
            return f"{v:.6f}"
        return str(v)

    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))
    return rows


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    got = q(spark, sf_dir).toPandas()
    assert len(got) > 0, f"{name}: empty result"
    if sql is None:
        return  # rows-only check
    exp = _oracle_df(duck, sql)
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: {len(got)} vs {len(exp)} rows"
    g, e = _norm(got), _norm(exp)
    n_bad = sum(1 for a, b in zip(g, e) if a != b)
    assert n_bad == 0, f"{name}: {n_bad} mismatched rows; first: " + str(
        next(((a, b) for a, b in zip(g, e) if a != b), None)
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "SeasonalNaive" in df.columns


def test_registry_fits_driver_window():
    """The driver grades only the first 50 queries() entries — every entry
    must sit inside the window and carry a value oracle (the whole point of
    the round-3 consolidation)."""
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert len(qs) <= 50, f"registry has {len(qs)} entries; driver caps at 50"
    missing = [k for k in qs if k not in os_]
    assert missing == [], f"graded queries without a value oracle: {missing}"


@pytest.mark.parametrize("name", sorted(entry_mod.extra_queries().keys()))
def test_extra_query_runs(spark, sf_dir, name):
    """Ungraded optimizer/rng variants: execution smoke (rows > 0)."""
    got = entry_mod.extra_queries()[name](spark, sf_dir)
    assert got.count() > 0, f"{name}: empty result"
