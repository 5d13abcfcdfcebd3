"""Local stand-in for the driver's correctness gate: run each
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet dir, compare row count + order-insensitive value hash with
columns sorted by name (the driver's documented compare).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# queries checked on row count only, with no DuckDB oracle.
# bpe_train is iterative (merge k depends on merge k-1): its value
# truth is tests/test_bpe.py's differential suite plus the oracled
# bpe_pair_counts twin of its corpus-scale stage.
ROWS_ONLY = frozenset({"bpe_train"})

# freshness ledger: preflight asserts every registered query has a
# recent green row here (VERDICT r3 ask #10 — re-verification drift).
# It is local state, so it lives under the git-ignored .cache/.
CACHE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".cache", "oracle_ledger.json",
)


def load_cache() -> dict:
    try:
        with open(CACHE_PATH) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def record_green(names: list[str], sf_dir: str) -> None:
    cache = load_cache()
    now = time.time()
    for n in names:
        cache[n] = {"ts": now, "sf_dir": sf_dir}
    os.makedirs(os.path.dirname(CACHE_PATH), exist_ok=True)
    tmp = CACHE_PATH + f".tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(cache, fh, indent=1, sort_keys=True)
    os.replace(tmp, CACHE_PATH)


def norm_hash(df: pd.DataFrame) -> tuple[int, str, str]:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object and len(col) and isinstance(col.iloc[0], (bytes, bytearray)):
            df[c] = col.map(lambda b: b.hex())
    strs = df.astype(str)
    rows = sorted("|".join(r) for r in strs.itertuples(index=False, name=None))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    schema = ",".join(f"{c}:{df[c].dtype}" for c in df.columns)
    return len(df), schema, h


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod
    from gdal_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    greens: list[str] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"[FAIL-SPARK] {name}: {type(e).__name__}: {e}")
            failures.append(name)
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"[ROWS-ONLY] {name}: {len(sdf)} rows in {t1 - t0:.1f}s")
            greens.append(name)
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"[FAIL-ORACLE] {name}: {type(e).__name__}: {e}")
            failures.append(name)
            continue
        t2 = time.time()
        sn, ss, sh = norm_hash(sdf)
        on, os_, oh = norm_hash(odf)
        ok = (sn == on) and (sh == oh)
        status = "OK" if ok else "MISMATCH"
        if ok:
            greens.append(name)
        print(
            f"[{status}] {name}: spark {sn} rows ({t1-t0:.1f}s) vs duck {on} rows "
            f"({t2-t1:.1f}s) hash {'=' if sh == oh else f'{sh} != {oh}'}"
        )
        if not ok:
            failures.append(name)
            print(f"    spark schema: {ss}")
            print(f"    duck  schema: {os_}")
            merged = None
            try:
                a = sdf[sorted(sdf.columns)].astype(str)
                b = odf[sorted(odf.columns)].astype(str)
                sa = set(map(tuple, a.itertuples(index=False, name=None)))
                sb = set(map(tuple, b.itertuples(index=False, name=None)))
                only_a = list(sa - sb)[:3]
                only_b = list(sb - sa)[:3]
                print(f"    only-spark sample: {only_a}")
                print(f"    only-duck  sample: {only_b}")
            except Exception:
                pass
    print("FAILURES:", failures if failures else "none")
    if greens:
        record_green(greens, sf_dir)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
