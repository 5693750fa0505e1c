"""Strict mirror of the driver's correctness gate at sf0.01.

The driver samples the FIRST 50 entries of ``queries()`` order, runs the
Spark query and the DuckDB oracle twin, canonicalizes both frames
(columns sorted by name, plain multi-column ``sort_values`` — CRASHES on
list/ndarray cells, the round-3 failure mode), then compares a
STRINGIFYING VALUE HASH. Round 4 proved that hash is strictly stronger
than a numeric ``isclose`` compare: it failed ``cross_tab`` on a dtype
render (``5.0`` float64 vs ``5`` int64 — DuckDB HUGEINT sums come back
float64 through ``fetchdf``) and ``bigram_pmi`` on IEEE signed zero
(``-0.0`` vs ``0.0``), both of which an earlier isclose-based version of
this tool waved through. The comparator below is therefore repr-level:
canonical string form per cell, no numeric tolerance and no rounding,
plus a canonicalized-dtype equality check between the two frames.
Exact equality implies equality after the gate's float rounding, so
this is never weaker than that gate. ``compare_frames`` is also
the comparator of tier-1's ``tests/test_oracle_parity.py``.

Usage (from the repo root):
    python -m tools.driver_gate_mirror [N=50 | name1,name2,...] [SF_DIR]
Prints one line per query: OK / ROWS / SCHEMA / DTYPE / VALUES / ERR,
with the Spark (build + toPandas) and oracle seconds of each entry.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

from az_datapipeline_sentiment_analysis_spark.catalog import TABLES


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per testdata table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Gate-faithful canonicalization: sort columns by name, then a
    plain multi-column sort_values — no list→tuple rescue."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                df[c] = pd.to_datetime(s).dt.tz_localize(None)
            except TypeError:
                pass
            # unify the storage unit: Spark's toPandas yields [ns],
            # DuckDB's fetchdf yields [us]; equal timestamps stringify
            # identically under the driver's hash (period_over_period
            # was hash-green r4 with exactly this split), so a unit
            # difference is not a real DTYPE hazard
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          na_position="last")


def _cell(v) -> str:
    """Canonical string form of one cell — the unit the driver hashes.

    No numeric tolerance: ``repr`` distinguishes ``5.0`` from ``5`` and
    ``-0.0`` from ``0.0``, exactly like a stringifying hash does.
    Nulls of every flavor collapse to one token so None/NaN/NaT framing
    differences (which the driver's hash also ignores via its own
    canonicalization) don't produce spurious diffs.
    """
    if pd.api.types.is_scalar(v) and pd.isna(v):
        return "<NULL>"
    # numpy scalars repr as np.int64(5) / np.float64(5.0) on numpy>=2;
    # unwrap to the python value so the form is stable
    if hasattr(v, "item") and not isinstance(v, (list, tuple, dict)):
        try:
            v = v.item()
        except (AttributeError, ValueError):
            pass
    return repr(v)


def compare_frames(sdf: pd.DataFrame, odf: pd.DataFrame):
    """Driver-strict compare. Returns (status, detail) where status is
    one of OK / SCHEMA / ROWS / DTYPE / VALUES / ERR. Unit-tested in
    tests/test_oracle_parity.py against the two round-4 escape shapes
    (HUGEINT→float64 render, IEEE signed zero)."""
    if sorted(sdf.columns) != sorted(odf.columns):
        return "SCHEMA", (f"spark={sorted(sdf.columns)} "
                          f"oracle={sorted(odf.columns)}")
    if len(sdf) != len(odf):
        return "ROWS", f"spark={len(sdf)} oracle={len(odf)}"
    try:
        s, o = _canon(sdf), _canon(odf)
    except Exception as exc:  # unhashable list cells etc.
        return "ERR", f"canon: {type(exc).__name__}: {exc}"
    # dtype-KIND equality AFTER canonicalization: an int64 Spark column
    # vs a float64 oracle column stringifies differently under the
    # driver's hash even when every value compares numerically equal
    # (cross_tab r4). Width differences within a kind (int64 vs uint32
    # — agg_regression, driver-green r4) render identically, so only
    # the kind must match.
    kind_of = {"i": "int", "u": "int", "f": "float", "b": "bool",
               "M": "datetime", "m": "timedelta", "O": "object"}
    for col in s.columns:
        sk = kind_of.get(s[col].dtype.kind, s[col].dtype.kind)
        ok = kind_of.get(o[col].dtype.kind, o[col].dtype.kind)
        if sk != ok:
            return "DTYPE", (f"col={col} spark={s[col].dtype} "
                             f"oracle={o[col].dtype}")
    for col in s.columns:
        for i, (x, y) in enumerate(zip(s[col].tolist(), o[col].tolist())):
            cx, cy = _cell(x), _cell(y)
            if cx != cy:
                return "VALUES", (f"col={col} row={i} spark={cx} "
                                  f"oracle={cy}")
    return "OK", f"{len(sdf)} rows"


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as mod

    arg = sys.argv[1] if len(sys.argv) > 1 else "50"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    # VANILLA session on purpose — the external driver does not apply
    # the engine's tuned session config, so neither does the mirror
    # (200 shuffle partitions, default AQE).
    b = SparkSession.builder.master("local[8]")
    # a FULL registry sweep at sf0.1 runs 350 queries in one session —
    # the default 1g driver heap eventually dies mid-sweep (round 9:
    # JVM OOM'd ~230 queries in, everything after read as
    # ConnectionRefused). Raising the heap does NOT change what the
    # external driver sees per query (it runs far fewer per session);
    # override with MIRROR_DRIVER_MEM=1g to reproduce driver-tight
    # conditions.
    b = b.config(
        "spark.driver.memory", os.environ.get("MIRROR_DRIVER_MEM", "8g")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_connection(sf)

    qs, osql = mod.queries(), mod.oracle_sql()
    names = list(qs)[: int(arg)] if arg.isdigit() else arg.split(",")
    bad = 0
    spark_total = oracle_total = 0.0
    for name in names:
        try:
            # drop persisted intermediates between queries: in a
            # 350-query sweep, accumulated cache blocks are pure heap
            # pressure (the driver never runs this many per session)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            sdf = qs[name](spark, sf).toPandas()
        except Exception as exc:
            print(f"ERR    {name}: spark: {type(exc).__name__}: {exc}"[:300])
            bad += 1
            continue
        spark_s = time.perf_counter() - t0
        spark_total += spark_s
        if name not in osql:
            print(f"ROWS-ONLY {name}: spark_rows={len(sdf)} "
                  f"spark={spark_s:.2f}s")
            continue
        t0 = time.perf_counter()
        try:
            odf = con.execute(osql[name]).fetchdf()
        except Exception as exc:
            print(f"ERR    {name}: oracle: {type(exc).__name__}: {exc}"[:300])
            bad += 1
            continue
        oracle_s = time.perf_counter() - t0
        oracle_total += oracle_s
        timing = f"spark={spark_s:.2f}s oracle={oracle_s:.2f}s"
        status, detail = compare_frames(sdf, odf)
        if status == "OK":
            print(f"OK     {name} ({detail}) {timing}")
        else:
            print(f"{status:<6} {name}: {timing} {detail}"[:300])
            bad += 1
    print(f"\n{len(names) - bad}/{len(names)} clean "
          f"(spark={spark_total:.1f}s oracle={oracle_total:.1f}s)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
