"""Local mirror of the driver's DuckDB-oracle correctness gate.

For every registry entry with an oracle, run the PySpark query and the
DuckDB SQL on the same parquet tables and compare them with the
strict comparator of ``tools/driver_gate_mirror.py``: column
names, row count, dtype kinds and the repr of every cell, order-
insensitively. Catches cross-engine drift (float dust, an int rendered
as a float, a signed zero, null conventions) before the external gate
does.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from az_datapipeline_sentiment_analysis_spark.plans.queries import REGISTRY
from conftest import SF_SMOKE
from tools.driver_gate_mirror import compare_frames, oracle_connection

SF_SMOKE = os.environ.get("PARITY_SF_DIR", SF_SMOKE)

ORACLE_NAMES = sorted(n for n, q in REGISTRY.items() if q.sql is not None)
ROWS_ONLY_NAMES = sorted(n for n, q in REGISTRY.items() if q.sql is None)

# Queries whose EMPTY result is the point (guards, thresholds that the
# tiny smoke data legitimately never crosses). Everything else must
# return rows — an empty result would make parity pass trivially while
# checking nothing (a filter on values that don't exist in the data,
# a join that never matches, ...).
EMPTY_OK = {
    "filter_empty_guard",
    # 150 customers spread over ~$11k of balance in 5 blocks: no two
    # sort-neighbors land within the 100-cent match window at smoke
    # scale (38 matches at sf0.01, 4026 at sf0.1)
    "record_linkage_snm",
    # same domain, both passes: 0 at smoke, 43 at sf0.01
    "record_linkage_snm_multipass",
}


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, name):
    q = REGISTRY[name]
    sdf = q.fn(spark, SF_SMOKE).toPandas()
    with oracle_connection(SF_SMOKE) as con:
        odf = con.execute(q.sql).fetchdf()

    status, detail = compare_frames(sdf, odf)
    assert status == "OK", f"{name}: {status} {detail}"
    if name not in EMPTY_OK:
        assert len(odf) > 0, (
            f"{name}: oracle returned 0 rows — parity is trivially true; "
            "adjust predicates to the synthetic data domain or add to EMPTY_OK"
        )


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_queries_run(spark, name):
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_two_scale_dirs_in_one_session(spark):
    """The driver may run queries at several sf dirs in one session;
    per-sf caches (bucketed tables, staged dirs) must not leak results
    across scales."""
    for q in ("q1_pricing_summary", "join_bucketed"):
        for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
            got = len(REGISTRY[q].fn(spark, sf_dir).toPandas())
            with oracle_connection(sf_dir) as con:
                want = len(con.execute(REGISTRY[q].sql).fetchdf())
            assert got == want, (q, sf_dir, got, want)


# ---------------------------------------------------------------------
# Driver-gate mirror comparator: regression tests for the two round-4
# escapes. An isclose-based comparator waved both of these through while
# the driver's stringifying value hash failed them; the hardened
# repr-level comparator, which test_oracle_parity above also uses, must
# flag each shape forever.
# ---------------------------------------------------------------------

def test_mirror_flags_hugeint_float_render():
    """cross_tab r4: DuckDB HUGEINT SUM fetches as float64; values are
    numerically identical to Spark's int64 but hash differently."""
    spark_df = pd.DataFrame({"k": ["a", "b"], "n": pd.array([5, 7], dtype="int64")})
    oracle_df = pd.DataFrame({"k": ["a", "b"], "n": pd.array([5.0, 7.0], dtype="float64")})
    status, detail = compare_frames(spark_df, oracle_df)
    assert status == "DTYPE", (status, detail)


def test_mirror_flags_signed_zero():
    """bigram_pmi r4: DuckDB ROUND emitted -0.0 where Spark emitted 0.0;
    == calls them equal, a stringified hash does not."""
    spark_df = pd.DataFrame({"k": ["a"], "v": [0.0]})
    oracle_df = pd.DataFrame({"k": ["a"], "v": [-0.0]})
    status, detail = compare_frames(spark_df, oracle_df)
    assert status == "VALUES", (status, detail)


def test_mirror_accepts_equal_frames():
    a = pd.DataFrame({"k": ["a", "b"], "v": [1.5, None], "n": [3, 4]})
    b = pd.DataFrame({"k": ["b", "a"], "v": [None, 1.5], "n": [4, 3]})
    status, detail = compare_frames(a, b)
    assert status == "OK", (status, detail)
