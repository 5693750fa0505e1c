"""Property-based tests (hypothesis) over arbitrary generated text /
frames — SURVEY §5.2 item 5.

Spark jobs per example are slow, so each property generates a BATCH of
examples with hypothesis, runs ONE Spark job over the batch, and checks
the property row-by-row against a pure-Python model of the semantics.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from az_datapipeline_sentiment_analysis_spark.functions.arrays import cosine_expr
from az_datapipeline_sentiment_analysis_spark.functions.text import (
    NEG_THRESHOLD,
    NEGATIVE_WORDS,
    POS_THRESHOLD,
    POSITIVE_WORDS,
    _score_series,
    fingerprint_expr,
    sentiment_components_expr,
    sentiment_confidence_expr,
    sentiment_label_expr,
)
from az_datapipeline_sentiment_analysis_spark.operators import dedup as dd

# Documents are word sequences over a vocabulary that includes lexicon
# words (so sentiment is non-degenerate), junk tokens, and punctuation.
_VOCAB = (
    list(POSITIVE_WORDS[:5])
    + list(NEGATIVE_WORDS[:5])
    + ["xyzzy", "Qux", "a", "THE", "ab12", "...", "?!", ""]
)
TEXTS = st.lists(
    st.lists(st.sampled_from(_VOCAB), max_size=20).map(" ".join),
    min_size=2,
    max_size=30,
)

SLOW_OK = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@given(texts=TEXTS)
@SLOW_OK
def test_sentiment_label_matches_python_model(spark, texts):
    """The JVM scorer and the Arrow UDF's in-process scorer both give
    the Python model's label and confidence for every text."""
    df = spark.createDataFrame([Row(i=i, text=t) for i, t in enumerate(texts)])
    pos, neg = sentiment_components_expr("text")
    got = {
        r.i: (r.label, r.confidence)
        for r in df.select(
            "i",
            sentiment_label_expr(pos, neg).alias("label"),
            sentiment_confidence_expr(pos, neg).alias("confidence"),
        ).collect()
    }
    arrow = _score_series(pd.Series(texts))
    pat = re.compile("[a-z]+")
    for i, t in enumerate(texts):
        toks = pat.findall(t.lower())
        p = sum(w in POSITIVE_WORDS for w in toks)
        n = sum(w in NEGATIVE_WORDS for w in toks)
        if p + n == 0:
            want = ("neutral", 0.5)
        elif p / (p + n) >= POS_THRESHOLD:
            want = ("positive", round(p / (p + n), 6))
        elif p / (p + n) <= NEG_THRESHOLD:
            want = ("negative", round(p / (p + n), 6))
        else:
            want = ("mixed", round(p / (p + n), 6))
        assert got[i] == want, (t, got[i], want)
        a = arrow.iloc[i]
        assert (a.sentiment, a.confidenceScores["positive"]) == want, (t, a, want)


@given(texts=TEXTS)
@SLOW_OK
def test_fingerprint_invariant_under_case_and_whitespace(spark, texts):
    rows = []
    for i, t in enumerate(texts):
        rows.append(Row(i=i, variant=0, text=t))
        rows.append(Row(i=i, variant=1, text="  " + t.upper().replace(" ", "   ")))
    df = spark.createDataFrame(rows)
    out = df.select("i", "variant", fingerprint_expr("text").alias("fp")).collect()
    by_key = {(r.i, r.variant): r.fp for r in out}
    for i in range(len(texts)):
        assert by_key[(i, 0)] == by_key[(i, 1)]


@given(texts=TEXTS)
@SLOW_OK
def test_exact_dedup_is_idempotent_and_partitions_input(spark, texts):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    out = dd.exact_dedup(df).collect()
    # groups partition the input: sizes sum to n, canonical ids distinct
    assert sum(r.n_dupes for r in out) == len(texts)
    canons = [r.canonical_id for r in out]
    assert len(set(canons)) == len(canons)
    # dedup of the canonical rows is a fixpoint
    canon_df = df.join(
        spark.createDataFrame([Row(doc_id=c) for c in canons]), "doc_id"
    )
    again = dd.exact_dedup(canon_df).collect()
    assert sorted(r.canonical_id for r in again) == sorted(canons)
    assert all(r.n_dupes == 1 for r in again)


@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-10, max_value=10, allow_nan=False, allow_infinity=False
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=12,
    )
)
@SLOW_OK
def test_cosine_bounds_and_self_similarity(spark, vecs):
    rows = [
        Row(i=i, a=[float(x) for x in v], b=[float(x) for x in v])
        for i, v in enumerate(vecs)
    ]
    df = spark.createDataFrame(rows)
    out = df.select(
        "i", cosine_expr("a", "b").alias("self_cos")
    ).collect()
    for r in out:
        norm = math.sqrt(sum(x * x for x in vecs[r.i]))
        if norm == 0:
            assert r.self_cos == 0.0
        else:
            assert r.self_cos == pytest_approx_one(r.self_cos)


def pytest_approx_one(x, tol=1e-9):
    assert abs(x - 1.0) <= tol
    return x


@given(texts=TEXTS)
@SLOW_OK
def test_union_by_name_with_missing_columns(spark, texts):
    half = max(len(texts) // 2, 1)
    a = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts[:half])]
    )
    b = spark.createDataFrame(
        [Row(doc_id=1000 + i, extra=len(t)) for i, t in enumerate(texts[half:])]
    )
    u = a.unionByName(b, allowMissingColumns=True)
    assert u.count() == len(texts[:half]) + len(texts[half:])
    got = u.filter(F.col("doc_id") >= 1000).select("text").collect()
    assert all(r.text is None for r in got)


@given(texts=TEXTS)
@SLOW_OK
def test_ngram_jaccard_copy_collapse_matches_bruteforce(spark, texts):
    """The exact-copy collapse pre-pass must be output-invariant: pairs
    from the rep-level join + member expansion equal a brute-force
    all-pairs Jaccard over the raw corpus (duplicates forced into the
    input so every expansion path — within-group 1.0 pairs, cross-group
    inheritance — is exercised)."""
    from decimal import ROUND_HALF_UP, Decimal

    docs = list(texts) + [t for t in texts[::3]]  # forced exact copies
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(df, threshold=0.1).collect()
    }

    def sh(t):
        toks = re.findall("[a-z]+", (t or "").lower())
        return {
            " ".join(toks[i : i + dd.SHINGLE_WIDTH])
            for i in range(len(toks) - dd.SHINGLE_WIDTH + 1)
        }

    sets = [sh(t) for t in docs]
    exp = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = sets[i], sets[j]
            if not a or not b:
                continue
            inter = len(a & b)
            if inter == 0:
                continue
            # HALF_UP to mirror Spark's round() on doubles (Python's
            # built-in round is banker's and diverges at e.g. 1/32)
            jac = float(
                Decimal(inter / (len(a) + len(b) - inter)).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
            )
            if jac >= 0.1:
                exp[(i, j)] = jac
    assert got.keys() == exp.keys()
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-9, (k, got[k], exp[k])


# --- JVM signature expressions vs pure-Python models ------------------
# The round-4 rewrite moved MinHash/SimHash signatures from Python
# kernels to Catalyst expressions; the DuckDB oracles encode the SAME
# arithmetic, so these properties pin the JVM output to an independent
# Python model of the formula over arbitrary generated text (including
# empty strings, punctuation-only, and sub-shingle-width docs).


def _minhash_model(text: str) -> list[int]:
    import hashlib

    import numpy as np

    a, b = dd._hash_params()
    toks = re.findall("[a-z]+", (text or "").lower())
    shingles = {
        " ".join(toks[i : i + dd.SHINGLE_WIDTH])
        for i in range(len(toks) - dd.SHINGLE_WIDTH + 1)
    }
    if not shingles:
        return [dd._P31] * dd.N_HASHES
    hv = np.array(
        [
            int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big") >> 1
            for s in sorted(shingles)
        ],
        dtype=np.int64,
    )
    return ((a[:, None] * hv[None, :] + b[:, None]) % dd._P31).min(axis=1).tolist()


def _simhash_model(text: str) -> int:
    import hashlib

    toks = re.findall("[a-z]+", (text or "").lower())
    if not toks:
        return -(1 << 63)
    votes = [0] * dd.SIMHASH_BITS
    for t in toks:
        h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
        for j in range(dd.SIMHASH_BITS):
            votes[j] += 1 if (h >> j) & 1 else -1
    out = sum(1 << j for j in range(dd.SIMHASH_BITS) if votes[j] > 0)
    return out - (1 << 63)


@SLOW_OK
@given(texts=TEXTS)
def test_minhash_jvm_signatures_match_python_model(spark, texts):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r["id"]: list(r["sig"])
        for r in dd.minhash_signatures(df).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _minhash_model(t), (i, t)


@SLOW_OK
@given(texts=TEXTS)
def test_simhash_jvm_signatures_match_python_model(spark, texts):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {r["id"]: r["simhash"] for r in dd.simhash_signatures(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _simhash_model(t), (i, t)


def test_minhash_null_text_maps_to_sentinel(spark):
    """Latent r4 divergence (ADVICE): NULL text skipped the
    size(shingles)=0 sentinel branch (size(NULL) is NULL) and yielded
    an array of 32 NULLs. with_shingles now coalesces text to '' so
    NULL docs get the same _P31 sentinel as empty docs — matching the
    Python model, the retired kernel, and the DuckDB oracle."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "alpha beta gamma delta")],
        StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]),
    )
    got = {r["id"]: list(r["sig"]) for r in dd.minhash_signatures(df).collect()}
    sentinel = [dd._P31] * dd.N_HASHES
    assert got[0] == sentinel
    assert got[1] == sentinel
    assert got[2] == _minhash_model("alpha beta gamma delta")
    assert None not in got[2]


# --- rolling distinct users: explode rewrite vs brute-force model ----

EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=6),      # user_id
        st.integers(min_value=0, max_value=20),     # day offset
    ),
    min_size=1,
    max_size=60,
)


@SLOW_OK
@given(batches=st.lists(EVENTS, min_size=1, max_size=4))
def test_rolling_wau_rewrite_matches_bruteforce(spark, batches):
    """The explode-into-contribution-days rewrite must equal the naive
    per-day 'distinct users over the trailing 7 days' for arbitrary
    (user, day) streams — including gaps, duplicates, and bursts."""
    import datetime

    from pyspark.sql import functions as SF

    base = datetime.datetime(2024, 1, 1)
    for events in batches:
        rows = [
            Row(user_id=u, day=base + datetime.timedelta(days=d))
            for u, d in events
        ]
        df = spark.createDataFrame(rows)
        ud = df.select("user_id", "day").distinct()
        days = ud.select("day").distinct()
        contrib = ud.select(
            "user_id",
            SF.explode(
                SF.sequence(
                    SF.col("day"),
                    SF.col("day") + SF.expr("interval 6 days"),
                    SF.expr("interval 1 day"),
                )
            ).alias("day"),
        )
        got = {
            r.day: r.wau
            for r in contrib.join(days, "day", "left_semi")
            .groupBy("day")
            .agg(SF.count_distinct("user_id").alias("wau"))
            .collect()
        }
        expect = {}
        uniq = {(u, d) for u, d in events}
        for d in {d for _, d in events}:
            expect[base + datetime.timedelta(days=d)] = len(
                {u for u, dd in uniq if d - 6 <= dd <= d}
            )
        assert got == expect


# --- interval overlap: bucketed equi-join vs theta-join model --------

INTERVALS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50_000),  # start offset s
        st.integers(min_value=1, max_value=20_000),  # duration s
    ),
    min_size=1,
    max_size=25,
)
HOURS = st.sets(st.integers(min_value=0, max_value=20), min_size=1, max_size=8)


@SLOW_OK
@given(ivs=INTERVALS, hours=HOURS)
def test_bucketed_interval_overlap_matches_theta_model(spark, ivs, hours):
    """Hour-bucketed explode + equi-join + positive-overlap filter must
    reproduce the strict theta join's per-interval overlap seconds for
    arbitrary intervals (spanning 0..6 hour buckets) and hour sets."""
    import datetime

    from pyspark.sql import functions as SF

    base = datetime.datetime(2024, 3, 1)
    rows = [
        Row(
            iid=i,
            s_start=base + datetime.timedelta(seconds=a),
            s_end=base + datetime.timedelta(seconds=a + dur),
        )
        for i, (a, dur) in enumerate(ivs)
    ]
    inc = [
        Row(hr=base + datetime.timedelta(hours=h)) for h in sorted(hours)
    ]
    sessions = spark.createDataFrame(rows)
    incidents = spark.createDataFrame(inc)
    spanned = sessions.select(
        "iid",
        SF.col("s_start").cast("long").alias("a"),
        SF.col("s_end").cast("long").alias("b"),
        SF.explode(
            SF.sequence(
                SF.date_trunc("hour", "s_start"),
                SF.date_trunc("hour", "s_end"),
                SF.expr("interval 1 hour"),
            )
        ).alias("hr"),
    )
    ov = SF.least(SF.col("b"), SF.col("hr").cast("long") + 3600) - SF.greatest(
        SF.col("a"), SF.col("hr").cast("long")
    )
    got = {
        r.iid: (r.overlap_s, r.n_hours)
        for r in spanned.join(incidents, "hr")
        .withColumn("__ov", ov)
        .filter(SF.col("__ov") > 0)
        .groupBy("iid")
        .agg(SF.sum("__ov").alias("overlap_s"), SF.count("*").alias("n_hours"))
        .collect()
    }
    expect = {}
    base_e = int(base.timestamp())
    for i, (a, dur) in enumerate(ivs):
        s, e = base_e + a, base_e + a + dur
        tot = n = 0
        for h in hours:
            h0 = base_e + h * 3600
            o = min(e, h0 + 3600) - max(s, h0)
            if o > 0:
                tot += o
                n += 1
        if tot > 0:
            expect[i] = (tot, n)
    assert got == expect


# --- exact_group_quantiles vs a pure-Python quantile_cont model ------

def _quantile_cont_model(values, p):
    """The linear-interpolation definition both engines implement."""
    vs = sorted(v for v in values if v is not None)
    if not vs:
        return None
    h = (len(vs) - 1) * p
    lo, hi = math.floor(h), math.ceil(h)
    return vs[lo] + (h - lo) * (vs[hi] - vs[lo])


GROUPED_VALUES = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.one_of(
            st.none(),
            st.integers(min_value=-1000, max_value=1000).map(float),
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False, width=32,
            ),
        ),
    ),
    min_size=1,
    max_size=60,
)


@SLOW_OK
@given(st.lists(GROUPED_VALUES, min_size=3, max_size=6))
def test_exact_group_quantiles_matches_model(spark, batches):
    # batch the hypothesis examples into one frame (batch id is part of
    # the group key) so the whole property costs one Spark job
    from az_datapipeline_sentiment_analysis_spark.operators.quantiles import (
        exact_group_quantiles,
    )

    rows = [
        Row(bid=i, g=g, v=v)
        for i, batch in enumerate(batches)
        for g, v in batch
    ]
    df = spark.createDataFrame(rows, schema="bid int, g string, v double")
    ps = {"q10": 0.1, "med": 0.5, "q90": 0.9}
    got = {
        (r["bid"], r["g"]): r.asDict()
        for r in exact_group_quantiles(
            df, "v", ps, ["bid", "g"], nb=8
        ).collect()
    }
    # model: group rows in Python, drop all-null groups
    from collections import defaultdict

    model = defaultdict(list)
    for i, batch in enumerate(batches):
        for g, v in batch:
            model[(i, g)].append(v)
    for key, vals in model.items():
        expect = {a: _quantile_cont_model(vals, p) for a, p in ps.items()}
        if expect["med"] is None:
            assert key not in got  # all-null group produces no row
            continue
        assert key in got, key
        for a in ps:
            assert math.isclose(
                got[key][a], expect[a], rel_tol=1e-9, abs_tol=1e-9
            ), (key, a, got[key][a], expect[a])


# --- session path cap: bounded state for gap-free (bot) users --------

# inter-event gaps all <= 30 min: the whole stream is ONE session no
# matter how long it runs — the pathological shape the 64-event cap
# exists for (VERDICT r5 #4)
BOT_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1800),           # gap seconds
        st.sampled_from(["view", "click", "purchase"]),     # event type
    ),
    min_size=1,
    max_size=120,
)


@SLOW_OK
@given(events=BOT_EVENTS)
def test_session_paths_cap_bounds_botlike_sessions(spark, events):
    """A user whose events never gap 30 minutes forms one session of
    unbounded length; session_paths_topk must truncate the path to the
    session's first 64 events (deterministically, in (ts, event_id)
    order) instead of collecting the whole stream into one array."""
    import datetime
    import shutil
    import tempfile

    import pandas as pd

    from az_datapipeline_sentiment_analysis_spark.plans.queries import REGISTRY

    base = datetime.datetime(2024, 5, 1)
    ts, rows = base, []
    for i, (gap, etype) in enumerate(events):
        if i > 0:
            ts = ts + datetime.timedelta(seconds=gap)
        rows.append(
            {
                "event_id": i,
                "ts": ts,
                "user_id": 7,
                "event_type": etype,
                "value": 1.0,
                "props": "{}",
            }
        )
    tmp = tempfile.mkdtemp(prefix="pathcap_")
    try:
        pd.DataFrame(rows).to_parquet(f"{tmp}/events.parquet")
        got = REGISTRY["session_paths_topk"].fn(spark, tmp).collect()
        if len(events) < 2:
            assert got == []  # single-event session has no path
            return
        assert len(got) == 1
        expect = ">".join(t for _, t in events[:64])
        assert got[0]["path"] == expect
        assert got[0]["n_sessions"] == 1
        assert len(got[0]["path"].split(">")) <= 64
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- nearest as-of join: one-pass double carry vs brute force --------

NEAR_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),      # user
        st.integers(min_value=0, max_value=120),    # ts offset seconds
        st.sampled_from(["purchase", "click"]),
    ),
    min_size=1,
    max_size=40,
)


@SLOW_OK
@given(events=NEAR_EVENTS)
def test_asof_nearest_matches_bruteforce(spark, events):
    """The single-exchange double-carry must equal the brute-force
    nearest-click-per-purchase for arbitrary streams — including
    equal timestamps (excluded both ways: strict < and >), equidistant
    ties (prior wins), and users with no clicks (nulls)."""
    import datetime

    from az_datapipeline_sentiment_analysis_spark.operators.asof import (
        asof_join_nearest,
    )

    base = datetime.datetime(2024, 7, 1)
    rows = [
        Row(
            event_id=i,
            user_id=u,
            ts=base + datetime.timedelta(seconds=o),
            event_type=t,
        )
        for i, (u, o, t) in enumerate(events)
    ]
    df = spark.createDataFrame(rows)
    purchases = df.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = df.filter(F.col("event_type") == "click").select("user_id", "ts")
    got = {
        r["event_id"]: (r["near_ts"], r["near_dist_us"])
        for r in asof_join_nearest(
            purchases, clicks, on="user_id", left_ts="ts", right_ts="ts"
        ).collect()
    }
    # brute force model
    for i, (u, o, t) in enumerate(events):
        if t != "purchase":
            continue
        clicks_u = [
            oo for (uu, oo, tt) in events if uu == u and tt == "click"
        ]
        prevs = [c for c in clicks_u if c < o]
        nxts = [c for c in clicks_u if c > o]
        pd_ = o - max(prevs) if prevs else None
        nd_ = min(nxts) - o if nxts else None
        if pd_ is None and nd_ is None:
            want = (None, None)
        elif nd_ is None or (pd_ is not None and pd_ <= nd_):
            want = (
                base + datetime.timedelta(seconds=o - pd_),
                pd_ * 1_000_000,
            )
        else:
            want = (
                base + datetime.timedelta(seconds=o + nd_),
                nd_ * 1_000_000,
            )
        assert got[i] == want, (i, got[i], want)


# --- triangle counting: degree-oriented intersect vs brute force -----

EDGE_SETS = st.sets(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ).map(lambda p: (min(p), max(p))).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=30,
)


@SLOW_OK
@given(edges=EDGE_SETS)
def test_triangle_orientation_matches_bruteforce(spark, edges):
    """The degree-(degree,id)-oriented adjacency-intersect count must
    equal brute-force triangle enumeration for arbitrary small graphs
    — including hubs, isolated edges, and complete subgraphs."""
    from itertools import combinations

    und = spark.createDataFrame(
        [Row(u=u, v=v) for u, v in sorted(edges)]
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("dg"))
    )
    e1 = und.join(
        deg.select(F.col("n").alias("u"), F.col("dg").alias("du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("dg").alias("dv")), "v")
    ru = F.struct(F.col("du").alias("d"), F.col("u").alias("i"))
    rv = F.struct(F.col("dv").alias("d"), F.col("v").alias("i"))
    oriented = e1.select(
        F.when(ru < rv, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(ru < rv, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    got = (
        oriented.join(
            adj.select(F.col("src").alias("u2"), F.col("nbrs").alias("nu")),
            F.col("src") == F.col("u2"),
        )
        .join(
            adj.select(F.col("src").alias("v2"), F.col("nbrs").alias("nv")),
            F.col("dst") == F.col("v2"),
            "left",
        )
        .select(
            F.coalesce(
                F.size(F.array_intersect("nu", "nv")), F.lit(0)
            ).alias("tc")
        )
        .agg(F.sum("tc"))
        .collect()[0][0]
    )
    nodes = sorted({n for e in edges for n in e})
    es = set(edges)
    want = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in es and (b, c) in es and (a, c) in es
    )
    assert got == want, (got, want)


@SLOW_OK
@given(st.lists(GROUPED_VALUES, min_size=2, max_size=4))
def test_exact_group_quantiles_cokeyed_equals_broadcast(spark, batches):
    """broadcast_groups=False (the unbounded-group-cardinality mode:
    co-keyed shuffle joins instead of broadcasts) must return exactly
    the frame the broadcast plan returns."""
    from az_datapipeline_sentiment_analysis_spark.operators.quantiles import (
        exact_group_quantiles,
    )

    rows = [
        Row(bid=i, g=g, v=v)
        for i, batch in enumerate(batches)
        for g, v in batch
    ]
    df = spark.createDataFrame(rows, schema="bid int, g string, v double")
    ps = {"q25": 0.25, "med": 0.5}
    kw = dict(group_cols=["bid", "g"], nb=8, keep={"n": "count"})
    a = {
        (r["bid"], r["g"]): (r["q25"], r["med"], r["n"])
        for r in exact_group_quantiles(df, "v", ps, **kw).collect()
    }
    b = {
        (r["bid"], r["g"]): (r["q25"], r["med"], r["n"])
        for r in exact_group_quantiles(
            df, "v", ps, broadcast_groups=False, **kw
        ).collect()
    }
    assert a == b


@given(texts=TEXTS)
@SLOW_OK
def test_containment_pairs_match_set_model(spark, texts):
    """ngram_containment_pairs vs the direct trigram-set containment
    on generated corpora — exercises copy-groups (duplicate texts),
    shingle-less docs, and the threshold boundary together."""
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in dd.ngram_containment_pairs(df, threshold=0.3).collect()
    }
    pat = re.compile("[a-z]+")

    def sh(t):
        toks = pat.findall(t.lower())
        return {
            " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
        }

    exp = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            sa, sb = sh(texts[a]), sh(texts[b])
            if not sa or not sb:
                continue
            c = round(len(sa & sb) / min(len(sa), len(sb)), 4)
            if c >= 0.3:
                exp[(a, b)] = c
    assert got == exp


# --- AUC tie-group algebra vs a raw-row midrank model ----------------

AUC_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # cohort
        st.integers(min_value=0, max_value=4),      # quantized score
        st.booleans(),                              # label
    ),
    min_size=4,
    max_size=60,
)


@SLOW_OK
@given(rows=AUC_ROWS)
def test_auc_tie_group_matches_midrank_model(spark, rows):
    """The (cohort, score)-aggregated rank-sum must equal the textbook
    raw-row midrank AUC — the synthetic gate data has near-unique
    doubles, so heavy TIES (the part the tie-group algebra exists for)
    are exercised here with a 5-value score domain."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [Row(cohort=c, score=float(v), label=int(lb)) for c, v, lb in rows]
    )
    g = df.groupBy("cohort", "score").agg(
        F.count("*").alias("cnt"), F.sum("label").alias("pos")
    )
    wp = (
        Window.partitionBy("cohort")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    avg_rank = (
        F.coalesce(F.sum("cnt").over(wp), F.lit(0))
        + (F.col("cnt") + 1) / 2.0
    )
    agg = (
        g.select("cohort", "cnt", "pos", avg_rank.alias("avg_rank"))
        .groupBy("cohort")
        .agg(
            F.sum(F.col("pos") * F.col("avg_rank")).alias("rpos"),
            F.sum("pos").alias("npos"),
            (F.sum("cnt") - F.sum("pos")).alias("nneg"),
        )
        .collect()
    )
    got = {
        r["cohort"]: (r["rpos"], r["npos"], r["nneg"]) for r in agg
    }
    # pure-Python midrank model on raw rows
    from collections import defaultdict

    by_cohort = defaultdict(list)
    for c, v, lb in rows:
        by_cohort[c].append((float(v), int(lb)))
    for c, vals in by_cohort.items():
        vals.sort()
        n = len(vals)
        # average rank per tied value group
        ranks = {}
        i = 0
        while i < n:
            j = i
            while j < n and vals[j][0] == vals[i][0]:
                j += 1
            for k in range(i, j):
                ranks[k] = (i + 1 + j) / 2.0  # midrank of positions i+1..j
            i = j
        rpos = sum(ranks[k] for k in range(n) if vals[k][1] == 1)
        npos = sum(lb for _, lb in vals)
        nneg = n - npos
        gr = got[c]
        assert abs(gr[0] - rpos) < 1e-9 and gr[1] == npos and gr[2] == nneg, (
            c, gr, (rpos, npos, nneg)
        )


# --- editdist collapse equivalence vs the naive blocked form ---------

ED_DOCS = st.lists(
    st.tuples(
        st.sampled_from(["en", "de"]),                       # lang
        st.sampled_from(["abcd", "abce", "abcdx", "zzzz",    # near/far texts
                         "abcd", "qrst", "abcf"]),
    ),
    min_size=2,
    max_size=16,
)


@SLOW_OK
@given(docs=ED_DOCS)
def test_editdist_collapse_matches_naive_pairs(spark, docs):
    """The exact-copy-collapse Levenshtein must return the IDENTICAL
    pair set as the naive blocked form — exercised with many exact
    copies (the collapse path) across two langs and small texts whose
    distances straddle the threshold."""
    import itertools

    from az_datapipeline_sentiment_analysis_spark.plans.queries import REGISTRY
    import az_datapipeline_sentiment_analysis_spark.catalog as cat

    rows = [
        Row(doc_id=i, lang=lang, text=t, source="s", n_chars=len(t))
        for i, (lang, t) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows)
    orig = cat.table
    try:
        cat.table = lambda _s, _sf, name: df  # only documents is read
        import az_datapipeline_sentiment_analysis_spark.plans.queries_stats as qs_mod

        qs_mod._t, _saved = cat.table, qs_mod._t
        try:
            got = {
                (r["doc_a"], r["doc_b"]): r["edit_dist"]
                for r in REGISTRY["editdist_neardup"].fn(spark, "unused")
                .collect()
            }
        finally:
            qs_mod._t = _saved
    finally:
        cat.table = orig

    def lev(a, b):
        if a == b:
            return 0
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[n]

    exp = {}
    for (i, (la, ta)), (j, (lb, tb)) in itertools.combinations(
        enumerate(docs), 2
    ):
        if la != lb or len(ta) // 32 != len(tb) // 32:
            continue
        d = lev(ta.lower(), tb.lower())
        if d <= 20:
            exp[(min(i, j), max(i, j))] = d
    assert got == exp
