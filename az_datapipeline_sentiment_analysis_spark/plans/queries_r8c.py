"""Round-8 continuation batch: the operator families still absent
after the 332-entry registry — entity-resolution blocking
(sorted-neighborhood), prefix-filtered exact similarity join
(AllPairs/PPJoin candidate generation), split-conformal prediction
intervals, CUPED variance reduction, the URL-parsing surface a web
curation pipeline filters on, and the one Python-UDF shape the matrix
still lacked (``mapInArrow``).

Registers into the shared ``REGISTRY`` (imported at the bottom of
``queries.py``). Conventions (SURVEY §2.3): integer aggregates CAST to
BIGINT in oracle SQL; ROUNDed floats that can be zero get ``+ 0.0``;
all cross-engine float math is scalar arithmetic over EXACT integer
aggregates (sum doubles only where rounding provably absorbs
order-dust); thresholds/prefix lengths in integer arithmetic so no
ceil-of-float boundary exists in either engine.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import spread as _sp
from ..catalog import table as _t
from ..operators import dedup as dd
from .queries import _LANG_CASE, _LANG_HITS_SQL, _q

# =====================================================================
# Prefix-filtered exact similarity join (AllPairs / PPJoin)
# =====================================================================

_PFX_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok,
             generate_subscripts(regexp_extract_all(lower(text), '[a-z]+'), 1) AS i
      FROM documents
    ),
    sh AS (
      SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS s
      FROM t a
      JOIN t b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN t c ON c.doc_id = a.doc_id AND c.i = a.i + 2
    ),
    ss AS (SELECT DISTINCT doc_id, s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ss GROUP BY doc_id),
    p AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n
      FROM ss x JOIN ss y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(n * 1.0 / (sa.sz + sb.sz - n), 4) AS jaccard
    FROM p
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n * 10 >= 3 * (sa.sz + sb.sz - n)
"""


@_q(
    "prefix_filter_simjoin",
    _PFX_ORACLE,
    "Exact shingle-Jaccard >= 0.3 pairs via PREFIX FILTERING"
    " (AllPairs — Bayardo/Ma/Srikant WWW'07; PPJoin — Xiao et al."
    " WWW'08): order each doc's shingles by ascending document"
    " frequency, index only the first |d| - ceil(0.3|d|) + 1"
    " (integer arithmetic, no float ceil), join prefix-vs-prefix,"
    " verify candidates exactly. Lossless by the prefix-filtering"
    " principle (Chaudhuri et al. ICDE'06), so the oracle is the"
    " PLAIN all-pairs inverted-index Jaccard — identical final"
    " answer, and the candidate set is provably a subset of the"
    " full-index plan's (pytest-asserted). The scale story vs"
    " ngram_jaccard_neardup: boilerplate shingles shared by k docs"
    " cost k^2 join rows in the full index but sort to the END of"
    " the frequency order and never enter the prefix index — the"
    " exact-copy collapse handles literal copies, prefix filtering"
    " handles the high-df tail. Measured at 100x in the same cold"
    " harness: 253.4s vs the full index's 974.9s for the identical"
    " 27.3M-pair output (see the operator docstring for the"
    " heap-dependence caveat). Implementation in"
    " operators/dedup.py:prefix_filter_jaccard_pairs.",
)
def prefix_filter_simjoin(spark, sf):
    return dd.prefix_filter_jaccard_pairs(
        _t(spark, sf, "documents"), t_num=3, t_den=10
    )


# =====================================================================
# Sorted-neighborhood record linkage (entity-resolution blocking)
# =====================================================================

# canonical values live in operators/dedup.py (cycle-free for
# worker-side unpickling of sibling plans modules)
from ..operators.dedup import SNM_EPS_CENTS as _SNM_EPS_CENTS
from ..operators.dedup import SNM_W as _SNM_W


@_q(
    "record_linkage_snm",
    f"""
    WITH r AS (
      SELECT c_custkey, c_mktsegment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents,
             ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT), c_custkey
             ) AS rn
      FROM customer
    )
    SELECT a.c_mktsegment AS segment,
           a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           CAST(b.rn - a.rn AS BIGINT) AS rank_gap,
           b.bal_cents - a.bal_cents AS bal_diff_cents
    FROM r a
    JOIN r b
      ON b.c_mktsegment = a.c_mktsegment
     AND b.rn BETWEEN a.rn + 1 AND a.rn + {_SNM_W}
    WHERE b.bal_cents - a.bal_cents <= {_SNM_EPS_CENTS}
    """,
    "Sorted-neighborhood record linkage (Hernandez & Stolfo, SIGMOD"
    " '95): block on market segment, sort each block by the fuzzy"
    " key (integer-cents balance, id tiebreak), and compare each"
    " record only to its next w=5 neighbors in sort order — candidate"
    " generation is O(n log n + n*w), never the O(n^2) cross join a"
    " naive matcher runs. Spark-side the neighbor pairs come from w"
    " lead() calls over ONE block-partitioned window (bounded frame,"
    " no self-join, no global sort): the sort shuffle is the entire"
    " cost, and blocks — SNM's own blocking key — are the partition"
    " key, so a 100 TB run sorts per block, not globally. Matches ="
    " neighbor pairs within 100 cents. Multi-pass SNM (re-run under a"
    " second sort key, union) composes by re-invoking with a different"
    " key; the oracle mirrors via ROW_NUMBER + banded self-join."
    " Measured at 100x replication of sf0.1: 42.9s for 7.33M"
    " candidate pairs (output-bound — w x n candidates by design).",
)
def record_linkage_snm(spark, sf):
    c = _t(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment",
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").alias("bal_cents"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy("bal_cents", "c_custkey")
    nbrs = F.array(
        *[
            F.lead(
                F.struct(
                    F.col("c_custkey").alias("k"),
                    F.col("bal_cents").alias("b"),
                ),
                i,
            ).over(w)
            for i in range(1, _SNM_W + 1)
        ]
    )
    return (
        c.withColumn("nbrs", nbrs)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_custkey").alias("custkey_a"),
            F.col("bal_cents").alias("bal_a"),
            F.posexplode("nbrs").alias("pos", "nbr"),
        )
        .filter(F.col("nbr").isNotNull())
        .select(
            "segment", "custkey_a",
            F.col("nbr.k").alias("custkey_b"),
            (F.col("pos") + 1).cast("long").alias("rank_gap"),
            (F.col("nbr.b") - F.col("bal_a")).alias("bal_diff_cents"),
        )
        .filter(F.col("bal_diff_cents") <= _SNM_EPS_CENTS)
    )


# =====================================================================
# Split-conformal prediction intervals (Mondrian by event_type)
# =====================================================================

@_q(
    "conformal_interval",
    """
    WITH base AS (
      SELECT event_type, value,
             ((event_id % 100) * 61) % 100 AS c
      FROM events
    ),
    pred AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_train,
             ROUND(AVG(value), 6) AS pred
      FROM base WHERE c < 60 GROUP BY event_type
    ),
    cal AS (
      SELECT b.event_type,
             ROUND(ABS(b.value - p.pred), 6) AS absres
      FROM base b JOIN pred p USING (event_type)
      WHERE b.c >= 60 AND b.c < 80
    ),
    ncal AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cal,
             LEAST((9 * (COUNT(*) + 1) + 9) // 10, COUNT(*)) AS k
      FROM cal GROUP BY event_type
    ),
    ranked AS (
      SELECT event_type, absres,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY absres) AS rn
      FROM cal
    ),
    q AS (
      SELECT r.event_type, CAST(n.k AS BIGINT) AS k,
             r.absres AS q_resid, n.n_cal
      FROM ranked r JOIN ncal n USING (event_type)
      WHERE r.rn = n.k
    ),
    test AS (
      SELECT b.event_type,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN ROUND(ABS(b.value - p.pred), 6)
                           <= q.q_resid THEN 1 ELSE 0 END) AS BIGINT)
               AS n_covered
      FROM base b
      JOIN pred p USING (event_type)
      JOIN q USING (event_type)
      WHERE b.c >= 80
      GROUP BY b.event_type
    )
    SELECT p.event_type, p.n_train, q.n_cal, q.k, q.q_resid,
           t.n_test, t.n_covered,
           ROUND(t.n_covered * 1.0 / t.n_test, 6) AS coverage
    FROM pred p JOIN q USING (event_type) JOIN test t USING (event_type)
    """,
    "Split-conformal prediction intervals, Mondrian-stratified by"
    " event_type (Vovk et al.; the distribution-free coverage"
    " guarantee eval pipelines attach to any point predictor):"
    " deterministic 60/20/20 train/calibration/test split via the"
    " modular coin, per-type mean as the point model, calibration"
    " |residual| order statistic at rank k = ceil(0.9*(n+1))"
    " (integer arithmetic: (9*(n+1)+9) div 10 — no float-ceil"
    " boundary), coverage audited on the held-out test split;"
    " guarantee: E[coverage] >= 0.9. Cross-engine float discipline:"
    " the per-type mean is rounded FIRST, residuals are rounded"
    " before ranking, so the rank-k selection and every <= compare"
    " operate on identically-quantized doubles. The rank selection"
    " is a per-type window (5 bounded groups here; a corpus with"
    " millions of strata stays per-group); everything else is two"
    " broadcast joins of 5-row frames against the fact scan."
    " Measured at 100x replication of sf0.1: 12.3s.",
)
def conformal_interval(spark, sf):
    ev = _t(spark, sf, "events")
    base = ev.select(
        "event_type", "value",
        (((F.col("event_id") % 100) * 61) % 100).alias("c"),
    )
    pred = (
        base.filter(F.col("c") < 60)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_train"),
            F.round(F.avg("value"), 6).alias("pred"),
        )
    )
    cal = (
        base.filter((F.col("c") >= 60) & (F.col("c") < 80))
        .join(F.broadcast(pred.select("event_type", "pred")), "event_type")
        .select(
            "event_type",
            F.round(F.abs(F.col("value") - F.col("pred")), 6).alias("absres"),
        )
    )
    ncal = cal.groupBy("event_type").agg(
        F.count("*").alias("n_cal"),
        F.expr("LEAST((9 * (COUNT(*) + 1) + 9) div 10, COUNT(*))").alias("k"),
    )
    ranked = cal.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("absres")
        ),
    )
    q = (
        ranked.join(F.broadcast(ncal), "event_type")
        .filter(F.col("rn") == F.col("k"))
        .select(
            "event_type", "n_cal",
            F.col("k").cast("long").alias("k"),
            F.col("absres").alias("q_resid"),
        )
    )
    test = (
        base.filter(F.col("c") >= 80)
        .join(F.broadcast(pred.select("event_type", "pred")), "event_type")
        .join(F.broadcast(q.select("event_type", "q_resid")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_test"),
            F.sum(
                F.when(
                    F.round(F.abs(F.col("value") - F.col("pred")), 6)
                    <= F.col("q_resid"),
                    1,
                ).otherwise(0)
            ).alias("n_covered"),
        )
    )
    return (
        pred.select("event_type", "n_train")
        .join(q, "event_type")
        .join(test, "event_type")
        .select(
            "event_type", "n_train", "n_cal", "k", "q_resid",
            "n_test", "n_covered",
            F.round(
                F.col("n_covered") * F.lit(1.0) / F.col("n_test"), 6
            ).alias("coverage"),
        )
    )


# =====================================================================
# CUPED variance reduction (pre-period covariate adjustment)
# =====================================================================

_CUPED_MOMENTS = """
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      CAST(SUM(x * x) AS BIGINT) AS sxx,
      CAST(SUM(y * y) AS BIGINT) AS syy,
      CAST(SUM(x * y) AS BIGINT) AS sxy
"""

# scalar double algebra shared VERBATIM by both engines (the same
# strings are interpolated into the oracle SQL and into F.expr): the
# operands are exact int64 moments CAST explicitly to DOUBLE — a bare
# `x * 1.0` would be DECIMAL arithmetic in BOTH Spark and DuckDB, with
# engine-specific precision rules — so every derived double is
# bit-identical across engines.
_CU_VY = (
    "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
    " / (CAST(n AS DOUBLE) * (n - 1)) / 10000.0"
)
_CU_CXY = (
    "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    " / (CAST(n AS DOUBLE) * (n - 1)) / 10000.0"
)
_CU_VX = (
    "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    " / (CAST(n AS DOUBLE) * (n - 1)) / 10000.0"
)
_CU_VADJ = f"{_CU_VY} - 2 * theta * ({_CU_CXY}) + theta * theta * ({_CU_VX})"
_CU_THETA = (
    "ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)"
)
_CU_MEANY = "ROUND(CAST(sy AS DOUBLE) / n / 100.0, 4)"
_CU_REDPCT = f"ROUND((1.0 - ({_CU_VADJ}) / ({_CU_VY})) * 100.0, 4) + 0.0"


@_q(
    "cuped_adjustment",
    f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
               THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS BIGINT) AS x,
             CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
               THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS BIGINT) AS y,
             CASE WHEN ((user_id % 100) * 61) % 100 < 50
                  THEN 'treat' ELSE 'control' END AS arm
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT {_CUPED_MOMENTS}
      FROM per_user
    ),
    theta AS (
      SELECT {_CU_THETA} AS theta
      FROM g
    ),
    arms AS (
      SELECT arm, {_CUPED_MOMENTS}
      FROM per_user GROUP BY arm
    )
    SELECT arm, n AS n_users, theta,
           {_CU_MEANY} AS mean_y,
           ROUND({_CU_VY}, 4) AS var_y,
           ROUND({_CU_VADJ}, 4) AS var_adj,
           {_CU_REDPCT} AS var_reduction_pct
    FROM arms, theta
    """,
    "CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013 —"
    " the standard pre-experiment covariate adjustment): per-user"
    " pre-period spend x and experiment-period spend y in EXACT"
    " integer cents, theta = cov(x,y)/var(x) from pooled int64"
    " moments, adjusted metric y - theta*(x - E[x]) whose per-arm"
    " variance shrinks by the x,y correlation^2. All aggregation is"
    " over int64 (one user shuffle, one 2-row arm rollup; theta is a"
    " 1-row broadcast); every double is derived AFTERWARD by scalar"
    " algebra both engines evaluate on identical integer operands —"
    " bit-identical, no float-sum order anywhere. Moment magnitude"
    " bound (docstring contract, same discipline as autocorr_daily):"
    " SUM(x*x) stays exact while n_users * max_user_cents^2 < 2^63"
    " (~1e18 — 150k users at $30k each here is 1.4e18; corpora past"
    " that cast the per-user products to DOUBLE symmetrically)."
    " Measured at 100x replication of sf0.1: 4.6s.",
)
def cuped_adjustment(spark, sf):
    ev = _t(spark, sf, "events")
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts") < cutoff, cents)), F.lit(0)
        ).alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= cutoff, cents)), F.lit(0)
        ).alias("y"),
    ).select(
        "x", "y",
        F.when(((F.col("user_id") % 100) * 61) % 100 < 50, "treat")
        .otherwise("control").alias("arm"),
    )

    def moments(df, keys):
        return df.groupBy(*keys).agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"), F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )

    glob = moments(per_user, []).select(F.expr(_CU_THETA).alias("theta"))
    arms = moments(per_user, ["arm"])
    return arms.crossJoin(F.broadcast(glob)).select(
        "arm",
        F.col("n").alias("n_users"),
        "theta",
        F.expr(_CU_MEANY).alias("mean_y"),
        F.expr(f"ROUND({_CU_VY}, 4)").alias("var_y"),
        F.expr(f"ROUND({_CU_VADJ}, 4)").alias("var_adj"),
        F.expr(_CU_REDPCT).alias("var_reduction_pct"),
    )


# =====================================================================
# URL parsing surface (web-curation domain/query stats)
# =====================================================================

@_q(
    "url_parse_stats",
    """
    WITH u AS (
      SELECT doc_id, lang, n_chars,
             'https://' || source || '.example.com/' || lang || '/doc-'
               || CAST(doc_id AS VARCHAR) || '?ref=r'
               || CAST(doc_id % 7 AS VARCHAR) || '&page='
               || CAST(doc_id % 13 AS VARCHAR) AS url
      FROM documents
    )
    SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS host,
           regexp_extract(url, 'ref=([^&]+)', 1) AS ref,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT regexp_extract(url, 'page=([0-9]+)', 1))
                AS BIGINT) AS n_pages,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM u
    GROUP BY 1, 2
    """,
    "The URL-decomposition surface a web-corpus curation pipeline"
    " filters on (domain blocklists, per-host caps, campaign-parameter"
    " stripping): Spark's parse_url (HOST / QUERY key extraction —"
    " JVM expression, codegen, zero Python) over deterministic URLs"
    " synthesized from the documents table, rolled up per (host, ref"
    " param) with doc counts, distinct page params, and mean length."
    " The oracle re-derives the same components with regexes — the"
    " entry pins that parse_url's HOST/QUERY semantics agree with the"
    " RFC-shaped patterns a non-Spark pipeline would use. Map-only"
    " until the single rollup shuffle; at 100 TB a per-host cap joins"
    " this output back broadcast. Measured at 100x replication of"
    " sf0.1: 2.4s.",
)
def url_parse_stats(spark, sf):
    d = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/doc-"),
        F.col("doc_id").cast("string"), F.lit("?ref=r"),
        (F.col("doc_id") % 7).cast("string"), F.lit("&page="),
        (F.col("doc_id") % 13).cast("string"),
    )
    u = d.select(
        F.col("n_chars"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref"),
        F.parse_url(url, F.lit("QUERY"), F.lit("page")).alias("page"),
    )
    return u.groupBy("host", "ref").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("page").alias("n_pages"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


# =====================================================================
# mapInArrow (the last UDF-surface shape: raw Arrow batches)
# =====================================================================

_ARROW_OUT = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("dim", T.LongType()),
        T.StructField("l2_norm", T.DoubleType()),
        T.StructField("max_abs", T.DoubleType()),
    ]
)


def _arrow_norm_batches(batches):
    """Per-batch vectorized kernel: float32 -> float64 cast, squared
    L2 norm and max |component|, emitted as a new Arrow batch. Runs
    on the raw Arrow data — no pandas materialization at all.

    NULL embeddings are zero-filled before the matrix build (the
    generated table has none, but the kernel must not crash on a
    null vector — np.stack over a None would); a zero row yields
    l2_norm 0 / max_abs 0, matching the oracle's NULL-in-lambda
    semantics only in the no-null case, so the dim column (0 for
    NULL) is the honest signal. Ragged NON-null vectors keep their
    real components and are padded with trailing zeros up to the
    batch width (trailing zeros change neither the norm nor
    max|x|), so the result no longer depends on which rows share an
    Arrow batch (ADVICE r9)."""
    import numpy as np
    import pyarrow as pa  # optional pyspark dep: import only where used

    for batch in batches:
        ids = batch.column(batch.schema.get_field_index("vec_id"))
        col = batch.column(batch.schema.get_field_index("embedding"))
        # length via the materialized object array, NOT the pyarrow
        # column: a null ListScalar is not None yet has no len()
        obj = col.to_numpy(zero_copy_only=False)
        lengths = np.asarray(
            [len(v) if v is not None else 0 for v in obj], dtype=np.int64
        )
        width = int(lengths.max()) if len(lengths) else 0
        rows = [
            np.zeros(width, dtype=np.float64)
            if v is None
            else np.pad(
                np.asarray(v, dtype=np.float64), (0, width - len(v))
            )
            for v in obj
        ]
        mat = (
            np.stack(rows).astype(np.float64)
            if len(rows)
            else np.zeros((0, 0))
        )
        norm = np.round(np.sqrt((mat * mat).sum(axis=1)), 6)
        mx = (
            np.round(np.abs(mat).max(axis=1), 6)
            if mat.shape[1]
            else np.zeros(len(obj))
        )
        yield pa.RecordBatch.from_arrays(
            [
                ids,
                pa.array(lengths, type=pa.int64()),
                pa.array(norm, type=pa.float64()),
                pa.array(mx, type=pa.float64()),
            ],
            names=["vec_id", "dim", "l2_norm", "max_abs"],
        )


@_q(
    "mapinarrow_transform",
    """
    SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * x))), 6) AS l2_norm,
           ROUND(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))), 6) AS max_abs
    FROM embeddings
    """,
    "DataFrame.mapInArrow — the one Python-UDF shape the surface"
    " matrix still lacked (pandas_udf / mapInPandas / applyInPandas"
    " (+State) / cogrouped / UDTF are all registry entries): the"
    " kernel receives RAW pyarrow RecordBatches, so there is no"
    " pandas Block consolidation or object boxing on either side of"
    " the exchange — for numeric array kernels this is the leanest"
    " Python path Spark has. Computes per-vector L2 norm and max"
    " |component| in float64 numpy from the float32 Arrow buffers;"
    " value-identical to the JVM higher-order-function formulation"
    " (embed_norms) and to the DuckDB list-lambda oracle (64-element"
    " float sums: order dust ~1e-13 << the 1e-6 rounding). Map-only,"
    " zero shuffle, embarrassingly parallel at any scale; the honest"
    " caveat stays in force — a pure-JVM expression (embed_norms)"
    " still beats any Python worker exchange, so mapInArrow is for"
    " kernels Catalyst genuinely cannot express. Measured at 100x"
    " replication of sf0.1: 3.7s for 200k vectors.",
)
def mapinarrow_transform(spark, sf):
    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(_arrow_norm_batches, _ARROW_OUT)


# =====================================================================
# Difference-in-differences (panel DiD on user change scores)
# =====================================================================

_DID_MOM = """
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(d) AS BIGINT) AS sd,
      CAST(SUM(d * d) AS BIGINT) AS sdd
"""
_DID_MEAN = "ROUND(CAST(sd AS DOUBLE) / n / 100.0, 4)"
_DID_VAR = (
    "ROUND((CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd)"
    " / (CAST(n AS DOUBLE) * (n - 1)) / 10000.0, 4)"
)
# scalars over the 2-arm moment row: same quantize-first discipline as
# welch_ttest — means/vars are rounded FIRST, then did/se/t are scalar
# functions of identical quantized inputs on both engines
_DID_EST = "ROUND(mt - mc, 4)"
_DID_SE = "ROUND(sqrt(vt / nt + vc / nc), 6)"
_DID_T = "ROUND((mt - mc) / sqrt(vt / nt + vc / nc), 4)"


@_q(
    "diff_in_diff",
    f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
               THEN CAST(ROUND(value * 100) AS BIGINT) END), 0)
             - COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
               THEN CAST(ROUND(value * 100) AS BIGINT) END), 0)
               AS BIGINT) AS d,
             CASE WHEN ((user_id % 100) * 61) % 100 < 50
                  THEN 'treat' ELSE 'control' END AS arm
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT arm, {_DID_MOM},
             {_DID_MEAN} AS mean_delta, {_DID_VAR} AS var_delta
      FROM per_user GROUP BY arm
    ),
    flat AS (
      SELECT
        MAX(CASE WHEN arm = 'treat' THEN n END) AS nt,
        MAX(CASE WHEN arm = 'treat' THEN mean_delta END) AS mt,
        MAX(CASE WHEN arm = 'treat' THEN var_delta END) AS vt,
        MAX(CASE WHEN arm = 'control' THEN n END) AS nc,
        MAX(CASE WHEN arm = 'control' THEN mean_delta END) AS mc,
        MAX(CASE WHEN arm = 'control' THEN var_delta END) AS vc
      FROM arms
    )
    SELECT a.arm, a.n AS n_users, a.mean_delta, a.var_delta,
           {_DID_EST} AS did_estimate,
           {_DID_SE} AS se,
           {_DID_T} AS t_stat
    FROM arms a, flat
    """,
    "Difference-in-differences (the canonical pre/post x treat/control"
    " causal estimator, Card & Krueger form) on PANEL data: each"
    " user's change score d = post - pre spend in exact integer cents"
    " absorbs the user fixed effect, so DiD = mean_d(treat) -"
    " mean_d(control) with a plain two-sample Welch SE — the"
    " change-score formulation is the correct panel DiD where naive"
    " 2x2 cell means would need clustered errors (each user appears"
    " in two cells). Same engine-shared scalar-algebra discipline as"
    " cuped_adjustment: int64 moments, explicit CAST(... AS DOUBLE),"
    " means/vars rounded before the did/se/t arithmetic. One user"
    " shuffle + a 2-row arm rollup; the cross-arm scalars ride a"
    " 1-row broadcast. Complements cuped_adjustment (variance"
    " reduction) and welch_ttest (cross-sectional test) in the"
    " experimentation family. Measured at 100x replication of"
    " sf0.1: 4.2s.",
)
def diff_in_diff(spark, sf):
    ev = _t(spark, sf, "events")
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        (
            F.coalesce(F.sum(F.when(F.col("ts") >= cutoff, cents)), F.lit(0))
            - F.coalesce(F.sum(F.when(F.col("ts") < cutoff, cents)), F.lit(0))
        ).alias("d")
    ).select(
        "d",
        F.when(((F.col("user_id") % 100) * 61) % 100 < 50, "treat")
        .otherwise("control").alias("arm"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("d").alias("sd"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
    ).select(
        "arm", "n",
        F.expr(_DID_MEAN).alias("mean_delta"),
        F.expr(_DID_VAR).alias("var_delta"),
    )
    t = F.when(F.col("arm") == "treat", 1)
    flat = arms.groupBy().agg(
        F.max(F.when(t == 1, F.col("n"))).alias("nt"),
        F.max(F.when(t == 1, F.col("mean_delta"))).alias("mt"),
        F.max(F.when(t == 1, F.col("var_delta"))).alias("vt"),
        F.max(F.when(t.isNull(), F.col("n"))).alias("nc"),
        F.max(F.when(t.isNull(), F.col("mean_delta"))).alias("mc"),
        F.max(F.when(t.isNull(), F.col("var_delta"))).alias("vc"),
    )
    return arms.crossJoin(F.broadcast(flat)).select(
        "arm",
        F.col("n").alias("n_users"),
        "mean_delta", "var_delta",
        F.expr(_DID_EST).alias("did_estimate"),
        F.expr(_DID_SE).alias("se"),
        F.expr(_DID_T).alias("t_stat"),
    )


# =====================================================================
# Wald sequential probability ratio test (daily conversion monitor)
# =====================================================================

import math as _math

_SPRT_P0, _SPRT_P1 = 0.18, 0.22
_SPRT_C1 = repr(_math.log(_SPRT_P1 / _SPRT_P0))
_SPRT_C2 = repr(_math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)))
# alpha = beta = 0.05: accept-H1 above ln(19), accept-H0 below -ln(19)
_SPRT_A_Q = int(round(_math.log(19.0) * 1_000_000))
# per-day LLR quantized to integer 1e-6 units BEFORE the running sum:
# a running window over doubles is order-deterministic, but the
# quantize-first int64 cumulative is immune even to engine-internal
# compensation differences (the anomaly_cusum discipline)
_SPRT_LLRQ = (
    f"CAST(ROUND((x * {_SPRT_C1} + (n - x) * {_SPRT_C2})"
    " * 1000000.0) AS BIGINT)"
)


@_q(
    "ab_sequential_sprt",
    f"""
    WITH daily AS (
      SELECT CASE WHEN ((user_id % 100) * 61) % 100 < 50
                  THEN 'treat' ELSE 'control' END AS arm,
             date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    walk AS (
      SELECT arm, day, x, n,
             {_SPRT_LLRQ} AS llr_q,
             SUM({_SPRT_LLRQ}) OVER (
               PARTITION BY arm ORDER BY day) AS cum_llr_q
      FROM daily
    )
    SELECT arm, day, x, n, llr_q, CAST(cum_llr_q AS BIGINT) AS cum_llr_q,
           CASE WHEN cum_llr_q >= {_SPRT_A_Q} THEN 'accept_h1'
                WHEN cum_llr_q <= -{_SPRT_A_Q} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM walk
    """,
    "Wald's sequential probability ratio test (Wald 1945) monitoring"
    " each arm's daily purchase-conversion rate — H0: p = 0.18 vs"
    " H1: p = 0.22, alpha = beta = 0.05: the ALWAYS-VALID sequential"
    " monitor that lets an experimenter stop the day the cumulative"
    " log-likelihood ratio crosses ln(19), where a fixed-horizon"
    " welch_ttest peeked daily would inflate false positives."
    " Bernoulli LLR constants are module-level Python floats embedded"
    " as identical literals in both engines; per-day LLR is quantized"
    " to integer 1e-6 units BEFORE the running sum (the anomaly_cusum"
    " discipline), so the walk and both decision thresholds are pure"
    " int64 — no float accumulation anywhere. One map-combined daily"
    " aggregate; the cumulative window runs on the calendar-bounded"
    " (arm x day) cell frame. Measured at 100x replication of"
    " sf0.1: 2.5s.",
)
def ab_sequential_sprt(spark, sf):
    ev = _t(spark, sf, "events")
    daily = ev.groupBy(
        F.when(((F.col("user_id") % 100) * 61) % 100 < 50, "treat")
        .otherwise("control").alias("arm"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("x"),
    )
    w = Window.partitionBy("arm").orderBy("day")
    walk = daily.withColumn("llr_q", F.expr(_SPRT_LLRQ)).withColumn(
        "cum_llr_q", F.sum("llr_q").over(w)
    )
    return walk.select(
        "arm", "day", "x", "n", "llr_q", "cum_llr_q",
        F.when(F.col("cum_llr_q") >= _SPRT_A_Q, "accept_h1")
        .when(F.col("cum_llr_q") <= -_SPRT_A_Q, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


# =====================================================================
# Johnson-Lindenstrauss sparse random projection (Achlioptas 2003)
# =====================================================================

_JL_OUT_DIMS = 16
_JL_SCALE = repr(_math.sqrt(3.0 / _JL_OUT_DIMS))


def _jl_signs(j: int, d: int = 64) -> list[tuple[int, int]]:
    """Deterministic Achlioptas column j: (input_dim, sign) for the
    nonzero entries — +1 / -1 / 0 with prob 1/6 / 1/6 / 2/3, derived
    from md5 so both engines see the same fixed matrix."""
    import hashlib

    out = []
    for i in range(d):
        u = int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[:8], 16)
        if u % 6 == 0:
            out.append((i, 1))
        elif u % 6 == 1:
            out.append((i, -1))
    return out


def _jl_expr(j: int, elem: str) -> str:
    """The j-th projected coordinate as an explicit literal +/- chain;
    identical term ORDER in both engines makes the float sum
    bit-identical. ``elem`` formats a 1-based element access."""
    terms = "".join(
        f" {'+' if s > 0 else '-'} CAST({elem.format(i + 1)} AS DOUBLE)"
        for i, s in _jl_signs(j)
    )
    return f"ROUND({_JL_SCALE} * (0.0{terms}), 6)"


def _jl_oracle_sql() -> str:
    proj = ",\n             ".join(
        f"{_jl_expr(j, 'embedding[{0}]')} AS jl{j}"
        for j in range(_JL_OUT_DIMS)
    )
    ssq = " + ".join(f"jl{j} * jl{j}" for j in range(_JL_OUT_DIMS))
    return f"""
    WITH proj AS (
      SELECT vec_id,
             {proj},
             ROUND(sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * x))), 6) AS l2x
      FROM embeddings
    )
    SELECT vec_id, jl0, jl1, jl2, jl3,
           ROUND(CASE WHEN l2x > 0
                      THEN sqrt({ssq}) / l2x ELSE 0.0 END, 4) + 0.0
             AS norm_ratio
    FROM proj
    """


@_q(
    "embed_jl_project",
    _jl_oracle_sql(),
    "Johnson-Lindenstrauss sparse random projection (Achlioptas 2003,"
    " database-friendly form): 64 -> 16 dims through a FIXED +1/-1/0"
    " matrix (density 1/3, entries md5-derived so the matrix is a"
    " deterministic constant in both engines), scaled by sqrt(3/k) so"
    " pairwise distances are preserved within (1 +- eps) w.h.p. — the"
    " OBLIVIOUS dimensionality-reduction move next to"
    " embed_matryoshka_eval's learned truncation: JL needs no"
    " training and its guarantee is data-independent. Each projected"
    " coordinate is one literal +/- chain over ~21 CAST-to-double"
    " components — identical term order on both engines makes every"
    " float bit-identical; the norm-preservation audit (||y||/||x||,"
    " the JL guarantee made measurable per row) is computed from the"
    " QUANTIZED coordinates on both sides. Map-only, zero shuffle,"
    " fused into the scan — a 100 TB corpus pays one pass, and the"
    " 4x-narrower output is what downstream ANN indexes ingest."
    " Emits 4 of the 16 coordinates plus the ratio; pytest pins the"
    " ratio distribution inside the JL concentration band. Measured"
    " at 100x replication of sf0.1: 5.5s for 200k vectors.",
)
def embed_jl_project(spark, sf):
    e = _t(spark, sf, "embeddings")
    proj = e.select(
        "vec_id",
        *[
            F.expr(_jl_expr(j, "element_at(embedding, {0})")).alias(f"jl{j}")
            for j in range(_JL_OUT_DIMS)
        ],
        F.expr(
            "ROUND(sqrt(aggregate(embedding, 0.0D,"
            " (acc, x) -> acc + CAST(x AS DOUBLE) * x)), 6)"
        ).alias("l2x"),
    )
    ssq = " + ".join(f"jl{j} * jl{j}" for j in range(_JL_OUT_DIMS))
    return proj.select(
        "vec_id", "jl0", "jl1", "jl2", "jl3",
        F.expr(
            f"ROUND(CASE WHEN l2x > 0 THEN sqrt({ssq}) / l2x"
            " ELSE 0.0 END, 4) + 0.0"
        ).alias("norm_ratio"),
    )


# =====================================================================
# nDCG@5 ranking evaluation (graded complement of recall_at_k_eval)
# =====================================================================

_NDCG_K = 5
# integer DCG weights: W_i = round(1e9 / log2(i + 1)) — Python floats
# never cross the engine boundary, only these int64 literals
_NDCG_W = {
    i: int(round(1e9 / _math.log2(i + 1))) for i in range(1, _NDCG_K + 1)
}


def _ndcg_oracle_sql(k: int) -> str:
    """Brute-force and LSH top-k rankings scored with integer DCG
    weights over quantized micro-cosine relevance — all int64 until
    the single final division."""
    from ..operators import similarity as sim

    planes = sim._planes(64, sim.N_PLANES)
    terms = []
    for i, p in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]"
        dot = (
            "list_sum(list_transform(generate_series(1, len(embedding)),"
            f" j -> CAST(embedding[j] AS DOUBLE) * ({arr})[j]))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(terms)
    cosine = """
             ROUND(
               CASE WHEN list_sum(list_transform(q.q_vec,
                    x -> CAST(x AS DOUBLE) * x)) = 0
                 OR list_sum(list_transform(c.embedding,
                    x -> CAST(x AS DOUBLE) * x)) = 0
               THEN CAST(0 AS DOUBLE) ELSE
               list_sum(list_transform(generate_series(1,
                 len(c.embedding)),
                 i -> CAST(q.q_vec[i] AS DOUBLE)
                      * CAST(c.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.q_vec,
                    x -> CAST(x AS DOUBLE) * x)))
                  * sqrt(list_sum(list_transform(c.embedding,
                    x -> CAST(x AS DOUBLE) * x))))
               END, 6)
    """
    wcase = " ".join(
        f"WHEN {i} THEN {w}" for i, w in _NDCG_W.items()
    )
    rel = "GREATEST(CAST(ROUND(cosine * 1000000) AS BIGINT), 0)"
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec, bucket AS q_bucket
          FROM b WHERE vec_id < 20),
    exact_scored AS (
      SELECT q.q_id, c.vec_id, {cosine} AS cosine
      FROM b c, q
      WHERE c.vec_id <> q.q_id
    ),
    exact_ranked AS (
      SELECT q_id, {rel} AS rel,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, vec_id) AS rnk
      FROM exact_scored
    ),
    idcg AS (
      SELECT q_id, CAST(SUM(rel * (CASE rnk {wcase} END)) AS BIGINT)
               AS idcg_q
      FROM exact_ranked WHERE rnk <= {k} GROUP BY q_id
    ),
    lsh_scored AS (
      SELECT q.q_id, c.vec_id, {cosine} AS cosine
      FROM b c, q
      WHERE c.vec_id <> q.q_id
        AND bit_count(xor(c.bucket, q.q_bucket)) <= 1
    ),
    lsh_ranked AS (
      SELECT q_id, {rel} AS rel,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, vec_id) AS rnk
      FROM lsh_scored
    ),
    dcg AS (
      SELECT q_id, CAST(SUM(rel * (CASE rnk {wcase} END)) AS BIGINT)
               AS dcg_q
      FROM lsh_ranked WHERE rnk <= {k} GROUP BY q_id
    )
    SELECT i.q_id, COALESCE(d.dcg_q, 0) AS dcg_q, i.idcg_q,
           ROUND(CASE WHEN i.idcg_q > 0
                      THEN CAST(COALESCE(d.dcg_q, 0) AS DOUBLE) / i.idcg_q
                      ELSE 0.0 END, 6) + 0.0 AS ndcg
    FROM idcg i LEFT JOIN dcg d ON i.q_id = d.q_id
    """


@_q(
    "ndcg_ranking_eval",
    _ndcg_oracle_sql(_NDCG_K),
    "nDCG@5 of the LSH candidate path against the exact brute-force"
    " ranking (Jarvelin & Kekalainen, TOIS 2002) — the GRADED"
    " complement of recall_at_k_eval: recall says whether the right"
    " items were retrieved, nDCG says whether the most-relevant ones"
    " landed at the TOP, with relevance = the quantized micro-cosine"
    " itself. Discount weights are integer literals W_i ="
    " round(1e9/log2(i+1)) fixed at module load, relevance is"
    " clamped-nonnegative int64, so DCG and ideal-DCG are exact"
    " integer dot products — one final division produces the only"
    " float. Reuses operators/similarity's brute_force_topk +"
    " lsh_topk pipelines verbatim (both deterministic arithmetic,"
    " the recall_at_k_eval precedent); same per-query"
    " WindowGroupLimit plans, broadcast query side. Measured at 100x"
    " replication of sf0.1: 37.0s isolated (vs recall_at_k_eval's"
    " 17.3s in the same harness — nDCG scores BOTH rankings'"
    " cosines where recall only intersects id sets).",
)
def ndcg_ranking_eval(spark, sf):
    from ..operators import similarity as sim

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    wcase = "CASE rank " + " ".join(
        f"WHEN {i} THEN {w}" for i, w in _NDCG_W.items()
    ) + " END"
    rel = "GREATEST(CAST(ROUND(cosine * 1000000) AS BIGINT), 0)"
    gain = F.expr(f"{rel} * ({wcase})")
    idcg = (
        sim.brute_force_topk(e, q, k=_NDCG_K)
        .groupBy("q_id")
        .agg(F.sum(gain).alias("idcg_q"))
    )
    dcg = (
        sim.lsh_topk(e, q, k=_NDCG_K)
        .groupBy("q_id")
        .agg(F.sum(gain).alias("dcg_q"))
    )
    return (
        idcg.join(dcg, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("dcg_q", F.lit(0)).alias("dcg_q"),
            "idcg_q",
            (
                F.round(
                    F.when(
                        F.col("idcg_q") > 0,
                        F.coalesce("dcg_q", F.lit(0)).cast("double")
                        / F.col("idcg_q"),
                    ).otherwise(0.0),
                    6,
                )
                + F.lit(0.0)
            ).alias("ndcg"),
        )
    )


# =====================================================================
# Item-item collaborative filtering (cosine neighbors over baskets)
# =====================================================================

_ITEMCF_K = 3
_ITEMCF_FLOOR = 2


@_q(
    "itemcf_neighbors",
    f"""
    WITH d AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    deg AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1
    ),
    p AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS n_ij
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_ITEMCF_FLOOR}
    ),
    sym AS (
      SELECT pa AS part_i, pb AS part_j, n_ij FROM p
      UNION ALL
      SELECT pb, pa, n_ij FROM p
    ),
    scored AS (
      SELECT s.part_i, s.part_j, s.n_ij, di.n AS n_i, dj.n AS n_j,
             CAST(ROUND(s.n_ij * 1000000.0
                  / sqrt(CAST(di.n AS DOUBLE) * dj.n)) AS BIGINT)
               AS score_q
      FROM sym s
      JOIN deg di ON di.l_partkey = s.part_i
      JOIN deg dj ON dj.l_partkey = s.part_j
    )
    SELECT part_i, part_j, n_ij, n_i, n_j, score_q,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY part_i
               ORDER BY score_q DESC, part_j) AS rnk
      FROM scored
    )
    WHERE rnk <= {_ITEMCF_K}
    """,
    "Item-item collaborative filtering (Sarwar et al., WWW 2001 —"
    " the production recsys workhorse): cosine similarity between"
    " items' basket-occurrence vectors, computed entirely from"
    " co-occurrence counts (cos = n_ij / sqrt(n_i * n_j) for binary"
    " vectors), top-3 neighbors per item. Completes the recsys"
    " family: basket_pairs counts co-occurrence, market_basket_rules"
    " directs it (confidence/lift), this NORMALIZES it into the"
    " neighbor lists an item-page recommender serves. Pair expansion"
    " is basket-bounded (the basket_pairs join, never |items|^2) with"
    " a support floor before the degree joins; scores quantized to"
    " integer micro-cosine so the per-item top-3 is an exact int64"
    " ranking (WindowGroupLimit pushes the cut below the shuffle);"
    " degree frame is |items|-sized and co-keyed. Measured at 100x"
    " replication of sf0.1: 401.5s for 713k neighbor rows — the"
    " ~90M-pair groupBy exchange is the honest cost class (see the"
    " in-code profile note).",
)
def itemcf_neighbors(spark, sf):
    li = _t(spark, sf, "lineitem")
    d = li.select("l_orderkey", "l_partkey").distinct()
    deg = d.groupBy("l_partkey").agg(F.count("*").alias("n"))
    # pair expansion via the per-basket sorted item ARRAY (the
    # market_basket_rules core): one basket-key shuffle with state
    # bounded by basket size, pairs generated by an in-row
    # flatten(transform(slice)) instead of a distinct-frame SELF-JOIN
    # that shuffles the 60M-row frame twice (back-to-back 100x runs:
    # 401.5s array form vs 443.2s join form — the dominant cost in
    # BOTH is the ~90M-generated-pair groupBy shuffle, profiled at
    # ~250s of the wall under that session's I/O load, which is the
    # workload itself: duplicate pairs rarely colocate so map-side
    # combine can't compress the exchange; a real cluster spreads
    # exactly this shuffle)
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    pairs_expr = F.expr(
        "flatten(transform(items, (x, i) ->"
        " transform(slice(items, i + 2, size(items)),"
        " y -> struct(x AS u, y AS v))))"
    )
    p = (
        baskets.select(F.explode(pairs_expr).alias("pr"))
        .groupBy(
            F.col("pr.u").alias("pa"), F.col("pr.v").alias("pb")
        )
        .agg(F.count("*").alias("n_ij"))
        .filter(F.col("n_ij") >= _ITEMCF_FLOOR)
    )
    sym = p.select(
        F.col("pa").alias("part_i"), F.col("pb").alias("part_j"), "n_ij"
    ).unionByName(
        p.select(
            F.col("pb").alias("part_i"), F.col("pa").alias("part_j"),
            "n_ij",
        )
    )
    scored = (
        sym.join(
            deg.select(
                F.col("l_partkey").alias("part_i"), F.col("n").alias("n_i")
            ),
            "part_i",
        )
        .join(
            deg.select(
                F.col("l_partkey").alias("part_j"), F.col("n").alias("n_j")
            ),
            "part_j",
        )
        .withColumn(
            "score_q",
            F.expr(
                "CAST(ROUND(n_ij * 1000000.0"
                " / sqrt(CAST(n_i AS DOUBLE) * n_j)) AS BIGINT)"
            ),
        )
    )
    w = Window.partitionBy("part_i").orderBy(
        F.desc("score_q"), F.asc("part_j")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _ITEMCF_K)
        .select("part_i", "part_j", "n_ij", "n_i", "n_j", "score_q", "rnk")
    )


# =====================================================================
# Per-class classification report (precision / recall / F1 / support)
# =====================================================================

# lang_id's prediction fragments scored against the gold ``lang``
# column — per-class counts, every metric one exact-integer division
_CLSREPORT_ORACLE = f"""
    WITH h AS (
      SELECT lang AS gold, {_LANG_HITS_SQL} FROM documents
    ),
    scored AS (
      SELECT gold, {_LANG_CASE} AS pred FROM h
    ),
    grid AS (
      SELECT gold, pred, CAST(COUNT(*) AS BIGINT) AS c
      FROM scored GROUP BY 1, 2
    ),
    gold_tot AS (
      SELECT gold AS label, CAST(SUM(c) AS BIGINT) AS support
      FROM grid GROUP BY 1
    ),
    pred_tot AS (
      SELECT pred AS label, CAST(SUM(c) AS BIGINT) AS predicted
      FROM grid GROUP BY 1
    ),
    diag AS (
      SELECT gold AS label, CAST(SUM(c) AS BIGINT) AS tp
      FROM grid WHERE gold = pred GROUP BY 1
    ),
    labels AS (
      SELECT COALESCE(g.label, p.label) AS label,
             COALESCE(g.support, 0) AS support,
             COALESCE(p.predicted, 0) AS predicted,
             COALESCE(d.tp, 0) AS tp
      FROM gold_tot g
      FULL OUTER JOIN pred_tot p ON g.label = p.label
      LEFT JOIN diag d ON COALESCE(g.label, p.label) = d.label
    )
    SELECT label, support, tp,
           predicted - tp AS fp,
           support - tp AS fn,
           ROUND(CASE WHEN predicted > 0
                 THEN CAST(tp AS DOUBLE) / predicted ELSE 0.0 END, 6)
             + 0.0 AS precision,
           ROUND(CASE WHEN support > 0
                 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END, 6)
             + 0.0 AS recall,
           ROUND(CASE WHEN predicted + support > 0
                 THEN 2.0 * tp / (predicted + support) ELSE 0.0 END, 6)
             + 0.0 AS f1
    FROM labels
    """


@_q(
    "classification_report",
    _CLSREPORT_ORACLE,
    "Per-class precision / recall / F1 / support of the lang_id"
    " heuristic scored against the gold lang column — the"
    " classifier-eval primitive (sklearn's classification_report"
    " shape) that was missing next to calibration_ece (is the score"
    " honest) and auc_by_cohort (does the score rank): this one says"
    " where a CLASSIFIER's errors live, per class, including classes"
    " that appear only in predictions (the 'und' reject class"
    " survives the FULL OUTER label join with support 0). Everything"
    " reduces to the |gold| x |pred| confusion grid — ONE"
    " map-combined aggregate over the corpus, all downstream math on"
    " the <=36-cell frame; F1 computed directly from integer counts"
    " as 2*tp/(predicted+support), a SINGLE exact division instead"
    " of the 2PR/(P+R) form whose nested rounded divisions would"
    " compound cross-engine ulps. Measured at 100x replication of"
    " sf0.1: 16.8s isolated for 500k docs (lang_id's bare scan is"
    " 5.4s in the same session — the delta is the second aggregate"
    " level and the full-outer label assembly on the tiny grid).",
)
def classification_report(spark, sf):
    from ..functions.text import lang_id_on_tokens, tokens_expr

    d = _sp(_t(spark, sf, "documents"))
    scored = d.withColumn("__toks", tokens_expr("text")).select(
        F.col("lang").alias("gold"),
        lang_id_on_tokens("text", "__toks").alias("pred"),
    )
    grid = scored.groupBy("gold", "pred").agg(F.count("*").alias("c"))
    gold_tot = grid.groupBy(F.col("gold").alias("label")).agg(
        F.sum("c").alias("support")
    )
    pred_tot = grid.groupBy(F.col("pred").alias("label")).agg(
        F.sum("c").alias("predicted")
    )
    diag = (
        grid.filter(F.col("gold") == F.col("pred"))
        .groupBy(F.col("gold").alias("label"))
        .agg(F.sum("c").alias("tp"))
    )
    labels = (
        gold_tot.join(pred_tot, "label", "full_outer")
        .join(diag, "label", "left")
        .select(
            "label",
            F.coalesce("support", F.lit(0)).alias("support"),
            F.coalesce("predicted", F.lit(0)).alias("predicted"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    return labels.select(
        "label", "support", "tp",
        (F.col("predicted") - F.col("tp")).alias("fp"),
        (F.col("support") - F.col("tp")).alias("fn"),
        (
            F.round(
                F.when(
                    F.col("predicted") > 0,
                    F.col("tp").cast("double") / F.col("predicted"),
                ).otherwise(0.0),
                6,
            )
            + F.lit(0.0)
        ).alias("precision"),
        (
            F.round(
                F.when(
                    F.col("support") > 0,
                    F.col("tp").cast("double") / F.col("support"),
                ).otherwise(0.0),
                6,
            )
            + F.lit(0.0)
        ).alias("recall"),
        (
            F.round(
                F.when(
                    (F.col("predicted") + F.col("support")) > 0,
                    F.lit(2.0) * F.col("tp")
                    / (F.col("predicted") + F.col("support")),
                ).otherwise(0.0),
                6,
            )
            + F.lit(0.0)
        ).alias("f1"),
    )
