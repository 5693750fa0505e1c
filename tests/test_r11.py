"""Round-11 additions: the baseline JPEG codec (encoder + general
entropy decoder), pinned by roundtrip across value/structure edges,
by rejection of out-of-envelope streams, and at entry level against a
numpy recomputation of the fixture formula. The encoder was verified
pixel-exact against the JDK ImageIO decoder in development via RASTER
samples (BufferedImage.getRGB applies a gray->sRGB gamma curve —
measured: constant 64 reads back 137 — so raster access is the only
faithful anchor).
"""

from __future__ import annotations

import numpy as np
import pytest

from az_datapipeline_sentiment_analysis_spark.operators import (
    multimodal as mm,
)
from az_datapipeline_sentiment_analysis_spark.plans import (
    queries_r11 as r11,
)

from conftest import SF_SMOKE


def test_jpeg_roundtrip_fixture_family():
    """Pixel-exact roundtrip for a spread of fixture docs covering
    every (width, height) block combination and DC values across the
    full byte range — the DC prediction chain crosses sign changes
    (negative diffs exercise the extend/one's-complement path)."""
    for i in [0, 1, 2, 5, 17, 42, 123, 999, 4242, 499999]:
        pix = mm.jpeg_fixture_gray(i)
        dec = mm.jpeg_decode_gray(mm.jpeg_encode_gray_blocks(pix))
        assert dec.shape == pix.shape
        assert (dec == pix).all(), f"doc {i}"


def test_jpeg_roundtrip_value_edges():
    """Clamp/extend edges: constant blocks at 0, 1, 127, 128, 255 and
    a two-block image whose DC diff is the extreme -255 -> +255."""
    for v in [0, 1, 127, 128, 255]:
        pix = np.full((8, 16), v, dtype=np.uint8)
        assert (
            mm.jpeg_decode_gray(mm.jpeg_encode_gray_blocks(pix)) == pix
        ).all(), v
    swing = np.zeros((8, 24), dtype=np.uint8)
    swing[:, 8:16] = 255
    assert (
        mm.jpeg_decode_gray(mm.jpeg_encode_gray_blocks(swing)) == swing
    ).all()


def test_jpeg_encoder_requires_block_constant():
    """The pixel-exact contract only holds for DC-only blocks, so the
    encoder must refuse anything else rather than silently go lossy."""
    bad = np.zeros((8, 8), dtype=np.uint8)
    bad[0, 0] = 1
    with pytest.raises(ValueError):
        mm.jpeg_encode_gray_blocks(bad)
    with pytest.raises(ValueError):
        mm.jpeg_encode_gray_blocks(np.zeros((9, 8), dtype=np.uint8))


def test_jpeg_decoder_rejects_out_of_envelope():
    """Progressive and non-JPEG streams fail loudly (the declared
    baseline envelope, like the GIF decoder's interlace rejection)."""
    with pytest.raises(ValueError):
        mm.jpeg_decode_gray(b"GIF89a" + bytes(20))
    good = mm.jpeg_encode_gray_blocks(np.zeros((8, 8), dtype=np.uint8))
    # flip SOF0 -> SOF2 (progressive): find the C0 marker
    idx = good.index(b"\xff\xc0")
    prog = good[:idx] + b"\xff\xc2" + good[idx + 2:]
    with pytest.raises(ValueError):
        mm.jpeg_decode_gray(prog)


def test_jpeg_byte_stuffing_roundtrip():
    """A DC value whose Huffman+amplitude bits produce an 0xFF byte in
    the entropy stream must be stuffed and unstuffed transparently;
    scan the full byte range to catch any stuffing path."""
    for v in range(0, 256, 7):
        pix = np.full((8, 8), v, dtype=np.uint8)
        enc = mm.jpeg_encode_gray_blocks(pix)
        assert (mm.jpeg_decode_gray(enc) == pix).all(), v


def test_mixed_sniff_routes_by_magic_bytes():
    """The dispatch must key on payload bytes, not the assignment
    rule: feed each codec's output directly and check the returned
    format tag and gray plane."""
    fmt, gray = mm.sniff_decode_gray(mm.mixed_fixture_payload(0))
    assert fmt == "png" and gray.shape == mm.pixel_dims(0)[::-1]
    fmt, gray = mm.sniff_decode_gray(mm.mixed_fixture_payload(1))
    assert fmt == "gif" and gray.shape == (mm.GIF_CLEAR_H, mm.GIF_CLEAR_W)
    fmt, gray = mm.sniff_decode_gray(mm.mixed_fixture_payload(2))
    assert fmt == "jpeg" and gray.shape == mm.jpeg_fixture_dims(2)[::-1]
    with pytest.raises(ValueError):
        mm.sniff_decode_gray(b"RIFF....WAVE" + bytes(20))


def test_mixed_curation_entry_invariants(spark):
    """One verdict row per doc, formats cycle by doc_id % 3, the GIF
    sentinel decodes through the table-clear path inside the entry,
    and each row's sums match a direct recomputation."""
    rows = r11.image_mixed_curation(spark, SF_SMOKE).collect()
    assert len(rows) == 500
    by_id = {r.doc_id: r for r in rows}
    for r in list(rows[:15]) + [by_id[1]]:
        assert r.fmt == mm.MIXED_FORMATS[r.doc_id % 3], r
        _, gray = mm.sniff_decode_gray(
            mm.mixed_fixture_payload(r.doc_id)
        )
        v = gray.astype(np.int64).ravel()
        assert (r.px_sum, r.px_sqsum) == (int(v.sum()), int((v * v).sum()))
        assert r.keep == (r.drop_reason is None), r
    assert by_id[1].fmt == "gif"
    assert (by_id[1].width, by_id[1].height) == (
        mm.GIF_CLEAR_W, mm.GIF_CLEAR_H,
    )


def test_jpeg_pixel_stats_entry_matches_decode(spark):
    """Entry-level pin: the Spark frame's integer aggregates equal a
    direct numpy recomputation from the fixture pixels at sf0.001."""
    rows = r11.jpeg_pixel_stats(spark, SF_SMOKE).collect()
    assert len(rows) == 500
    for r in rows[:25]:
        pix = mm.jpeg_fixture_gray(r.doc_id)
        assert (r.width, r.height) == (pix.shape[1], pix.shape[0])
        v = pix.astype(np.int64).ravel()
        assert r.px_sum == int(v.sum())
        assert r.px_sqsum == int((v * v).sum())
        assert (r.px_min, r.px_max) == (int(v.min()), int(v.max()))


# --- streaming curation restart equivalence (VERDICT r10 #7) ---------

def test_stream_curation_restart_equivalence(spark):
    """Kill the streaming curation pipeline AFTER a batch's writes but
    BEFORE its checkpoint commit, resume over the same checkpoint, and
    assert the final OUTPUT and the incremental dedup INDEX both equal
    an uninterrupted run's. The restart-noop pytest covers the simple
    foreachBatch sink; this proves the crash window where index
    subdirs are already on disk and the replayed batch must rewrite
    them identically (overwrite-by-batch-dir) rather than corrupt the
    dedup state the NEXT batches join against."""
    import tempfile

    from pyspark.sql import types as T

    from az_datapipeline_sentiment_analysis_spark.plans import (
        streaming_queries as sq,
    )
    from az_datapipeline_sentiment_analysis_spark.streaming import stream

    src_dir = sq._staged_documents_ordered(spark, SF_SMOKE)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )

    def drain(work: str, crash_on_bid: int | None = None) -> bool:
        out, idx = f"{work}/out", f"{work}/idx"
        crashed = {"fired": False}

        def fn(b, bid):
            sq.curation_stream_batch(b, int(bid), out, idx)
            if (
                crash_on_bid is not None
                and int(bid) == crash_on_bid
                and not crashed["fired"]
            ):
                crashed["fired"] = True
                raise RuntimeError(
                    "injected crash: writes done, commit pending"
                )

        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        from az_datapipeline_sentiment_analysis_spark.plans.queries import (
            _few_partitions,
        )

        with _few_partitions(spark):
            q = stream.start_foreach_batch(src, fn, checkpoint=f"{work}/ckpt")
            try:
                q.awaitTermination(300)
            except Exception:
                pass  # the injected crash surfaces here
        return crashed["fired"]

    def state(work: str):
        out_rows = sorted(
            tuple(r)
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(f"{work}/out")
            .select("doc_id", "lang", "n_chars")
            .collect()
        )
        idx_rows = sorted(
            tuple(r)
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(f"{work}/idx")
            .select("fp", "id")
            .collect()
        )
        return out_rows, idx_rows

    ref = tempfile.mkdtemp(prefix="sg_restart_ref_")
    assert not drain(ref)
    ref_out, ref_idx = state(ref)
    assert ref_out and ref_idx

    crashy = tempfile.mkdtemp(prefix="sg_restart_crash_")
    assert drain(crashy, crash_on_bid=1), "crash must have fired"
    assert not drain(crashy)  # resume: same checkpoint, batch replays
    got_out, got_idx = state(crashy)
    assert got_out == ref_out
    assert got_idx == ref_idx


def test_pq_arrow_codes_bit_equal_to_staged_chains(spark):
    """Optimization round 11: the numpy mapInArrow PQ assignment must
    be BIT-equal to the staged scalar chains it replaced — codes,
    list_id, and the raw reconstruction error (compared at the uint64
    bit level after the shared JVM round), across every fixture
    vector."""
    from az_datapipeline_sentiment_analysis_spark.catalog import table
    from az_datapipeline_sentiment_analysis_spark.operators import (
        similarity as sim,
    )
    from az_datapipeline_sentiment_analysis_spark.plans.queries_r7 import (
        pq_arrow_codes,
        pq_scalar_codes,
    )
    from pyspark.sql import functions as F

    books = sim.pq_codebooks()
    cents = sim.fixed_centroids()
    e = table(spark, SF_SMOKE, "embeddings")
    a = (
        pq_arrow_codes(e, books, dots_cents=cents, want_err=True)
        .select(
            "vec_id",
            "list_id",
            *[f"code{s}" for s in range(sim.PQ_SUBSPACES)],
            (F.round(F.col("recon_err_raw"), 6) + F.lit(0.0)).alias(
                "recon_sqerr"
            ),
        )
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    b = (
        pq_scalar_codes(e, books, dots_cents=cents, want_err=True)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert list(a.columns) == list(b.columns)
    for c in a.columns:
        if c == "recon_sqerr":
            av = np.ascontiguousarray(a[c].values).view(np.uint64)
            bv = np.ascontiguousarray(b[c].values).view(np.uint64)
            assert (av == bv).all(), "recon_sqerr not bit-identical"
        else:
            assert (a[c].values == b[c].values).all(), c


def test_pq_driver_tables_match_staged_chains(spark):
    """The driver-computed ADC tables and probed lists must equal the
    staged-chain values for every fixture query vector (same IEEE
    chains run in Python doubles)."""
    from az_datapipeline_sentiment_analysis_spark.catalog import table
    from az_datapipeline_sentiment_analysis_spark.operators import (
        similarity as sim,
    )
    from az_datapipeline_sentiment_analysis_spark.operators.similarity import (
        ivf_probe_lists,
        pq_adc_tables,
    )

    books = sim.pq_codebooks()
    cents = sim.fixed_centroids()
    rows = (
        table(spark, SF_SMOKE, "embeddings")
        .filter("vec_id < 5")
        .select("vec_id", "embedding")
        .collect()
    )
    assert rows
    for r in rows:
        xq = list(r["embedding"])
        tabs = pq_adc_tables(xq, books)
        x = np.asarray(xq, dtype=np.float64)
        for s in range(sim.PQ_SUBSPACES):
            xs = x[s * sim.PQ_DIM:(s + 1) * sim.PQ_DIM]
            for j in range(sim.PQ_K):
                acc = None
                for d in range(sim.PQ_DIM):
                    t = (float(xs[d]) - float(books[s][j][d])) * (
                        float(xs[d]) - float(books[s][j][d])
                    )
                    acc = t if acc is None else acc + t
                assert tabs[s][j] == acc
        probed = ivf_probe_lists(xq, cents, sim.IVF_N_PROBE)
        assert len(probed) == sim.IVF_N_PROBE
        assert len(set(probed)) == sim.IVF_N_PROBE


def test_arrow_assign_lists_bit_equal_to_hof_exprs(spark):
    """Optimization round 11: the numpy Arrow list-assignment pass
    must be bit-equal to the HOF-lambda form it replaced — dots fold,
    first-match argmax, and the 0.0-seeded norm — for every fixture
    vector."""
    from az_datapipeline_sentiment_analysis_spark.catalog import table
    from az_datapipeline_sentiment_analysis_spark.functions.arrays import (
        norm_expr,
    )
    from az_datapipeline_sentiment_analysis_spark.operators import (
        similarity as sim,
    )
    from az_datapipeline_sentiment_analysis_spark.operators.similarity import (
        _centroid_dots_expr,
        arrow_assign_lists,
    )
    from pyspark.sql import functions as F

    cents = sim.fixed_centroids(16)
    e = table(spark, SF_SMOKE, "embeddings")
    a = (
        arrow_assign_lists(e, cents)
        .select("vec_id", "list_id", "__n")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    b = (
        e.select(
            "vec_id",
            "embedding",
            norm_expr("embedding").alias("__n"),
        )
        .withColumn("__dots", _centroid_dots_expr("embedding", cents))
        .select(
            "vec_id",
            (
                F.array_position(F.col("__dots"), F.array_max("__dots"))
                - 1
            ).cast("long").alias("list_id"),
            "__n",
        )
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert (a["vec_id"].values == b["vec_id"].values).all()
    assert (a["list_id"].values == b["list_id"].values).all()
    an = np.ascontiguousarray(a["__n"].values).view(np.uint64)
    bn = np.ascontiguousarray(b["__n"].values).view(np.uint64)
    assert (an == bn).all(), "norms not bit-identical"


def test_cluster_blocked_pairs_matches_fold_replay(spark):
    """The numpy pair stage must emit exactly the pairs (and rounded
    cosines) a per-pair 0.0-seeded fold replay produces — including
    boundary behavior of the conservative pre-filter margin."""
    from az_datapipeline_sentiment_analysis_spark.catalog import table
    from az_datapipeline_sentiment_analysis_spark.operators import (
        similarity as sim,
    )

    tau = 0.35
    e = table(spark, SF_SMOKE, "embeddings")
    got = {
        (int(r["u"]), int(r["v"])): r["cosine"]
        for r in sim.cluster_blocked_pairs(
            e, n_lists=16, tau=tau
        ).collect()
    }
    rows = sorted(
        e.select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    cents = sim.fixed_centroids(16)
    import decimal

    def fold_dot(xa, xb):
        acc = 0.0
        for i in range(len(xa)):
            acc = acc + xa[i] * xb[i]
        return acc

    def spark_round6(x):
        # Spark's Round on double: BigDecimal half-up at scale 6 over
        # the double's shortest decimal repr
        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("0.000001"),
                rounding=decimal.ROUND_HALF_UP,
            )
        )

    assigned = []
    for r in rows:
        x = [float(v) for v in r["embedding"]]
        dots = []
        for c in cents:
            acc = 0.0
            for i in range(len(x)):
                acc = acc + x[i] * float(c[i])
            dots.append(acc)
        lid = dots.index(max(dots))
        import math

        nrm = math.sqrt(fold_dot(x, x))
        assigned.append((int(r["vec_id"]), lid, x, nrm))
    want = {}
    for ai in range(len(assigned)):
        for bi in range(ai + 1, len(assigned)):
            u, lu, xu, nu = assigned[ai]
            v, lv, xv, nv = assigned[bi]
            if lu != lv:
                continue
            denom = nu * nv
            cos = 0.0 if denom == 0 else fold_dot(xu, xv) / denom
            c6 = spark_round6(cos)
            if c6 >= tau:
                want[(u, v)] = c6
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], k
