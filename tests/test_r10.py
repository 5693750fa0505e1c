"""Round-10 additions: BPE application (the encode path), pinned
three ways — greedy-loop == literal-replace semantics, JVM twin ==
UDF twin frame equality, and both == an independent pure-Python
reference over the full smoke corpus (token-conservation included).
"""

from __future__ import annotations

import re
from collections import defaultdict

from az_datapipeline_sentiment_analysis_spark.catalog import table as _t
from az_datapipeline_sentiment_analysis_spark.operators import (
    multimodal as mm,
)
from az_datapipeline_sentiment_analysis_spark.plans import (
    queries_r10 as r10,
)

from conftest import SF_SMOKE


def test_greedy_apply_matches_replace_semantics(spark):
    """The Python greedy loop must equal the |sym||sym| literal
    replace on adversarial shapes: runs of the same pair ('aaaa'),
    a merged token never re-consumed as LEFT in the same pass,
    multi-rank chains where a later merge consumes an earlier one."""
    cases = [
        ("aaaa", [("a", "a", "aa")]),
        ("aaa", [("a", "a", "aa")]),
        ("banana", [("a", "n", "an"), ("an", "a", "ana")]),
        ("anand", [("a", "n", "an"), ("an", "d", "and")]),
        ("xyx", [("x", "y", "xy"), ("xy", "x", "xyx")]),
    ]
    for word, merges in cases:
        s = "|" + "||".join(word) + "|"
        for left, right, merged in merges:
            row = spark.sql(
                "SELECT replace('" + s + "', '|" + left + "||" + right
                + "|', '|" + merged + "|') AS s"
            ).first()
            s = row.s
        via_replace = s.strip("|").split("||")
        assert r10._greedy_apply(word, merges) == via_replace, word


def test_bpe_apply_jvm_and_udf_twins_identical(spark):
    """Same logical operator, two physical paths (codegen'd replace
    chain vs Arrow pandas_udf greedy loop): frames must be row-for-row
    identical on the full smoke corpus."""
    jvm = {
        r.doc_id: tuple(r)[1:]
        for r in r10.bpe_apply_encode(spark, SF_SMOKE).collect()
    }
    udf = {
        r.doc_id: tuple(r)[1:]
        for r in r10.bpe_apply_udf(spark, SF_SMOKE).collect()
    }
    assert jvm == udf and len(jvm) > 0


def test_bpe_apply_matches_python_reference_and_conserves_tokens(spark):
    """Independent end-to-end reference: re-tokenize the corpus in
    pure Python, apply the TRAINED merges (read from the trainer
    entry) with the greedy loop, and require exact equality of every
    per-doc total — plus the conservation law n_chars == n_tokens +
    total merge applications (each application removes exactly one
    token), which pins the hit accounting globally."""
    merges = r10._train_merges(spark, SF_SMOKE)
    assert len(merges) == 3
    merged_syms = [m[2] for m in merges]

    ref = {}
    total_chars = total_tokens = 0
    for row in (
        _t(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    ):
        words = re.findall(r"[a-z]+", (row.text or "").lower())
        if not words:
            continue
        hits = defaultdict(int)
        n_tok = 0
        for w in words:
            toks = r10._greedy_apply(w, merges)
            n_tok += len(toks)
            total_chars += len(w)
            for t in toks:
                if t in merged_syms:
                    hits[t] += 1
        total_tokens += n_tok
        ref[row.doc_id] = (
            len(words),
            n_tok,
            hits[merged_syms[0]],
            hits[merged_syms[1]],
            hits[merged_syms[2]],
        )

    got = {
        r.doc_id: (
            r.n_pretokens,
            r.n_tokens,
            r.m1_hits,
            r.m2_hits,
            r.m3_hits,
        )
        for r in r10.bpe_apply_encode(spark, SF_SMOKE).collect()
    }
    assert got == ref

    # conservation: every merge application removes exactly one token,
    # so chars - tokens == total applications >= total surviving hits
    # (later merges can consume earlier merge outputs, never create
    # single chars back)
    applications = total_chars - total_tokens
    surviving_hits = sum(
        r[2] + r[3] + r[4] for r in ref.values()
    )
    assert applications >= surviving_hits > 0


# --- image dedup banding recall envelope (VERDICT r9 #3) ---------------

def _phash_windows(lo: int, hi: int) -> tuple:
    """The entry's candidate policy: aligned 4x16-bit chunks of the
    64 hash bits plus the 8-bit-rotated second partition — must stay
    in lockstep with image_dedup_verdict's band expressions."""
    return (
        lo % 65536, lo // 65536, hi % 65536, hi // 65536,
        (lo // 256) % 65536,
        (lo // 16777216) + (hi % 256) * 256,
        (hi // 256) % 65536,
        (hi // 16777216) + (lo % 256) * 256,
    )


def test_image_dedup_banding_recall_envelope(spark):
    """All-pairs ground truth over the sf0.001 dHash rep frame turns
    the docstring's recall claim into a measured envelope: every rep
    pair at Hamming d <= 3 MUST band-collide (pigeonhole over either
    4-window partition — structural, corpus-independent), and the
    d in 4..6 shell's exact miss set is pinned (fixture-deterministic):
    13/1105 missed with both partitions vs 61/1105 aligned-only."""
    import itertools
    from collections import Counter

    rows = (
        mm.png_phash(
            mm.with_png_payload(
                _t(spark, SF_SMOKE, "documents").select("doc_id")
            )
        )
        .select("doc_id", "phash_lo", "phash_hi")
        .collect()
    )
    groups = {}
    for r in rows:
        k = (r.phash_lo, r.phash_hi)
        groups[k] = min(groups.get(k, r.doc_id), r.doc_id)
    assert len(groups) == 226  # rep frame is fixture-deterministic

    total, missed, missed_aligned = Counter(), Counter(), Counter()
    for (a, _ra), (b, _rb) in itertools.combinations(groups.items(), 2):
        d = bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")
        if d > 6:
            continue
        total[d] += 1
        wa, wb = _phash_windows(*a), _phash_windows(*b)
        hits = [x == y for x, y in zip(wa, wb)]
        if not any(hits):
            missed[d] += 1
        if not any(hits[:4]):
            missed_aligned[d] += 1

    # structural guarantee: d <= 3 always collides (in EACH partition)
    assert all(missed[d] == 0 for d in (1, 2, 3))
    assert all(missed_aligned[d] == 0 for d in (1, 2, 3))
    # the measured envelope the docstring cites
    assert dict(total) == {1: 48, 2: 79, 3: 161, 4: 235, 5: 361, 6: 509}
    assert dict(missed) == {5: 2, 6: 11}
    assert dict(missed_aligned) == {4: 2, 5: 10, 6: 49}


# --- GIF codec (VERDICT r9 missing #4) ----------------------------------

def test_gif_roundtrip_and_width_boundaries():
    """Roundtrip across the interesting LZW regimes: fixture-size
    images (9-bit codes only), a 40x40 gradient (crosses the 512 and
    1024 table boundaries -> 10/11-bit codes), and a 300x200
    incompressible image (crosses 2048 AND the preemptive table
    clear). These same three byte streams were verified pixel-exact
    against the JDK ImageIO GIF decoder."""
    import numpy as np

    for i in [0, 1, 5, 17, 123, 999, 4242]:
        w, h = mm.pixel_dims(i)
        pix = mm.gif_pixel_gray(i, w, h)
        dec = mm.gif_decode_rgb(mm.gif_encode_gray(pix))
        assert (dec[:, :, 0] == pix).all()
        assert (dec[:, :, 1] == pix).all()  # identity-gray palette
    med = mm.gif_pixel_gray(42, 40, 40)
    assert (mm.gif_decode_rgb(mm.gif_encode_gray(med))[:, :, 0] == med).all()
    rng = np.random.default_rng(7)
    big = rng.integers(0, 256, size=(200, 300), dtype=np.uint8)
    enc = mm.gif_encode_gray(big)
    # incompressible input MUST have forced at least one table clear
    assert len(mm._gif_lzw_encode(big.tobytes())) > big.size
    assert (mm.gif_decode_rgb(enc)[:, :, 0] == big).all()


def test_gif_decode_handbuilt():
    """Decode a GIF built BY HAND (not via the encoder): 2x2, 4-color
    palette, min code size 2, LZW codes packed by hand — clear(3b),
    1, 2, 3 (3b each; the table add reaching code 8 grows the width),
    then 0 and EOI at 4 bits. A matching decode proves the bit order,
    width-growth point, and palette map independently of the
    encoder."""
    import numpy as np

    gif = (
        b"GIF89a"
        + b"\x02\x00\x02\x00"          # 2 x 2
        + bytes([0xF1, 0, 0])           # GCT, 4 entries
        + bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 210, 220])
        + b"\x2c" + bytes(4) + b"\x02\x00\x02\x00" + b"\x00"
        + bytes([2])                    # LZW min code size
        + bytes([3, 140, 6, 5])         # one 3-byte sub-block
        + b"\x00\x3b"
    )
    rgb = mm.gif_decode_rgb(gif)
    expect = np.array(
        [[[40, 50, 60], [70, 80, 90]], [[200, 210, 220], [10, 20, 30]]],
        dtype=np.uint8,
    )
    assert (rgb == expect).all()


def test_gif_lzw_kwkwk_and_clear_midstream():
    """KwKwK: 'aaaa...' forces the decoder to resolve a code equal to
    its table size on the second code; CLEAR mid-stream must reset
    cleanly (exercised by the incompressible roundtrip above, pinned
    here on a crafted tiny alphabet)."""
    data = b"\x01" * 50 + bytes(range(20)) * 3
    assert mm._gif_lzw_decode(mm._gif_lzw_encode(data)) == data


def test_gif_pixel_stats_entry_matches_decode(spark):
    """Entry-level pin: the Spark frame's integer aggregates equal a
    direct numpy recomputation from the fixture pixels for every doc
    at sf0.001 — the table-clear sentinel (doc_id 1) included."""
    import numpy as np

    rows = r10.gif_pixel_stats(spark, SF_SMOKE).collect()
    assert len(rows) == 500
    by_id = {r.doc_id: r for r in rows}
    for r in list(rows[:25]) + [by_id[mm.GIF_CLEAR_SENTINEL_ID]]:
        pix = mm.gif_fixture_gray(r.doc_id)
        assert (r.width, r.height) == (pix.shape[1], pix.shape[0])
        v = pix.astype(np.int64).ravel()
        assert r.px_sum == int(v.sum())
        assert r.px_sqsum == int((v * v).sum())
        assert (r.px_min, r.px_max) == (int(v.min()), int(v.max()))


def test_gif_clear_sentinel_forces_midstream_clear():
    """The registry fixture must actually reach the preemptive-CLEAR
    branch (VERDICT r10 #8): re-run the dictionary build on the
    sentinel's byte stream and count table resets — exactly one —
    then prove the encoded stream contains a mid-stream CLEAR code
    and roundtrips pixel-exact."""
    pix = mm.gif_fixture_gray(mm.GIF_CLEAR_SENTINEL_ID)
    assert pix.shape == (mm.GIF_CLEAR_H, mm.GIF_CLEAR_W)
    data = pix.ravel().tobytes()
    clears = 0
    d = {bytes([i]): i for i in range(256)}
    next_code, prefix = 258, b""
    for b in data:
        cand = prefix + bytes([b])
        if cand in d:
            prefix = cand
            continue
        d[cand] = next_code
        next_code += 1
        prefix = bytes([b])
        if next_code >= mm._GIF_MAX_TABLE:
            clears += 1
            d = {bytes([i]): i for i in range(256)}
            next_code = 258
    assert clears == 1, clears
    assert mm._gif_lzw_decode(mm._gif_lzw_encode(data)) == data
    dec = mm.gif_decode_rgb(mm.gif_encode_gray(pix))
    assert (dec[:, :, 0] == pix).all()


# --- composed image curation pipeline (VERDICT r9 #8) -------------------

def test_image_curation_pipeline_invariants(spark):
    """Linear output (one verdict per image), reason/keep coherence,
    canonical discipline, and the fixture-deterministic reason mix
    (all five drop reasons + keeps must be present — a threshold that
    silences a gate would hide bugs behind a degenerate corpus)."""
    from collections import Counter

    rows = r10.image_curation_pipeline(spark, SF_SMOKE).collect()
    assert len(rows) == 500
    assert len({r.doc_id for r in rows}) == 500
    mix = Counter(r.drop_reason for r in rows)
    assert mix == {
        "low_contrast": 222, "near_dup": 102, "exact_dup": 86,
        "dark": 27, "bright": 21, None: 42,
    }
    for r in rows:
        assert r.keep == (r.drop_reason is None)
        if r.drop_reason in ("low_contrast", "dark", "bright"):
            assert r.canonical_id is None and r.near_hamming is None
        elif r.drop_reason == "exact_dup":
            assert r.canonical_id < r.doc_id
        elif r.drop_reason == "near_dup":
            # a near-dup'd REP: it IS its group's canonical, dropped
            # because an earlier rep sits within the Hamming budget
            assert r.canonical_id == r.doc_id
            assert r.near_hamming is not None and r.near_hamming <= 6
        else:  # kept: own rep, no earlier near rep found
            assert r.canonical_id == r.doc_id and r.near_hamming is None


# --- zero-norm cosine guard, both engines (ADVICE r9 generalized) -------

def test_cosine_oracles_zero_norm_guard_cross_engine(spark, tmp_path):
    """Every cosine ORACLE now mirrors the Spark twins' denom==0 ->
    0.0 guard (the ADVICE r9 cluster_pairs_ctes fix, applied to all
    11 remaining cosine-oracle sites in round 10). Pin it end-to-end:
    a fixture with zero vectors on BOTH the query and corpus side
    must hash-match across engines instead of producing NaN/inf in
    DuckDB vs 0.0 in Spark."""
    import duckdb

    from az_datapipeline_sentiment_analysis_spark.plans.queries import (
        REGISTRY,
    )
    from tools.driver_gate_mirror import compare_frames

    rows = [
        (i, [float((i * 7 + d) % 5 - 2) for d in range(64)], i % 3)
        for i in range(30)
    ]
    rows[0] = (0, [0.0] * 64, 0)   # zero QUERY vector (mmr's anchor)
    rows[7] = (7, [0.0] * 64, 1)   # zero corpus vector
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "zero_norm")
    df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM"
        f" '{d}/embeddings.parquet/*.parquet'"
    )
    for name in ["embed_cosine_topk", "mmr_diversify",
                 "embed_matryoshka_eval"]:
        sdf = REGISTRY[name].fn(spark, d).toPandas()
        odf = con.execute(REGISTRY[name].sql).fetchdf()
        status, detail = compare_frames(sdf, odf)
        assert status == "OK", (name, status, detail)
        assert len(sdf) > 0, name
