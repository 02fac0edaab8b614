"""Behavioral tests for the LLM-data-pipeline operators (beyond the
oracle-parity checks): recall of the approximate paths against exact
baselines, dedup detection of injected duplicates, multimodal stub
contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mrf_etl_spark.operators import dedup as dd
from mrf_etl_spark.operators import similarity as sim
from mrf_etl_spark.operators.multimodal import decode_media
from mrf_etl_spark.state import release_state
from mrf_etl_spark.plans.parity_llm import (
    DIM,
    ID_SHIFT,
    NEAR_DUP_IDS,
    _docs_with_near_dups,
)


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """LSH candidates must recover most of the exact-Jaccard pairs, and
    every returned pair is exact-verified (precision 1.0 by construction)."""
    corpus = _docs_with_near_dups(spark, sf_dir)
    exact = {
        (r.doc_a, r.doc_b)
        for r in dd.ngram_jaccard_pairs(corpus, "text", "doc_id", 3, 0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dd.minhash_lsh_pairs(corpus, "text", "doc_id", 3, 16, 4, 0.5).collect()
    }
    assert lsh <= exact  # precision 1.0: every LSH pair is exact-verified
    injected = {(i, i + ID_SHIFT) for i in range(NEAR_DUP_IDS)}
    assert len(lsh & injected) / NEAR_DUP_IDS >= 0.85  # recall on known dups
    assert len(lsh) / max(len(exact), 1) >= 0.8


def test_simhash_near_dups_close(spark, sf_dir):
    """Near-identical docs get low-Hamming simhashes; random pairs don't."""
    corpus = _docs_with_near_dups(spark, sf_dir)
    sigs = {r.doc_id: r.simhash for r in dd.simhash_hex(corpus, "text", "doc_id").collect()}

    def hamming(a: str, b: str) -> int:
        return sum(bin(int(x, 16) ^ int(y, 16)).count("1") for x, y in zip(a, b))

    near = [hamming(sigs[i], sigs[i + ID_SHIFT]) for i in range(NEAR_DUP_IDS)]
    import random

    rng = random.Random(7)
    ids = sorted(i for i in sigs if i < ID_SHIFT)
    far = [hamming(sigs[rng.choice(ids)], sigs[rng.choice(ids)]) for _ in range(200)]
    near_avg = sum(near) / len(near)
    far_avg = sum(far) / len(far)
    # the synthetic corpus draws from a tiny shared vocabulary, so even
    # unrelated docs have correlated word sets — assert separation
    # relatively, plus an absolute bound on the mutated copies
    assert near_avg < 8
    assert near_avg < far_avg / 2


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(emb, dim=DIM, query_filter=F.col("vec_id") < 10, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(
            emb, dim=DIM, centroid_mod=97, nprobe=2, query_filter=F.col("vec_id") < 10, k=5
        ).collect()
    }
    # IVF with nprobe=2 over ~5 random centroids: recall is modest by
    # design on uniform random vectors; assert sane bounds + exact rank
    # agreement on the hits
    assert len(approx) == len(exact) == 50
    assert len(approx & exact) / len(exact) >= 0.3


def test_exact_dedup_finds_all_injected(spark, sf_dir):
    from mrf_etl_spark.plans.parity_llm import _docs_with_exact_dups

    groups = dd.exact_dup_groups(_docs_with_exact_dups(spark, sf_dir), "text", "doc_id")
    rows = groups.collect()
    assert len(rows) == 100
    assert all(r.n == 2 and r.max_id == r.min_id + ID_SHIFT for r in rows)


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_multimodal_stub_contract():
    if not _pil_available():
        # no real image decoder in this environment: image mimes raise
        # without fake=True
        with pytest.raises(NotImplementedError):
            decode_media(b"abcd", "image/png", fake=False)
    out = decode_media(b"abcd", "text/plain", fake=True)
    assert out == {
        "n_bytes": 4,
        "header_hex": "61626364",
        "mime": "text/plain",
        "feat_mean": (97 + 98 + 99 + 100) / 4,
    }


def test_jpeg_stdlib_roundtrip_and_decode_media():
    """VERDICT r8 #7: baseline JPEG decodes for REAL in every environment
    via the pure-stdlib codec (operators/jpegs.py) — no Pillow needed.
    A solid image round-trips exactly (all AC coefficients are zero and
    the flat quant table is lossless on the DC), a gradient within ~2
    levels, and decode_media's real image branch now accepts
    image/jpeg in the no-Pillow container."""
    from mrf_etl_spark.operators.jpegs import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    w, h = 24, 16
    solid = [128] * (w * h)
    jp = encode_jpeg_gray(solid, w, h)
    assert jp[:3] == b"\xff\xd8\xff" and jp[-2:] == b"\xff\xd9"
    ww, hh, px = decode_jpeg_gray(jp)
    assert (ww, hh) == (w, h)
    assert set(px) == {128.0}

    grad = [min(255, x * 3 + y * 2) for y in range(h) for x in range(w)]
    ww, hh, px = decode_jpeg_gray(encode_jpeg_gray(grad, w, h))
    assert max(abs(a - b) for a, b in zip(grad, px)) <= 2.0

    # odd (non-multiple-of-8) geometry: padded MCUs crop back exactly
    ww, hh, px = decode_jpeg_gray(encode_jpeg_gray([200] * (13 * 9), 13, 9))
    assert (ww, hh, len(px)) == (13, 9, 117) and set(px) == {200.0}

    out = decode_media(jp, "image/jpeg", fake=False)
    assert out["feat_mean"] == pytest.approx(128.0)
    assert out["n_bytes"] == len(jp) and out["header_hex"] == "ffd8ffdb"


def test_jpeg_restart_intervals_and_mode_rejections():
    """The decoder's DRI/RSTn path (byte realign + DC predictor reset)
    decodes a restart-marked stream identically to the unmarked one;
    progressive / arithmetic / 12-bit modes raise NAMING the mode (the
    explicit-failure contract), and gray_pixels routes JPEG through the
    stdlib codec so the perceptual-hash tier works on JPEG here too."""
    from mrf_etl_spark.operators.jpegs import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )
    from mrf_etl_spark.operators.multimodal import ahash_halves, gray_pixels, resize_nearest

    w, h = 40, 24
    grad = [min(255, x * 3 + y * 2) for y in range(h) for x in range(w)]
    base = decode_jpeg_gray(encode_jpeg_gray(grad, w, h))
    for ri in (1, 2, 3):
        assert decode_jpeg_gray(encode_jpeg_gray(grad, w, h, restart_interval=ri)) == base

    # half-dark / half-light: the ahash bits split exactly at the seam
    split = [0] * (16 * 8) + [255] * (16 * 8)
    jp = encode_jpeg_gray(split, 16, 16)
    ww, hh, px = gray_pixels(jp)
    hi, lo = ahash_halves(resize_nearest(px, ww, hh))
    assert (hi, lo) == (0xFFFFFFFF, 0x00000000)

    solid = encode_jpeg_gray([90] * 64, 8, 8)
    progressive = bytearray(solid)
    i = progressive.find(b"\xff\xc0")
    progressive[i + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg_gray(bytes(progressive))
    arith = bytearray(solid)
    arith[i + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg_gray(bytes(arith))
    twelve = bytearray(solid)
    twelve[i + 4] = 12  # precision byte of SOF0
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg_gray(bytes(twelve))


def test_multimodal_fake_mode_is_stub_even_with_real_decoder():
    """fake=True must use the byte stub UNCONDITIONALLY — even when PIL is
    importable — so fake-mode values are identical across environments and
    corrupt/synthetic payloads can't crash a real decoder."""
    payload = b"\x00garbage"  # not a decodable image
    out = decode_media(payload, "image/png", fake=True)
    assert out["feat_mean"] == pytest.approx(sum(payload) / len(payload))
    assert out["n_bytes"] == len(payload)
    assert out["header_hex"] == payload[:4].hex()


def test_multimodal_decode_golden_whichever_path():
    """Golden decode of a 2x1 grayscale PNG (pixels 0 and 200): the REAL
    path (PIL importable) must report the exact pixel mean; the stub path
    must report the exact byte mean. Runs whichever is available, so the
    selected-at-runtime branch is contract-tested in every environment."""
    # 2x1 8-bit grayscale PNG, pixels [0, 200], built from the spec with
    # stdlib zlib/struct so the test needs no encoder dependency
    import struct
    import zlib

    def _chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)  # 2x1, 8-bit gray
    idat = zlib.compress(bytes([0, 0, 200]))  # filter 0 + the two pixels
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )
    # PNG now decodes for REAL in every environment: PIL when importable,
    # the stdlib inflate+filter decoder otherwise — same golden value
    out = decode_media(png, "image/png")
    assert out["feat_mean"] == pytest.approx((0 + 200) / 2)
    assert out["n_bytes"] == len(png)
    assert out["header_hex"] == "89504e47"
    assert out["mime"] == "image/png"


def _encode_png(rows, color_type, filters):
    """Minimal spec-correct PNG encoder for tests: ``rows`` is a list of
    scanlines, each a list of pixel tuples (or ints for grayscale);
    ``filters[y]`` selects the filter type actually ENCODED for row y, so
    the decoder's reconstruction of every filter type is exercised."""
    import struct
    import zlib

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]

    def flat(row):
        out = []
        for px in row:
            out.extend([px] if isinstance(px, int) else list(px))
        return out

    h, w = len(rows), len(rows[0])
    raw = bytearray()
    prev = [0] * (w * ch)
    for y, row in enumerate(rows):
        line = flat(row)
        ft = filters[y]
        raw.append(ft)
        enc = []
        for i, v in enumerate(line):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ft == 0:
                enc.append(v & 0xFF)
            elif ft == 1:
                enc.append((v - a) & 0xFF)
            elif ft == 2:
                enc.append((v - b) & 0xFF)
            elif ft == 3:
                enc.append((v - (a + b) // 2) & 0xFF)
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                enc.append((v - pred) & 0xFF)
        raw.extend(enc)
        prev = line

    def _chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def test_stdlib_png_decoder_all_filters_and_color_types():
    """The stdlib PNG path is a REAL decoder: reconstruct every filter
    type (0-4) and every supported 8-bit color type, and match the mean
    computed directly from the source pixels."""
    from mrf_etl_spark.operators.multimodal import decode_png_gray_mean

    # grayscale 4x5, one row per filter type, values exercising wraparound
    rows = [
        [0, 255, 3, 128],
        [10, 10, 200, 200],
        [250, 1, 2, 3],
        [7, 99, 99, 7],
        [128, 0, 255, 64],
    ]
    png = _encode_png(rows, color_type=0, filters=[0, 1, 2, 3, 4])
    expect = sum(v for r in rows for v in r) / 20
    assert decode_png_gray_mean(png) == pytest.approx(expect)

    # RGB 2x2 with Paeth + average filters: ITU-R 601 luma mean
    rgb = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    png = _encode_png(rgb, color_type=2, filters=[3, 4])
    lumas = [0.299 * r + 0.587 * g + 0.114 * b for row in rgb for (r, g, b) in row]
    assert decode_png_gray_mean(png) == pytest.approx(sum(lumas) / 4)

    # gray+alpha and RGBA: alpha ignored, luma/gray mean
    ga = [[(100, 255), (50, 0)]]
    assert decode_png_gray_mean(
        _encode_png(ga, color_type=4, filters=[1])
    ) == pytest.approx(75.0)
    rgba = [[(10, 20, 30, 255), (10, 20, 30, 0)]]
    luma = 0.299 * 10 + 0.587 * 20 + 0.114 * 30
    assert decode_png_gray_mean(
        _encode_png(rgba, color_type=6, filters=[2])
    ) == pytest.approx(luma)


def test_pil_branch_decodes_jpeg_and_phash_behind_importorskip():
    """VERDICT r7 #2: the Pillow branch itself, exercised where PIL is
    importable (skipped in the no-Pillow container, where the stdlib PNG
    path and the NotImplementedError contract are tested instead). A JPEG
    — the format the stdlib path genuinely cannot decode — round-trips
    through decode_media and gray_pixels: a solid-gray 64x64 JPEG must
    decode to ~its gray level (lossy codec, so approx), and the
    perceptual-hash pixel path must see the same 64 samples."""
    Image = pytest.importorskip("PIL.Image", reason="Pillow optional")
    import io

    from mrf_etl_spark.operators.multimodal import (
        ahash_halves,
        decode_media,
        gray_pixels,
        resize_nearest,
    )

    buf = io.BytesIO()
    Image.new("L", (64, 64), color=128).save(buf, format="JPEG")
    jpeg = buf.getvalue()

    out = decode_media(jpeg, "image/jpeg", fake=False)
    assert out["feat_mean"] == pytest.approx(128, abs=2)
    assert out["n_bytes"] == len(jpeg)

    w, h, px = gray_pixels(jpeg)
    assert (w, h, len(px)) == (64, 64, 64 * 64)
    thumb = resize_nearest(px, w, h)
    hi, lo = ahash_halves(thumb)
    # solid image: every sample >= mean, so every ahash bit is set
    assert (hi, lo) == (0xFFFFFFFF, 0xFFFFFFFF)


def test_png_decoder_rejects_unknown_filter_type():
    """ADVICE r7: filter types 5-255 are invalid per the PNG spec; a
    corrupt payload must raise (the module's explicit-failure contract),
    not decode as if unfiltered and yield garbage pixels."""
    from mrf_etl_spark.operators.multimodal import decode_png_gray

    png = bytearray(_encode_png([[1, 2], [3, 4]], color_type=0, filters=[0, 0]))
    # rebuild with a corrupted filter byte on row 1: re-deflate raw
    # scanlines with filter byte 9
    import struct
    import zlib

    raw = bytearray(b"\x00\x01\x02\x09\x03\x04")
    idat = zlib.compress(bytes(raw))

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    corrupt = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="filter type 9"):
        decode_png_gray(corrupt)


def test_real_decode_distributed_via_map_in_pandas(spark):
    """m1's fake=False tier end-to-end on executors: PNG payloads decode
    for real inside mapInPandas and the distributed means match the
    driver-side decode (the last fake-only contract in the catalog,
    closed per VERDICT r6 #8)."""
    from mrf_etl_spark.operators.multimodal import (
        decode_png_gray_mean,
        extract_features,
    )

    pngs = [
        (i, _encode_png([[i * 10, 255 - i], [i, i * 7 % 256]], 0, [0, 4]))
        for i in range(1, 9)
    ]
    mm = spark.createDataFrame(
        [(i, p) for i, p in pngs], "doc_id long, payload binary"
    ).select(
        "doc_id",
        "payload",
        F.struct(F.lit("image/png").alias("mime")).alias("meta"),
    )
    out = {
        r["doc_id"]: r
        for r in extract_features(mm, partitions=4, fake=False).collect()
    }
    assert len(out) == 8
    for i, p in pngs:
        assert out[i]["feat_mean"] == pytest.approx(decode_png_gray_mean(p))
        assert out[i]["n_bytes"] == len(p)
        assert out[i]["mime"] == "image/png"


def test_frame_sampling(spark):
    """mapInPandas 1→N frame sampling: uniform stride, ≤ max_frames rows
    per doc, frame boundaries and fingerprints exact."""
    import hashlib

    from mrf_etl_spark.operators.multimodal import attach_binary_payload, sample_frames

    # 1100 bytes → 5 frames of 256 (last short) → stride 2 → idx {0, 2, 4}
    text = "x" * 1100
    df = spark.createDataFrame([(1, text), (2, "short")], "doc_id long, text string")
    mm = attach_binary_payload(df, "text", "doc_id")
    rows = {(r.doc_id, r.frame_idx): r for r in sample_frames(mm, 256, 4).collect()}
    assert sorted(rows) == [(1, 0), (1, 2), (1, 4), (2, 0)]
    assert rows[(1, 4)].offset == 1024 and rows[(1, 4)].frame_bytes == 76
    assert rows[(2, 0)].frame_bytes == 5
    want = hashlib.md5((b"x" * 256).hex().encode()).hexdigest()
    assert rows[(1, 0)].frame_md5 == want and rows[(1, 2)].frame_md5 == want


def test_hash_split_deterministic_and_proportional(spark):
    from mrf_etl_spark.operators import sampling as sp

    df = spark.range(20000).withColumnRenamed("id", "doc_id")
    out = sp.assign_split(df, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["train"] / 20000 - 0.9) < 0.02
    assert abs(counts["val"] / 20000 - 0.05) < 0.01
    assert abs(counts["test"] / 20000 - 0.05) < 0.01

    # appending data never moves existing rows: assignment of ids 0..999 is
    # identical whether computed over 1k or 20k rows
    small = sp.assign_split(
        spark.range(1000).withColumnRenamed("id", "doc_id"),
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    big_first = out.filter(F.col("doc_id") < 1000)
    assert small.exceptAll(big_first).count() == 0
    assert big_first.exceptAll(small).count() == 0

    # a different salt decorrelates the assignment
    salted = sp.assign_split(df, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}, salt="s1")
    moved = out.join(salted.withColumnRenamed("split", "split2"), "doc_id").filter(
        F.col("split") != F.col("split2")
    )
    assert moved.count() > 0


def test_stratified_sample_fractions(spark):
    from mrf_etl_spark.operators import sampling as sp

    df = spark.range(30000).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 3 == 0, "click")
        .when(F.col("id") % 3 == 1, "view")
        .otherwise("error")
        .alias("event_type"),
    )
    out = sp.stratified_sample(
        df, "event_id", "event_type", {"click": 0.5, "view": 0.2}, default_fraction=0.0
    )
    got = {r.event_type: r.n for r in out.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert abs(got["click"] / 10000 - 0.5) < 0.03
    assert abs(got["view"] / 10000 - 0.2) < 0.03
    assert "error" not in got  # default fraction 0 drops the stratum


def test_short_doc_shingles_whole_text(spark):
    """Docs with < k words shingle to the single whole-text shingle on the
    Spark side — the oracle CTE mirrors this branch (round-2 fix; without
    it short docs emit zero oracle shingle rows and d2/d3 diverge)."""
    df = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "three word doc"), (4, "a b c d")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.shingle)
        for r in dd.doc_shingles(df, "text", "doc_id", k=3).collect()
    }
    assert got == {
        (1, "one"),
        (2, "two words"),
        (3, "three word doc"),
        (4, "a b c"),
        (4, "b c d"),
    }


def test_ngram_jaccard_cap_semantics(spark):
    """The df cap drops hot shingles from CANDIDATE generation only:
    a pair whose every shared shingle is hot is missed (documented delta),
    while pairs sharing any rare shingle are still found with EXACT
    full-set jaccard identical to the uncapped operator."""
    hot = "the quick fox"  # one shared trigram in every doc -> df = n_docs
    rows = [(i, f"{hot} unique tail number {i}") for i in range(20)]
    rows.append((100, hot))  # hot-only pair: identical short docs
    rows.append((101, hot))
    rows.append((200, "a genuinely rare near duplicate sentence here"))
    rows.append((201, "a genuinely rare near duplicate sentence there"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(df, "text", "doc_id", 3, 0.5).collect()
    }
    capped_df = dd.ngram_jaccard_pairs_capped(
        df, "text", "doc_id", 3, 0.5, max_doc_freq=10
    )
    capped = {(r.doc_a, r.doc_b): r.jaccard for r in capped_df.collect()}
    release_state()

    assert (100, 101) in exact  # identical docs, jaccard 1.0
    assert (100, 101) not in capped  # their only shingle is hot -> pruned
    assert (200, 201) in capped  # rare-shingle pair survives the cap
    assert capped[(200, 201)] == pytest.approx(exact[(200, 201)])
    # every capped pair's jaccard is the exact value (verification uses
    # full sets, the cap only restricts which pairs are surfaced)
    for pair, j in capped.items():
        assert j == pytest.approx(exact[pair])


def test_connected_components_chain_and_canonical(spark):
    """Near-dup similarity is not transitive: a chain A~B, B~C (A not
    similar to C) must still collapse to ONE cluster with min-id canon."""
    pairs = spark.createDataFrame(
        [(2, 7), (7, 9), (20, 21), (40, 2)], "doc_a long, doc_b long"
    )
    comp = dd.connected_components(pairs)
    got = {r.doc_id: r.component_id for r in comp.collect()}
    release_state()
    assert got == {2: 2, 7: 2, 9: 2, 40: 2, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (2, 7, 9, 20, 21, 40, 99)],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dd.keep_canonical(docs, pairs).collect())
    assert kept == [2, 20, 99]  # cluster minima + untouched singleton


def test_connected_components_long_path_converges_logarithmically(spark):
    """Adversarial diameter: a 100-hop path (a chain of mutated copies).
    Min-label propagation needs diameter rounds (100 shuffle rounds);
    star contraction must stay logarithmic: ceil(log2(101)) = 7 rounds to
    the fixpoint + 1 confirming round = 8."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a long, doc_b long"
    )
    # cutoff=0 forces the distributed star-contraction path (the default
    # would solve this driver-sized graph with the local union-find)
    comp = dd.connected_components(pairs, driver_edge_cutoff=0)
    rows = comp.collect()
    assert len(rows) == 101
    assert all(r.component_id == 0 for r in rows)
    assert 0 < comp._mrf_rounds <= 8
    release_state()


def test_tfidf_top_terms(spark):
    from mrf_etl_spark.operators.textops import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "durian durian durian"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.term): (r.tf_n, r.doc_len, r.df, r.rank)
        for r in tfidf_top_terms(docs, "text", "doc_id", 2).collect()
    }
    # doc 1: apple tf=2 df=1 beats banana tf=1 df=2
    assert out[(1, "apple")] == (2, 3, 1, 1)
    assert out[(1, "banana")] == (1, 3, 2, 2)
    # doc 3: single distinct term, rank 1, corpus-unique (df=1)
    assert out[(3, "durian")] == (3, 3, 1, 1)
    # ties rank deterministically by term asc (banana/cherry same tf,df? no:
    # banana df=2, cherry df=1 -> cherry scores higher)
    assert out[(2, "cherry")][3] == 1 and out[(2, "banana")][3] == 2


def test_pii_scrub_and_counts(spark):
    from mrf_etl_spark.operators.textops import pii_counts, pii_scrub

    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex.org ssn 123-45-6789 call 555-123-4567 ok 12-34")],
        "id long, text string",
    )
    counts = pii_counts("text")
    row = df.select(
        pii_scrub("text").alias("s"),
        *[counts[n] for n in ("email", "ssn", "phone")],
    ).collect()[0]
    assert row.s == "mail <EMAIL> ssn <SSN> call <PHONE> ok 12-34"
    assert (row.n_email, row.n_ssn, row.n_phone) == (1, 1, 1)


def test_repetition_signals_hand_computed(spark):
    from mrf_etl_spark.operators.textops import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),        # top word a=3/4; bigrams: [a a, a a, a b]
            (2, "x"),              # single word: no bigrams
            (3, "p q p q"),        # bigrams: [p q, q p, p q] -> top 2/3
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(docs, "text", "doc_id").collect()}
    r1 = out[1]
    assert (r1.n_words, r1.n_distinct_words) == (4, 2)
    assert r1.top_word_frac == 0.75 and r1.distinct_ratio == 0.5
    assert r1.n_bigrams == 3 and r1.top_bigram_frac == 2 / 3
    r2 = out[2]
    assert (r2.n_words, r2.n_bigrams) == (1, 0)
    assert r2.top_bigram_frac is None  # no bigram mass to measure
    assert out[3].top_bigram_frac == 2 / 3


def test_contamination_overlap_hand_computed(spark):
    from mrf_etl_spark.operators.textops import contamination_overlap

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),  # shares 3 of 3 shingles
            (2, "totally novel training text here"),  # disjoint
            (3, "quick brown fox and more words"),  # shares 1 shingle
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps high")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r for r in contamination_overlap(corpus, ev, "text", "doc_id").collect()
    }
    assert out[1].n_shingles == 3 and out[1].overlap_frac == 1.0
    assert out[2].n_hit == 0 and out[2].overlap_frac == 0.0
    assert out[3].n_hit == 1 and out[3].overlap_frac == 0.25


def test_rolling_metrics_hand_computed(spark):
    from mrf_etl_spark.operators.rolling import rolling_metrics

    ev = spark.createDataFrame(
        [(1, i, float(i)) for i in range(1, 7)] + [(2, 1, 10.0)],
        "user_id long, seq long, value double",
    )
    out = {
        (r.user_id, r.seq): r
        for r in rolling_metrics(
            ev, "user_id", ["seq"], "value", trailing_rows=3
        ).collect()
    }
    # user 1 at seq 6: cum = 21, trailing-3 = 4+5+6 = 15, avg 5
    r = out[(1, 6)]
    assert r.cum_sum == 21.0 and r.cum_n == 6
    assert r.roll_sum == 15.0 and r.roll_avg == 5.0
    # frame shorter than the window: seq 2 -> trailing = 1+2
    assert out[(1, 2)].roll_sum == 3.0 and out[(1, 2)].roll_avg == 1.5
    assert out[(2, 1)].cum_sum == 10.0 and out[(2, 1)].cum_n == 1


def test_temporal_split_boundaries(spark):
    from mrf_etl_spark.operators.sampling import temporal_split

    df = spark.createDataFrame(
        [(1, 99), (2, 100), (3, 149), (4, 150), (5, 200)], "id long, ts long"
    )
    out = {r.id: r.split for r in temporal_split(df, "ts", 100, 50).collect()}
    assert out == {
        1: "train",        # strictly before cutoff
        2: "holdout_gap",  # at cutoff -> inside the buffer
        3: "holdout_gap",  # last gap tick
        4: "test",         # first test tick (cutoff + gap)
        5: "test",
    }


def test_top_ngrams_counts_and_ties(spark):
    from mrf_etl_spark.operators.textops import top_ngrams

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "z")], "doc_id long, text string"
    )
    got = [(r.gram, r.cnt) for r in top_ngrams(docs, "text", "doc_id", 2, 3).collect()]
    # 'a b' x3 ('a b a b' contributes 2), then ties 'b a'/'b c' break by gram
    assert got == [("a b", 3), ("b a", 1), ("b c", 1)]


def test_quantize_int8_roundtrip_error_bounded(spark):
    from mrf_etl_spark.operators.similarity import dequantize_expr, quantize_int8

    emb = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = {r.vec_id: r for r in quantize_int8(emb).collect()}
    assert q[1].scale == 1.0 / 127.0
    assert q[1].qvec == [127, -64, 32, 0]  # round(−63.5) away from zero
    assert q[2].scale == 0.0 and q[2].qvec == [0, 0, 0, 0]

    rec = (
        quantize_int8(emb)
        .select("vec_id", dequantize_expr("qvec", "scale").alias("r"))
        .collect()
    )
    orig = {1: [1.0, -0.5, 0.25, 0.0], 2: [0.0] * 4}
    for row in rec:
        for a, b in zip(row.r, orig[row.vec_id]):
            assert abs(a - b) <= (1.0 / 127.0) / 2 + 1e-12  # half-step bound


def test_repeated_passages(spark):
    from mrf_etl_spark.operators.textops import repeated_passages

    w = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"  # one full 10-word window
    docs = spark.createDataFrame(
        [
            (1, w + " unique tail one"),       # shares the window with 2, 3
            (2, "lead in words " + w),          # window at a different offset?
            (3, w),                             # exactly one window
            (4, "totally different words here"),# short doc, no sharing
            (5, "totally different words here"),# short-doc EXACT dup of 4
        ],
        "doc_id long, text string",
    )
    out = {
        r.passage_hash: (r.n_docs, r.min_doc, r.max_doc)
        for r in repeated_passages(docs, "text", "doc_id", win=10, stride=1).collect()
    }
    import hashlib

    shared = hashlib.md5(w.encode()).hexdigest()
    short = hashlib.md5(b"totally different words here").hexdigest()
    # docs 1, 2, 3 all contain the exact window (stride=1 finds it at any
    # offset); docs 4, 5 collapse via the short-doc whole-text fallback
    assert out[shared] == (3, 1, 3)
    assert out[short] == (2, 4, 5)
    # no other passage repeats
    assert len(out) == 2


def test_domain_cap_matches_window_spec(spark, sf_dir):
    """The two-phase histogram implementation must equal the one-window
    spec (row_number over (bucket, id) per domain <= cap) exactly —
    including the boundary-bucket partial take."""
    from pyspark.sql.window import Window

    from mrf_etl_spark.operators import sampling as sp

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    for cap in (1, 7, 60, 10_000):
        got = {
            (r.doc_id, r.source)
            for r in sp.domain_cap(d, "doc_id", "source", cap).collect()
        }
        w = Window.partitionBy("source").orderBy(
            sp.hash_bucket("doc_id"), F.col("doc_id")
        )
        want = {
            (r.doc_id, r.source)
            for r in d.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= cap)
            .collect()
        }
        assert got == want, f"cap={cap}: {len(got)} vs {len(want)}"


def test_domain_cap_counts(spark, sf_dir):
    from mrf_etl_spark.operators import sampling as sp

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    per = {r.source: r.n for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()}
    capped = sp.domain_cap(d, "doc_id", "source", 30)
    got = {
        r.source: r.n for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert got == {s: min(n, 30) for s, n in per.items()}


def test_pack_shards_partitions_corpus_balanced(spark, sf_dir):
    """Shards partition the corpus (no loss, no dup) and are hash-balanced;
    the manifest totals reconcile with the corpus."""
    from mrf_etl_spark.operators import sampling as sp

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    n = d.count()
    sharded = sp.pack_shards(d, "doc_id", 7)
    man = sp.shard_manifest(sharded, "doc_id", size_col="n_chars").collect()
    assert len(man) == 7
    assert sum(r.n_rows for r in man) == n
    assert sum(r.total_size for r in man) == d.agg(F.sum("n_chars")).first()[0]
    avg = n / 7
    assert all(abs(r.n_rows - avg) < 4 * avg**0.5 + 5 for r in man)
    # determinism: a second run yields the identical manifest
    man2 = sp.shard_manifest(sp.pack_shards(d, "doc_id", 7), "doc_id", size_col="n_chars").collect()
    assert sorted(map(tuple, man)) == sorted(map(tuple, man2))


def test_fuzzy_dedup_pipeline_drop_set(spark, sf_dir):
    """pipe2 composition invariants: dropped ∪ kept == corpus, every
    dropped doc's canonical survives and has a smaller id, and every
    injected near-dup copy is dropped in favor of its original."""
    from mrf_etl_spark.plans.parity_llm import pipe2_fuzzy_dedup

    corpus = _docs_with_near_dups(spark, sf_dir)
    drops = pipe2_fuzzy_dedup(spark, sf_dir).collect()
    dropped = {r.dropped_id for r in drops}
    keepers = {r.keep_id for r in drops}
    all_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert dropped <= all_ids
    assert keepers <= all_ids - dropped  # canonicals survive
    assert all(r.keep_id < r.dropped_id for r in drops)
    by_dropped = {r.dropped_id: r.keep_id for r in drops}
    found = sum(1 for i in range(NEAR_DUP_IDS) if by_dropped.get(i + ID_SHIFT) == i)
    assert found / NEAR_DUP_IDS >= 0.85  # LSH recall bound on known dups


def test_pack_sequences_fill_invariants(spark, sf_dir):
    """Every packed sequence crosses the token budget except possibly the
    last per shard; packing partitions the corpus; determinism."""
    from mrf_etl_spark.operators import sampling as sp
    from mrf_etl_spark.operators import textops as tx

    budget = 500
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", tx.token_count_ws("text").cast("long").alias("n_tok"))
    )
    sharded = sp.pack_shards(d, "doc_id", 3)
    packed = sp.pack_sequences(sharded, "doc_id", "n_tok", budget)
    rows = packed.collect()
    assert len(rows) == d.count()  # packing drops/dups nothing
    # replay the spec sequentially in Python: within each shard, docs in
    # (hash_bucket, id) order, seq = cum_tokens_before // budget
    buckets = {
        r.doc_id: r.bucket
        for r in d.select("doc_id", sp.hash_bucket("doc_id")).collect()
    }
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r.shard_id, []).append(r)
    for sid, rs in by_shard.items():
        rs.sort(key=lambda r: (buckets[r.doc_id], r.doc_id))
        cum = 0
        for r in rs:
            assert r.seq_id == cum // budget, (sid, r.doc_id, r.seq_id, cum)
            cum += r.n_tok
        # streaming fill ⇒ every boundary before the last row was crossed:
        # seq ids are contiguous from 0
        seqs = {r.seq_id for r in rs}
        assert seqs == set(range(len(seqs))), sid


def test_token_stream_chunks_invariants(spark, sf_dir):
    """sp21: the bucket-offset decomposition must produce the EXACT
    single-window semantics — offsets contiguous in id order (each doc
    starts where the previous one ended), chunk span arithmetic holds,
    zero-token rows occupy no stream positions, and a non-positive
    chunk size raises."""
    import pytest

    from mrf_etl_spark.operators import sampling as sp
    from mrf_etl_spark.operators import textops as tx

    B = 512
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", tx.token_count_ws("text").cast("long").alias("n_tok")
    )
    out = sp.token_stream_chunks(d, "doc_id", "n_tok", B).collect()
    assert len(out) == d.filter(F.col("n_tok") > 0).count()
    out.sort(key=lambda r: r.doc_id)
    cum = 0
    for r in out:
        assert r.start_off == cum, (r.doc_id, r.start_off, cum)
        assert r.first_chunk == r.start_off // B
        assert r.last_chunk == (r.start_off + r.n_tok - 1) // B
        assert r.n_chunks == r.last_chunk - r.first_chunk + 1 >= 1
        cum += r.n_tok
    # total chunks = ceil(total tokens / B); every chunk is touched
    total = cum
    touched = set()
    for r in out:
        touched.update(range(r.first_chunk, r.last_chunk + 1))
    assert touched == set(range((total + B - 1) // B))

    # zero-token rows are excluded, and the remaining offsets unchanged
    with_zero = d.union(
        spark.createDataFrame([(10**9, 0)], "doc_id long, n_tok long")
    )
    out2 = sp.token_stream_chunks(with_zero, "doc_id", "n_tok", B)
    assert out2.count() == len(out)

    with pytest.raises(ValueError):
        sp.token_stream_chunks(d, "doc_id", "n_tok", 0)


def test_token_stream_chunks_from_state_matches_batch(spark, sf_dir):
    """st17's serving path: a fixed-width bucket lake + additively-built
    offsets MV must reproduce the batch operator's span map EXACTLY —
    offsets depend only on id order, so the bucketing (and any ingest
    order) is result-invisible."""
    from mrf_etl_spark.operators import sampling as sp
    from mrf_etl_spark.operators import textops as tx

    B = 512
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", tx.token_count_ws("text").cast("long").alias("n_tok")
    )
    batch = {r.doc_id: r for r in sp.token_stream_chunks(d, "doc_id", "n_tok", B).collect()}

    # build the state as TWO additive merges in arrival order odd-then-
    # even (not id order), widths different from the batch op's derived one
    lake = d.withColumn("bucket", F.expr("doc_id div 64"))
    sums = lake.groupBy("bucket").agg(F.sum("n_tok").alias("tok_sum"))
    out = {
        r.doc_id: r
        for r in sp.token_stream_chunks_from_state(
            lake, sums, "doc_id", "n_tok", "bucket", B
        ).collect()
    }
    assert out.keys() == batch.keys()
    for k, r in out.items():
        br = batch[k]
        assert (r.start_off, r.first_chunk, r.last_chunk, r.n_chunks) == (
            br.start_off, br.first_chunk, br.last_chunk, br.n_chunks
        ), k


def test_balanced_shards_rank_and_balance(spark, sf_dir):
    """sp22: the two-level decomposed rank must equal the naive global
    (weight DESC, id ASC) rank exactly; the snake deal partitions the
    corpus with row counts within 1 and token totals within one lap's
    weight spread."""
    from mrf_etl_spark.operators import sampling as sp
    from mrf_etl_spark.operators import textops as tx

    N = 7
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", tx.token_count_ws("text").cast("long").alias("n_tok")
    )
    out = sp.balanced_shards(d, "doc_id", "n_tok", N).collect()
    assert len(out) == d.count()
    # replay the spec in Python
    rows = sorted(out, key=lambda r: (-r.n_tok, r.doc_id))
    for rk, r in enumerate(rows):
        lap, pos = divmod(rk, N)
        want = pos if lap % 2 == 0 else N - 1 - pos
        assert r.shard_id == want, (rk, r.doc_id, r.shard_id, want)
    totals = {}
    counts = {}
    for r in out:
        totals[r.shard_id] = totals.get(r.shard_id, 0) + r.n_tok
        counts[r.shard_id] = counts.get(r.shard_id, 0) + 1
    assert set(counts) == set(range(N))
    assert max(counts.values()) - min(counts.values()) <= 1
    max_w = max(r.n_tok for r in out)
    assert max(totals.values()) - min(totals.values()) <= N * max_w

    import pytest

    with pytest.raises(ValueError):
        sp.balanced_shards(d, "doc_id", "n_tok", 0)


def test_balanced_shards_wide_weights_exact_rank(spark):
    """r8 ADVICE regression: with max(weight) >= n_weight_buckets the
    coarse weight-bucket width _ww exceeds 1, so DISTINCT weights share
    a coarse bucket; the r8 offset table (keyed on the coarse bucket +
    id sub-bucket) then ordered 2046(id=0) BEFORE 2047(id=1000000),
    swapping shards vs the (weight DESC, id ASC) spec. The fixed
    three-level decomposition keys offsets on the EXACT weight, so id
    sub-buckets only split true ties. Fixture: the reproducer pair,
    a 3000-row weight-tie block (exercising id sub-bucket splitting of
    true ties), and scattered wide weights."""
    from mrf_etl_spark.operators import sampling as sp

    rows = [(1_000_000, 2047), (0, 2046)]
    rows += [(10_000 + i, 1500) for i in range(3000)]  # heavy tie block
    rows += [(500_000 + 37 * i, 7919 * (i % 13) + i) for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id: long, n_tok: long")
    N = 5
    out = sp.balanced_shards(d, "doc_id", "n_tok", N).collect()
    assert len(out) == len(rows)
    ordered = sorted(out, key=lambda r: (-r.n_tok, r.doc_id))
    for rk, r in enumerate(ordered):
        lap, pos = divmod(rk, N)
        want = pos if lap % 2 == 0 else N - 1 - pos
        assert r.shard_id == want, (rk, r.doc_id, r.n_tok, r.shard_id, want)
    # the reproducer pair specifically: 2047 outranks 2046
    by_id = {r.doc_id: r for r in out}
    rk_2047 = ordered.index(by_id[1_000_000])
    rk_2046 = ordered.index(by_id[0])
    assert rk_2047 < rk_2046


def test_shingle_novelty_hand_case(spark):
    """t21 on a known corpus: shared shingles zero out novelty, unique
    docs score 1.0, and the heavy-df counter uses the DOCUMENT
    frequency (per-doc distinct shingles — repeats inside one doc never
    inflate df)."""
    from mrf_etl_spark.operators.textops import shingle_novelty

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),     # shares all with doc 2
            (2, "alpha beta gamma delta"),
            (3, "unique words only here now"), # fully novel
            (4, "tiny"),                        # <k words: whole-text shingle
            (5, "rep rep rep rep rep"),         # one distinct shingle, df=1
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in shingle_novelty(docs, "text", "doc_id", k=3, heavy_df=2).collect()}
    assert out[1].n_shingles == 2 and out[1].n_novel == 0 and out[1].novelty == 0.0
    assert out[2].n_novel == 0 and out[2].n_heavy == 2  # df=2 >= heavy_df
    assert out[3].novelty == 1.0 and out[3].n_heavy == 0
    assert out[4].n_shingles == 1 and out[4].novelty == 1.0
    assert out[5].n_shingles == 1 and out[5].n_novel == 1  # in-doc repeats collapse


def test_pipe6_incremental_release_gates_only_the_delta(spark, tmp_path):
    """pipe6's incremental contract on a hand corpus: unchanged docs
    carry over even when they would FAIL today's gates; changed docs
    re-gate (a contaminated update drops); removed docs vanish; added
    docs land when clean and high-quality."""
    from mrf_etl_spark.plans.parity import REGISTRY

    eval_text = "held out benchmark question about rare topic xq17"
    good = (
        "the quick brown fox and the lazy dog walked over a bridge of "
        "words and the sentence kept a natural flow of common tokens."
    )
    rows = [
        # doc 0: eval doc (0 % 101 == 0) defines the bitset; 0 % 5 == 0
        # so release B REWRITES it → it re-gates as 'changed' and drops
        # as self-contaminated — eval data never enters the release.
        (0, eval_text, "en", "s0", len(eval_text)),
        # doc 3: unchanged, low quality (!!!) — must STAY (not re-gated)
        (3, "!!!! ???? !!!!", "en", "s0", 14),
        # doc 5: changed (5 % 5 == 0 appends ' v2') and good → updated
        (5, good, "en", "s0", len(good)),
        # doc 6: unchanged good doc → kept
        (6, good + " extra tail of plain prose.", "en", "s0", 1),
        # doc 8: in A only is impossible here (8 % 7 = 1 drops it from A
        # → it shows up as 'added' in B); make it contaminated with the
        # eval text → dropped_gate
        (8, good + " " + eval_text, "en", "s0", 1),
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
            "lang": [r[2] for r in rows],
            "source": [r[3] for r in rows],
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = REGISTRY["pipe6_incremental_release"].spark_fn(
        spark, str(tmp_path)
    )
    got = {(r.source, r.final_status): r.n_docs for r in out.collect()}
    release_state()
    # kept: docs 3 (low quality but unchanged — NOT re-gated) and 6
    assert got.get(("s0", "kept")) == 2, got
    # doc 5 changed+good → updated; doc 8 added+contaminated and doc 0
    # changed+self-contaminated → dropped_gate
    assert got.get(("s0", "updated")) == 1, got
    assert got.get(("s0", "dropped_gate")) == 2, got
    assert ("s0", "added") not in got, got


def test_domain_cap_null_domain_is_one_partition(spark):
    """Rows with a NULL domain form their own quota partition (the window
    spec's semantics) — they must not be dropped by the histogram join."""
    from pyspark.sql import types as T

    from mrf_etl_spark.operators import sampling as sp

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("dom", T.StringType())]
    )
    rows = [(i, "a") for i in range(10)] + [(100 + i, None) for i in range(10)]
    df = spark.createDataFrame(rows, schema)
    out = sp.domain_cap(df, "id", "dom", 4)
    got = out.groupBy("dom").count().collect()
    counts = {r.dom: r["count"] for r in got}
    assert counts == {"a": 4, None: 4}


def test_incremental_dedup_matches_known_dups(spark, sf_dir):
    """Mutated copies of indexed corpus docs must be dropped with their
    original as match_id; novel batch docs survive; appending the
    survivors' signatures to the index is idempotent (re-running the
    batch drops everything)."""
    from mrf_etl_spark.plans.parity_llm import NEAR_DUP_IDS as N
    from mrf_etl_spark.plans.parity_llm import SHINGLE_K, NUM_HASHES, BANDS, JACCARD_T

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    mutated = corpus.filter(F.col("doc_id") < 2 * N).select(
        (F.col("doc_id") + ID_SHIFT).alias("doc_id"),
        F.concat("text", F.lit(" extra token tail")).alias("text"),
    )
    batch = d.filter(F.col("doc_id") % 2 == 1).unionByName(mutated)
    index = dd.per_doc_signature_state(corpus, "text", "doc_id", SHINGLE_K, NUM_HASHES)
    out = {
        r.doc_id: r
        for r in dd.dedup_incremental(
            batch, index, "text", "doc_id", SHINGLE_K, NUM_HASHES, BANDS, JACCARD_T
        ).collect()
    }
    assert len(out) == batch.count()
    hits = sum(
        1
        for i in range(0, 2 * N, 2)
        if not out[i + ID_SHIFT].survived and out[i + ID_SHIFT].match_id == i
    )
    assert hits / N >= 0.85  # LSH recall on the planted dups
    # survivors join the index; re-ingesting the same batch drops ALL of it
    surv_ids = [i for i, r in out.items() if r.survived]
    survivors = batch.filter(F.col("doc_id").isin(surv_ids))
    index2 = index.unionByName(
        dd.per_doc_signature_state(survivors, "text", "doc_id", SHINGLE_K, NUM_HASHES)
    )
    rerun = dd.dedup_incremental(
        batch, index2, "text", "doc_id", SHINGLE_K, NUM_HASHES, BANDS, JACCARD_T
    )
    assert rerun.filter(F.col("survived")).count() == 0


def test_media_near_dup_catches_tail_extended_copies(spark, sf_dir):
    """A payload with an appended tail shares every leading frame with its
    original — m4 must pair them; full-payload exact dedup (m3) cannot."""
    from mrf_etl_spark.operators.multimodal import (
        attach_binary_payload,
        media_near_dup,
        sample_frames,
    )
    from mrf_etl_spark.plans.parity_llm import M4_FRAME, M4_MAXF

    corpus = _docs_with_near_dups(spark, sf_dir)
    mm = attach_binary_payload(corpus, "text", "doc_id")
    frames = sample_frames(mm, frame_size=M4_FRAME, max_frames=M4_MAXF, partitions=8)
    pairs = {(r.doc_a, r.doc_b) for r in media_near_dup(frames, threshold=0.5).collect()}
    planted = {(i, i + ID_SHIFT) for i in range(NEAR_DUP_IDS)}
    # frame granularity is 64 B so very short docs can fall under the
    # threshold (1 shared frame of 2+2); require strong majority recall
    assert len(pairs & planted) / NEAR_DUP_IDS >= 0.8


def test_mix_sources_rates_and_determinism(spark, sf_dir):
    """Integer epochs are exact (rate 2.0 -> every doc exactly twice,
    rate 1.0 -> exactly once); fractional rates land within hash noise;
    copies are distinct per doc; re-runs are identical."""
    from mrf_etl_spark.operators import sampling as sp

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    per = {r.source: r.n for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()}
    rates = {"src0": 2.0, "src1": 0.5, "src2": 3.25}
    out = sp.mix_sources(d, "doc_id", "source", rates, default_rate=1.0)
    rows = out.collect()
    got = {}
    for r in rows:
        got[r.source] = got.get(r.source, 0) + 1
    assert got["src0"] == 2 * per["src0"]  # integer epochs exact
    for s, n in per.items():
        if s not in rates:
            assert got[s] == n  # default rate 1.0 exact
    assert abs(got["src1"] - 0.5 * per["src1"]) <= 4 * (per["src1"] ** 0.5)
    assert abs(got["src2"] - 3.25 * per["src2"]) <= 4 * (per["src2"] ** 0.5)
    # copies distinct per doc, contiguous from 0
    seen = {}
    for r in rows:
        seen.setdefault(r.doc_id, []).append(r.copy)
    for doc, copies in seen.items():
        assert sorted(copies) == list(range(len(copies))), doc
    rows2 = sp.mix_sources(d, "doc_id", "source", rates, default_rate=1.0).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_global_shuffle_dense_positions_and_determinism(spark):
    """Positions are a dense permutation of 0..n-1, stable across runs,
    identical to the single-window definition, and salt-sensitive."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mrf_etl_spark.operators.sampling import global_shuffle, shard_hash

    ids = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    out = global_shuffle(ids, "doc_id", salt="s1", n_buckets=16)
    rows = {r.doc_id: r.shuffle_pos for r in out.collect()}
    assert sorted(rows.values()) == list(range(500))
    # equals the naive single-partition ranking
    naive = ids.select(
        "doc_id",
        (
            F.row_number().over(
                Window.orderBy(shard_hash("doc_id", "s1"), "doc_id")
            )
            - 1
        ).alias("pos"),
    )
    assert rows == {r.doc_id: r.pos for r in naive.collect()}
    # same salt reproduces; different salt is a different permutation
    again = {r.doc_id: r.shuffle_pos
             for r in global_shuffle(ids, "doc_id", salt="s1", n_buckets=16).collect()}
    assert again == rows
    other = {r.doc_id: r.shuffle_pos
             for r in global_shuffle(ids, "doc_id", salt="s2", n_buckets=16).collect()}
    assert other != rows
    import pytest as _pytest

    with _pytest.raises(ValueError):
        global_shuffle(ids, "doc_id", n_buckets=3)


def test_boilerplate_flags_hand_computed(spark):
    """Bigrams shared by >= min_docs docs of the SAME source flag as
    boilerplate; the same span in another source does not; 1-word docs
    fall back to the whole-text span."""
    from mrf_etl_spark.operators.textops import boilerplate_flags

    docs = spark.createDataFrame(
        [
            # src_a: 'cookie banner' appears in 3 docs -> boilerplate at min_docs=3
            (1, "cookie banner alpha beta", "src_a"),
            (2, "cookie banner gamma delta", "src_a"),
            (3, "cookie banner epsilon", "src_a"),
            # same span in src_b only once -> NOT boilerplate there
            (4, "cookie banner zeta", "src_b"),
            (5, "solo", "src_b"),  # 1-word doc: whole text is the span
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r.doc_id: r
        for r in boilerplate_flags(
            docs, "text", "doc_id", "source", k=2, min_docs=3
        ).collect()
    }
    assert out[1].n_spans == 3 and out[1].n_boiler == 1
    assert out[2].n_spans == 3 and out[2].n_boiler == 1
    assert out[3].n_spans == 2 and out[3].n_boiler == 1
    assert out[3].boiler_frac == 0.5
    assert out[4].n_boiler == 0  # span is hot in src_a, cold in src_b
    assert out[5].n_spans == 1 and out[5].n_boiler == 0


def test_lsh_ann_candidates_and_precision(spark, sf_dir):
    """LSH candidates prune the corpus; hits agree exactly with the
    brute-force ranking on cosine values (precision of scoring is 1.0 —
    only the candidate SET is approximate)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in sim.cosine_topk(
            emb, dim=DIM, query_filter=F.col("vec_id") < 10, k=5
        ).collect()
    }
    lsh_rows = sim.lsh_topk(
        emb, dim=DIM, n_tables=3, n_bits=6,
        query_filter=F.col("vec_id") < 10, k=5,
    ).collect()
    got = {(r.query_id, r.neighbor_id): r.cosine for r in lsh_rows}
    # every overlapping pair scores identically (exact verify)
    for pair in got.keys() & exact.keys():
        assert got[pair] == exact[pair]
    # 10 queries x k=5, every query found at least k candidates here
    assert len(lsh_rows) == 50
    # same-bucket-in-any-table is a real pruning: the candidate set is a
    # small fraction of the corpus (expected ~ tables * N / 2^bits)
    n = emb.count()
    cand = sim.lsh_topk(
        emb, dim=DIM, n_tables=3, n_bits=6,
        query_filter=F.col("vec_id") < 10, k=10**9,
    ).count()
    assert cand < 10 * n * 0.5  # far below the 10-query brute-force pair count


def test_corpus_release_pipeline_invariants(spark, sf_dir):
    """pipe3 composition invariants: no eval ids survive, every survivor
    passes both gates, and shuffle positions are dense 0..n-1."""
    from mrf_etl_spark.plans.parity_llm import EVAL_MOD, pipe3_corpus_release
    from mrf_etl_spark.plans.parity import t as _t
    from mrf_etl_spark.operators.textops import quality_score

    out = pipe3_corpus_release(spark, sf_dir).collect()
    ids = [r.doc_id for r in out]
    assert ids and all(i % EVAL_MOD != 0 for i in ids)
    assert sorted(r.shuffle_pos for r in out) == list(range(len(out)))
    # spot-check the quality gate held
    d = _t(spark, sf_dir, "documents")
    bad_q = {
        r.doc_id
        for r in d.filter(quality_score("text") < 0.75).select("doc_id").collect()
    }
    assert not (set(ids) & bad_q)


def test_rare_token_ratio_hand_computed(spark):
    from mrf_etl_spark.operators.textops import rare_token_ratio

    docs = spark.createDataFrame(
        [
            (1, "common common xqzt"),   # 'xqzt' appears once -> rare
            (2, "common common common"),
            (3, "common blorp blorp"),   # 'blorp' count 2 <= 2 -> rare
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in rare_token_ratio(docs, "text", "doc_id", 2).collect()}
    assert out[1].n_tokens == 3 and out[1].n_rare == 1
    assert out[2].n_rare == 0  # 'common' count 6 > 2
    assert out[3].n_rare == 2 and out[3].rare_ratio == pytest.approx(2 / 3)


def test_containment_finds_embedded_doc_jaccard_misses(spark):
    """A short doc fully embedded in a much longer one: containment ~1.0,
    jaccard diluted far below threshold — the asymmetric metric's reason
    to exist."""
    from mrf_etl_spark.operators.dedup import ngram_jaccard_pairs_capped

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, short), (2, short + " " + filler)], "doc_id long, text string"
    )
    cont = ngram_jaccard_pairs_capped(
        df, "text", "doc_id", k=3, threshold=0.8, metric="containment"
    )
    rows = cont.collect()
    release_state()
    assert [(r.doc_a, r.doc_b) for r in rows] == [(1, 2)]
    assert rows[0].containment == 1.0

    jac = ngram_jaccard_pairs_capped(
        df, "text", "doc_id", k=3, threshold=0.8, metric="jaccard"
    )
    jrows = jac.collect()
    release_state()
    assert jrows == []  # union denominator dilutes the embedded match


def test_q4_composed_reuses_precomputed_pair_frames(spark, sf_dir):
    """q4 standalone == q4 handed the session's existing d2/d3b frames
    (the pipe2 reuse pattern) — same single report row either way."""
    from mrf_etl_spark.plans.parity_llm import (
        BANDS,
        JACCARD_T,
        MAX_DF,
        NUM_HASHES,
        SHINGLE_K,
    )
    from mrf_etl_spark.plans.parity_llm import q4_dedup_quality

    docs = _docs_with_near_dups(spark, sf_dir)
    lsh = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", SHINGLE_K, NUM_HASHES, BANDS, JACCARD_T
    )
    exact = dd.ngram_jaccard_pairs_capped(
        docs, "text", "doc_id", SHINGLE_K, JACCARD_T, max_doc_freq=MAX_DF
    )
    composed = q4_dedup_quality(spark, sf_dir, lsh=lsh, exact=exact)
    standalone = q4_dedup_quality(spark, sf_dir)
    crow, srow = composed.collect()[0], standalone.collect()[0]
    assert crow.asDict() == srow.asDict()
    assert crow.n_exact > 0 and crow.recall is not None
    release_state()


def test_simhash_hamming_finds_injected_near_dups(spark, sf_dir):
    """Every injected near-dup (doc + ' extra token tail') whose signature
    is within Hamming 3 of its original must be surfaced by the banded
    candidate path, and every returned pair's hamming must be exact
    (checked against a Python popcount of the hex signatures)."""
    corpus = _docs_with_near_dups(spark, sf_dir)
    sigs = {
        r.doc_id: int(r.simhash, 16)
        for r in dd.simhash_hex(corpus, "text", "doc_id").collect()
    }
    pairs = dd.simhash_hamming_pairs(corpus, "text", "doc_id", max_hamming=3)
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    release_state()
    # exactness of every returned distance
    for (a, b), h in got.items():
        assert h == bin(sigs[a] ^ sigs[b]).count("1"), (a, b)
        assert h <= 3
    # completeness over the injected structure: original vs its shifted
    # near-copy, whenever the true distance is within the threshold
    expected = {
        (i, i + ID_SHIFT)
        for i in range(NEAR_DUP_IDS)
        if i in sigs
        and bin(sigs[i] ^ sigs[i + ID_SHIFT]).count("1") <= 3
    }
    assert expected, "fixture produced no close pairs — test is vacuous"
    assert expected <= set(got)


def test_simhash_hamming_rejects_unsupported_threshold(spark, sf_dir):
    """4 fixed bands pigeonhole-guarantee recall only for distance <= 3;
    a higher threshold must fail loudly instead of silently returning an
    incomplete pair set."""
    corpus = _docs_with_near_dups(spark, sf_dir)
    with pytest.raises(ValueError, match="max_hamming"):
        dd.simhash_hamming_pairs(corpus, "text", "doc_id", max_hamming=4)


def test_dedup_quality_report_ignores_duplicated_pair_rows(spark):
    """The report takes arbitrary caller-built pair frames; duplicated
    (doc_a, doc_b) rows in either input must not inflate the counts or
    skew recall."""
    exact = spark.createDataFrame(
        [(1, 2), (1, 2), (3, 4)], "doc_a long, doc_b long"
    )
    lsh = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 2), (5, 6)], "doc_a long, doc_b long"
    )
    row = dd.dedup_quality_report(lsh, exact).collect()[0]
    assert (row.n_exact, row.n_lsh, row.n_tp, row.n_missed) == (2, 2, 1, 1)
    assert row.recall == 0.5


def test_sentence_stats_and_encoding_sanity_edges(spark):
    """Hand-checked edge cases: empty text, no terminal punctuation,
    trailing/double punctuation, mojibake + control chars."""
    from mrf_etl_spark.operators.textops import encoding_sanity, sentence_stats

    df = spark.createDataFrame(
        [
            (1, "One two three. Four five! Six?"),
            (2, "no terminal punctuation here"),
            (3, ""),
            (4, "Dots... and!! doubles? "),
            (5, "café �� ok\x01"),
        ],
        "doc_id long, text string",
    )
    ss = {r.doc_id: r for r in sentence_stats(df, "text", "doc_id").collect()}
    assert (ss[1].n_sentences, ss[1].n_sentence_words) == (3, 6)
    assert ss[1].mean_sentence_words == pytest.approx(2.0)
    assert ss[1].max_sentence_words == 3
    assert (ss[2].n_sentences, ss[2].max_sentence_words) == (1, 4)
    assert ss[3].n_sentences == 0 and ss[3].mean_sentence_words is None
    assert (ss[4].n_sentences, ss[4].n_sentence_words) == (3, 3)  # Dots / and / doubles
    es = {r.doc_id: r for r in encoding_sanity(df, "text", "doc_id").collect()}
    assert es[5].n_replacement == 2 and es[5].n_control == 1
    assert es[5].n_non_ascii == 3  # é + the 2 replacement chars (\x01 is ASCII)
    assert es[3].n_chars == 0 and es[3].non_ascii_ratio is None
    assert es[1].n_non_ascii == 0 and es[1].non_ascii_ratio == 0.0


def test_chunk_passages_offsets_and_tail_coverage(spark):
    """Chunking contract on hand-built docs: dense chunk_idx in start
    order, stride grid + full-width tail anchor (dedup'd when aligned),
    whole-doc chunk for short docs, and hashes joinable against the d7
    passage convention (same whitespace-normalized md5)."""
    import hashlib

    from mrf_etl_spark.operators.textops import chunk_passages

    words10 = " ".join(f"w{i}" for i in range(10))   # == win: one chunk
    words25 = " ".join(f"w{i}" for i in range(25))   # tail NOT on grid
    words20 = " ".join(f"w{i}" for i in range(20))   # tail ON grid
    short = "a b c"
    df = spark.createDataFrame(
        [(1, words10), (2, words25), (3, words20), (4, short)],
        "doc_id long, text string",
    )
    out = chunk_passages(df, "text", "doc_id", win=10, stride=5)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    starts = lambda d: [rows[(d, i)].start_word for i in range(
        sum(1 for k in rows if k[0] == d))]
    assert starts(1) == [0]
    # 25 words, win 10, stride 5: grid 0,5,10,15 + tail anchor 15 (dup) ->
    # distinct [0, 5, 10, 15]
    assert starts(2) == [0, 5, 10, 15]
    assert starts(3) == [0, 5, 10]
    assert starts(4) == [0]
    assert rows[(4, 0)].n_words == 3
    assert all(rows[(2, i)].n_words == 10 for i in range(4))
    # hash = md5 of the single-space re-joined slice
    want = hashlib.md5(" ".join(f"w{i}" for i in range(5, 15)).encode()).hexdigest()
    assert rows[(2, 1)].chunk_md5 == want


def test_card_sketch_merge_is_exact_and_order_independent(spark):
    """The corpus-card sketch state is algebraic: state(A)+state(B) ==
    state(A∪B) EXACTLY, for any split and any merge order — the property
    that makes the card incrementally maintainable without corpus
    rescans."""
    from mrf_etl_spark.operators.cardsketch import (
        corpus_card_from_state,
        corpus_card_state,
        merge_card_states,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = corpus_card_state(d)
    a = corpus_card_state(d.filter(F.col("doc_id") % 3 == 0))
    b = corpus_card_state(d.filter(F.col("doc_id") % 3 == 1))
    c = corpus_card_state(d.filter(F.col("doc_id") % 3 == 2))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    merged = merge_card_states(a, b, c)
    assert rows(merged) == rows(full)
    # associativity/commutativity: fold in a different shape
    merged2 = merge_card_states(merge_card_states(c, a), b)
    assert rows(merged2) == rows(full)
    # and the derived cards agree too
    assert rows(corpus_card_from_state(merged)) == rows(corpus_card_from_state(full))


def test_card_sketch_bucket_brackets_exact_quantile(spark):
    """The bucket returned for each percentile must bracket the exact
    rank statistic within one 2^(1/16) cell — the documented error
    envelope of the log-grid sketch."""
    import math

    from mrf_etl_spark.operators.cardsketch import (
        corpus_card_from_state,
        corpus_card_state,
    )
    from mrf_etl_spark.operators.textops import token_count_ws

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    card = {
        (r["source"], r["lang"]): r
        for r in corpus_card_from_state(corpus_card_state(d)).collect()
    }
    per = (
        d.select(
            "source", "lang", token_count_ws("text").cast("long").alias("w")
        )
        .filter(F.col("w") >= 1)
        .collect()
    )
    groups: dict = {}
    for r in per:
        groups.setdefault((r["source"], r["lang"]), []).append(r["w"])
    assert set(card) == set(groups)
    for key, ws in groups.items():
        ws.sort()
        n = len(ws)
        assert card[key]["n_docs"] == n
        assert card[key]["words_total"] == sum(ws)
        for q, col in ((0.5, "p50_bucket"), (0.9, "p90_bucket")):
            exact = ws[max(0, math.ceil(q * n) - 1)]
            bkt = card[key][col]
            assert 2 ** (bkt / 16.0) <= exact < 2 ** ((bkt + 1) / 16.0), (
                key, q, exact, bkt,
            )


def test_stdlib_wav_decoder_real_amplitude():
    """The audio tier decodes RIFF/WAVE for real: mean |sample|/fullscale
    across widths and channel counts, golden-checked against samples the
    test itself writes with the stdlib wave module."""
    import io
    import struct
    import wave

    from mrf_etl_spark.operators.multimodal import (
        decode_media,
        decode_wav_mean_amplitude,
    )

    def make_wav(samples, width=2, channels=1, rate=8000):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(width)
            w.setframerate(rate)
            fmt = {2: "h", 4: "i"}.get(width)
            if fmt:
                w.writeframes(struct.pack(f"<{len(samples)}{fmt}", *samples))
            else:
                w.writeframes(bytes(samples))
        return buf.getvalue()

    # 16-bit mono: mean(|s|)/32768
    s16 = [0, 16384, -32768, 8192]
    wav = make_wav(s16)
    expect = sum(abs(v) for v in s16) / len(s16) / 32768.0
    assert decode_wav_mean_amplitude(wav) == pytest.approx(expect)
    out = decode_media(wav, "audio/wav")
    assert out["feat_mean"] == pytest.approx(expect)
    assert out["mime"] == "audio/wav" and out["header_hex"] == "52494646"

    # 8-bit (unsigned, midpoint 128) and stereo 16-bit
    s8 = [128, 255, 0, 200]
    assert decode_wav_mean_amplitude(make_wav(s8, width=1)) == pytest.approx(
        sum(abs(v - 128) for v in s8) / len(s8) / 128.0
    )
    st = [100, -100, 30000, -30000]
    assert decode_wav_mean_amplitude(
        make_wav(st, width=2, channels=2)
    ) == pytest.approx(sum(abs(v) for v in st) / len(st) / 32768.0)

    # non-RIFF audio keeps the NotImplementedError contract
    with pytest.raises(NotImplementedError):
        decode_media(b"\xff\xfbgarbage-mp3", "audio/mpeg")
    # fake mode still byte-deterministic for audio payloads
    fk = decode_media(wav, "audio/wav", fake=True)
    assert fk["feat_mean"] == pytest.approx(sum(wav) / len(wav))


def test_perceptual_hash_real_resize_path(spark):
    """m5's fake=False tier: REAL PNG decode -> 8x8 nearest-neighbor
    resize -> average-hash. Properties that make it a near-dup signature:
    (a) golden hash on a known image; (b) a lightly-perturbed copy stays
    within a small Hamming distance while its exact byte hash differs;
    (c) a structurally different image is far."""
    from mrf_etl_spark.operators.multimodal import (
        ahash_halves,
        decode_png_gray,
        perceptual_hash,
        resize_nearest,
    )

    def hamming(a, b):
        return bin((a[0] ^ b[0]) << 32 | (a[1] ^ b[1])).count("1")

    # 16x16 half-dark/half-light image; copy with one pixel flipped;
    # inverse-layout image as the far control
    base = [[0] * 8 + [255] * 8 for _ in range(16)]
    near = [r[:] for r in base]
    near[3][3] = 40  # light perturbation (stays on the dark side)
    far = [[255] * 8 + [0] * 8 for _ in range(16)]
    pngs = {1: _encode_png(base, 0, [0] * 16), 2: _encode_png(near, 0, [1] * 16),
            3: _encode_png(far, 0, [2] * 16)}

    mm = spark.createDataFrame(
        [(k, v) for k, v in pngs.items()], "doc_id long, payload binary"
    )
    out = {
        r["doc_id"]: (r["ahash_hi"], r["ahash_lo"])
        for r in perceptual_hash(mm, fake=False).collect()
    }
    # golden: distributed result equals the driver-side composition
    for k, png in pngs.items():
        w, h, px = decode_png_gray(png)
        assert out[k] == ahash_halves(resize_nearest(px, w, h)), k
    assert hamming(out[1], out[2]) <= 2  # near-dup: tiny Hamming distance
    assert out[1] != out[2] or pngs[1] != pngs[2]
    assert hamming(out[1], out[3]) == 64  # inverse layout: every bit flips


def test_perceptual_hash_drops_empty_payloads(spark):
    """Empty payloads are dropped, not hashed to (0, 0): the m5 parity
    oracle excludes them (WHERE n >= 1), and the two sides must encode
    the SAME empty-doc policy or a future fixture with an empty doc
    turns the driver row red on row count."""
    from mrf_etl_spark.operators.multimodal import perceptual_hash

    mm = spark.createDataFrame(
        [(1, b""), (2, b"some-nonempty-payload")], "doc_id long, payload binary"
    )
    out = perceptual_hash(mm, fake=True).collect()
    assert [r["doc_id"] for r in out] == [2]


def test_resize_nearest_known_grid():
    from mrf_etl_spark.operators.multimodal import resize_nearest

    # 4x2 image downsampled to 2x2: picks (row 0/1 x col 0/2)
    px = [1.0, 2.0, 3.0, 4.0,
          5.0, 6.0, 7.0, 8.0]
    assert resize_nearest(px, 4, 2, 2, 2) == [1.0, 3.0, 5.0, 7.0]
    # upscale repeats nearest samples
    assert resize_nearest([9.0], 1, 1, 2, 2) == [9.0] * 4


def test_ivf_index_query_prunes_partitions_and_matches_onthefly(spark, tmp_path):
    """n4's scale claim, asserted physically: the persisted index read
    carries the probed-cid PartitionFilters (queries scan nprobe
    partitions, not the corpus), appends land as new files without
    rewriting existing partitions, and the incremental index answers
    exactly like the one-shot ivf_topk cascade."""
    import os

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = emb.filter((F.col("vec_id") % 97) == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    path = str(tmp_path / "ivf")
    sim.ivf_index_create(emb.filter(F.col("vec_id") % 2 == 0), path, cent, dim=DIM)
    files_before = {
        os.path.join(r, f)
        for r, _d, fs in os.walk(f"{path}/index")
        for f in fs
        if f.endswith(".parquet")
    }
    sim.ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), path, dim=DIM)
    files_after = {
        os.path.join(r, f)
        for r, _d, fs in os.walk(f"{path}/index")
        for f in fs
        if f.endswith(".parquet")
    }
    assert files_before < files_after  # pure append: old files untouched

    queries = emb.filter(F.col("vec_id") < 10)
    out = sim.ivf_index_query(queries, path, nprobe=2, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cid" in plan.replace("#", " #").replace(
        "PartitionFilters: [isnotnull(cid", "PartitionFilters: [cid"
    ) or "cid IN" in plan, plan[:1500]

    expect = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivf_topk(
            emb, dim=DIM, centroid_mod=97, nprobe=2,
            query_filter=F.col("vec_id") < 10, k=5,
        ).collect()
    )
    got = sorted((r.query_id, r.neighbor_id, r.rank) for r in out.collect())
    assert got == expect


def test_ivf_pq_index_persisted_equals_inplan(spark, tmp_path):
    """n8 (VERDICT r8 #2): the persisted IVF-PQ index — codes encoded at
    ingest against frozen codebooks, partitioned by coarse bucket — must
    answer exactly like n7's in-plan ivf_pq_topk over the same corpus +
    codebooks, regardless of create/append batch boundaries; appends are
    pure (no rewrite of existing files); the query's codes read carries
    the probed-ccid PartitionFilters and never scans the corpus floats
    before rerank."""
    import os

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = emb.filter((F.col("vec_id") % 97) == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    seeds = emb.filter(F.col("vec_id") < 16)
    path = str(tmp_path / "ivfpq")
    sim.ivf_pq_index_create(
        emb.filter(F.col("vec_id") % 2 == 0), path, cent, seeds, dim=DIM
    )
    files_before = {
        os.path.join(r, f)
        for r, _d, fs in os.walk(f"{path}/codes")
        for f in fs
        if f.endswith(".parquet")
    }
    sim.ivf_pq_index_append(emb.filter(F.col("vec_id") % 2 == 1), path, dim=DIM)
    files_after = {
        os.path.join(r, f)
        for r, _d, fs in os.walk(f"{path}/codes")
        for f in fs
        if f.endswith(".parquet")
    }
    assert files_before < files_after  # pure append

    queries = emb.filter(F.col("vec_id") < 10)
    out = sim.ivf_pq_index_query(
        queries, path, dim=DIM, nprobe=2, n_candidates=50, k=5
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "ccid" in plan.split(
        "PartitionFilters: ["
    )[1][:80], plan[:2000]

    expect = sorted(
        (r.query_id, r.neighbor_id, round(r.cosine, 12), r.rank)
        for r in sim.ivf_pq_topk(
            emb, dim=DIM, centroid_mod=97, nprobe=2,
            query_filter=F.col("vec_id") < 10, n_candidates=50, k=5,
        ).collect()
    )
    got = sorted(
        (r.query_id, r.neighbor_id, round(r.cosine, 12), r.rank)
        for r in out.collect()
    )
    assert got == expect
    release_state()


def test_leakage_safe_split_clusters_move_as_one_unit(spark):
    """The sp20 contract: (1) every duplicate cluster lands in exactly
    one split, (2) documents outside the pair graph get assignments
    byte-identical to plain assign_split, (3) fractions still track the
    weights over a large corpus."""
    from mrf_etl_spark.operators import sampling as sp

    n = 20000
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    # chains of 4 near-dups over the first 2000 ids: 0-1-2-3, 4-5-6-7, …
    pairs = (
        spark.range(1500)
        .select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        )
        .filter((F.col("id") % 4) != 3)
    )
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    out = sp.leakage_safe_split(docs, pairs, "doc_id", w).cache()

    # (1) no cluster spans two splits — every member shares the chain
    # head's assignment
    spans = (
        out.filter(F.col("doc_id") < 1500)
        .withColumn("cluster", (F.col("doc_id") / 4).cast("long"))
        .groupBy("cluster")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert spans == 0
    head = {r.doc_id: r.split for r in out.filter(F.col("doc_id") < 8).collect()}
    assert head[1] == head[0] and head[2] == head[0] and head[3] == head[0]
    assert head[5] == head[4] and head[7] == head[4]

    # (2) singletons == assign_split verbatim
    plain = sp.assign_split(docs, "doc_id", w).filter(F.col("doc_id") >= 1504)
    ours = out.filter(F.col("doc_id") >= 1504).select("doc_id", "split")
    assert plain.select("doc_id", "split").exceptAll(ours).count() == 0

    # (3) proportions over representatives still track the weights
    counts = {
        r.split: r.n
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert abs(counts["train"] / n - 0.9) < 0.03
    out.unpersist()


def test_sentence_scrub_removes_shared_and_is_fixpoint(spark):
    """t18's operator contract: shared sentences (df >= min_docs) vanish
    from every document, rare sentences survive in original order, docs
    with no sentences keep a row, and scrubbing is idempotent."""
    from mrf_etl_spark.operators.textops import sentence_scrub

    boiler = "Subscribe now."
    rows = [(i, f"Unique thought {i}. {boiler} Closing remark {i}.") for i in range(6)]
    rows.append((6, "Lone doc without boilerplate."))
    rows.append((7, ""))  # no sentences at all
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in sentence_scrub(df, "text", "doc_id", min_docs=5).collect()}

    assert len(out) == 8
    for i in range(6):
        r = out[i]
        assert r.n_sentences == 3 and r.n_dropped == 1
        assert r.cleaned == f"Unique thought {i}. Closing remark {i}"
        assert abs(r.kept_frac - 2 / 3) < 1e-12
    assert out[6].n_dropped == 0 and out[6].cleaned == "Lone doc without boilerplate"
    assert out[7].n_sentences == 0 and out[7].cleaned == "" and out[7].kept_frac is None

    # fixpoint: dropping df>=min_docs sentences cannot raise a survivor's
    # df, so a second pass over the cleaned text drops nothing
    cleaned = sentence_scrub(df, "text", "doc_id", min_docs=5).select(
        "doc_id", F.col("cleaned").alias("text")
    )
    second = sentence_scrub(cleaned, "text", "doc_id", min_docs=5)
    assert second.filter(F.col("n_dropped") > 0).count() == 0


def test_quality_classifier_contract(spark):
    """t19: the frozen linear scorer decides by thresholding the logit —
    hand-computed logits match, custom weights/threshold steer the
    decision, and NULL features yield NULL (undecidable), not False."""
    from mrf_etl_spark.operators.textops import quality_classifier

    rows = [
        (1, "the cat and the dog of the house " * 8),  # stopword-rich, 64 words
        (2, "alpha beta gamma delta"),                 # 4 rare words, no stopwords
        (3, ""),                                       # empty: NULL features
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in quality_classifier(df, "text", "doc_id").collect()}

    # doc 1: len_norm=1.0, punct=0, stopword_ratio=40/64 -> logit=-0.75+0.5+3.75
    assert abs(out[1].logit - 3.5) < 1e-12 and out[1].keep is True
    # doc 2: len_norm=4/64, no punct/stopwords -> logit=-0.75+0.03125
    assert abs(out[2].logit - (-0.71875)) < 1e-12 and out[2].keep is False
    assert out[3].logit is None and out[3].keep is None

    # weights and threshold are parameters, not baked constants
    flipped = {
        r.doc_id: r.keep
        for r in quality_classifier(
            df, "text", "doc_id", weights={"stopword": -6.0}, threshold=-1.0
        ).collect()
    }
    assert flipped[1] is False and flipped[2] is True


def test_approx_sliding_reach_matches_exact_within_bound(spark):
    """w20: the HLL sliding reach agrees with w18's exact reach within
    the 5-sigma envelope on a synthetic multi-day stream, and the row
    set (days) is identical to the exact operator's."""
    from mrf_etl_spark.plans.parity_llm import (
        W20_REL_BOUND,
        W20_RSD,
        W18_WINDOW_DAYS,
        _US_PER_DAY,
    )

    ev = spark.range(5000).select(
        (F.col("id") % 400).alias("user_id"),
        ((F.col("id") % 30) * _US_PER_DAY * 1000 + 1_000_000).alias("ts_ns"),
    )
    ud = ev.select(
        "user_id", F.expr(f"(ts_ns div 1000) div {_US_PER_DAY}").alias("d")
    ).distinct()
    days = ud.select(F.col("d").alias("day")).distinct()
    exploded = ud.withColumn(
        "day", F.explode(F.sequence(F.col("d"), F.col("d") + (W18_WINDOW_DAYS - 1)))
    ).drop("d")
    hits = exploded.join(days, "day", "left_semi")
    out = (
        hits.groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.expr(f"approx_count_distinct(user_id, {W20_RSD})").alias("approx"),
        )
        .collect()
    )
    assert len(out) == 30
    for r in out:
        assert abs(r.approx - r.exact) <= W20_REL_BOUND * r.exact, (r.day, r.exact, r.approx)


def test_soft_dedup_weights_conserve_mass(spark):
    """d11: cluster members share 1/size exactly, singletons keep 1.0,
    and total weight == number of distinct retained 'effective docs'
    (clusters + singletons) — the conservation property that makes the
    weights usable as sampling mass."""
    from mrf_etl_spark.operators.dedup import soft_dedup_weights

    docs = spark.range(100).withColumnRenamed("id", "doc_id")
    # one 3-cluster {0,1,2} and one 2-cluster {10, 11}
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r for r in soft_dedup_weights(docs, pairs, "doc_id").collect()}
    assert len(out) == 100
    for d in (0, 1, 2):
        assert out[d].cluster_size == 3 and abs(out[d].weight - 1 / 3) < 1e-15
    for d in (10, 11):
        assert out[d].cluster_size == 2 and out[d].weight == 0.5
    assert out[50].cluster_size == 1 and out[50].weight == 1.0
    total = sum(r.weight for r in out.values())
    assert abs(total - (95 + 2)) < 1e-9  # 95 singletons + 2 clusters


def test_pipe5_release_flow_composition(spark):
    """pipe5 end-to-end at sf0.001: boilerplate is scrubbed before
    pairing (so dedup sees cleaned text), the classifier gate reduces
    the corpus, near-dup clusters survive scrubbing, and no cluster
    spans two splits."""
    from mrf_etl_spark.plans.parity_llm import pipe5_release_v2, ID_SHIFT

    out = pipe5_release_v2(spark, "/root/testdata/sf0.001").cache()
    rows = out.collect()
    assert 0 < len(rows)
    # the gate actually filters (not a pass-through)
    from mrf_etl_spark.plans.parity import t as _t
    n_src = _t(spark, "/root/testdata/sf0.001", "documents").count()
    assert len(rows) < n_src + 40
    # clusters exist (a shifted near-dup copy shares its original's rep)
    clustered = [r for r in rows if r.rep != r.doc_id]
    assert clustered, "no near-dup cluster survived the scrub+gate"
    by_id = {r.doc_id: r for r in rows}
    for r in clustered:
        if r.doc_id >= ID_SHIFT and (r.doc_id - ID_SHIFT) in by_id:
            assert by_id[r.doc_id - ID_SHIFT].split == r.split
    # cluster-unity: one split per rep
    from collections import defaultdict
    reps = defaultdict(set)
    for r in rows:
        reps[r.rep].add(r.split)
    assert all(len(s) == 1 for s in reps.values())
    out.unpersist()


def test_pq_encode_hand_checkable(spark):
    """e4: a vector equal to a seed encodes to that seed's id in every
    block with reconstruction cosine ~1; a vector whose halves match
    DIFFERENT seeds picks each per block (PQ's whole point: the code
    space is the product of per-block choices); ties break on cid."""
    from mrf_etl_spark.operators.similarity import pq_encode

    s0 = [1.0, 0.0, 0.0, 0.0, 2.0, 0.0, 0.0, 0.0]
    s1 = [0.0, 3.0, 0.0, 0.0, 0.0, 4.0, 0.0, 0.0]
    mixed = s0[:4] + s1[4:]  # block 0 == s0's, block 1 == s1's
    rows = [(0, s0), (1, s1), (10, list(s0)), (11, mixed)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r
        for r in pq_encode(
            emb, dim=8, n_blocks=2, seed_filter=(F.col("vec_id") < 2)
        ).collect()
    }
    assert out[10].codes == "0,0" and abs(out[10].recon_cos - 1.0) < 1e-12
    assert out[0].codes == "0,0" and out[1].codes == "1,1"
    assert out[11].codes == "0,1" and abs(out[11].recon_cos - 1.0) < 1e-12


def test_pq_adc_topk_recall_and_shape(spark):
    """n5: the ADC+rerank cascade returns exact cosines in n1's shape,
    its reranked hits are a subset of what brute force would rank, and
    recall@5 against the exact top-5 clears the measured floor for this
    corpus/codebook (avg >= 0.6, per-query >= 0.2 — the synthetic
    corpus is near-random, the worst case for a 16-seed codebook)."""
    from mrf_etl_spark.operators.similarity import cosine_topk, pq_adc_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    approx = pq_adc_topk(
        emb, dim=64, query_filter=F.col("vec_id") < 10, n_candidates=50, k=5
    ).collect()
    assert len(approx) == 50  # 10 queries x 5
    exact = cosine_topk(
        emb, dim=64, query_filter=F.col("vec_id") < 10, k=5
    ).collect()
    ex = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    hits = 0
    per_q = {}
    for r in approx:
        assert 1 <= r.rank <= 5 and r.query_id != r.neighbor_id
        if (r.query_id, r.neighbor_id) in ex:
            hits += 1
            # the rerank cosine is EXACT — identical to brute force
            assert r.cosine == ex[(r.query_id, r.neighbor_id)]
            per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert hits / 50 >= 0.6, hits
    assert all(v >= 1 for v in per_q.values())


def test_ivf_pq_topk_composition_and_recall(spark):
    """n7: the composed IVF-PQ cascade returns exact cosines in n1's
    shape, every returned neighbor lives in a coarse bucket its query
    actually probes (the prune is real, not decorative), and recall@5
    against the exact top-5 clears a floor below n5's (the coarse prune
    can only remove candidates)."""
    from mrf_etl_spark.operators.similarity import (
        assign_centroids,
        cosine_topk,
        ivf_pq_topk,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    out = ivf_pq_topk(
        emb, dim=64, centroid_mod=97, nprobe=2,
        query_filter=F.col("vec_id") < 10, n_candidates=50, k=5,
    ).collect()
    assert len(out) == 50  # 10 queries x 5: pruned buckets still >= k deep
    exact = cosine_topk(
        emb, dim=64, query_filter=F.col("vec_id") < 10, k=5
    ).collect()
    ex = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    hits = 0
    for r in out:
        assert 1 <= r.rank <= 5 and r.query_id != r.neighbor_id
        if (r.query_id, r.neighbor_id) in ex:
            hits += 1
            assert r.cosine == ex[(r.query_id, r.neighbor_id)]
    assert hits / 50 >= 0.3, hits  # measured 0.48 on this corpus/codebook

    # prune is real: every neighbor's coarse bucket is probed by its query
    cent = emb.filter((F.col("vec_id") % 97) == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    buckets = {
        r.vec_id: r.cid
        for r in assign_centroids(emb, cent, "vec_id", "embedding", 64).collect()
    }
    # ivf_topk's probe stage is the same recipe; re-derive probes from it
    # by reading which buckets each query's IVF neighbors came from is
    # indirect — instead recompute the nprobe=2 probe set exactly
    qsc = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .crossJoin(F.broadcast(cent))
    )
    from mrf_etl_spark.operators.similarity import dot_fold, norm_fold

    qsc = qsc.withColumn(
        "cos_c",
        dot_fold("qv", "cvec") / (norm_fold("qv") * norm_fold("cvec")),
    )
    from pyspark.sql.window import Window as W

    wq = W.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("cid").asc()
    )
    probes = {}
    for r in (
        qsc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 2)
        .select("query_id", "cid")
        .collect()
    ):
        probes.setdefault(r.query_id, set()).add(r.cid)
    for r in out:
        assert buckets[r.neighbor_id] in probes[r.query_id], r

    # pruning can only shrink the candidate pool: n7 recall <= n2-with-
    # the-same-buckets' ceiling is structural; sanity-check vs plain IVF
    ivf = ivf_topk(
        emb, dim=64, centroid_mod=97, nprobe=2,
        query_filter=F.col("vec_id") < 10, k=5,
    ).collect()
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf}
    # n7's survivors come from the same probed buckets, so any n7 hit
    # that IVF ranks top-5 must carry the identical exact cosine
    iv = {(r.query_id, r.neighbor_id): r.cosine for r in ivf}
    for r in out:
        if (r.query_id, r.neighbor_id) in ivf_set:
            assert r.cosine == iv[(r.query_id, r.neighbor_id)]


def test_leakage_safe_split_string_ids(spark):
    """String-id corpora (URL/hash ids) must split like assign_split,
    not silently collapse into the last split: the rep column unifies
    with the component domain without a numeric cast."""
    from mrf_etl_spark.operators import sampling as sp

    docs = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(500)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [("doc-0", "doc-1"), ("doc-1", "doc-2")], "doc_a string, doc_b string"
    )
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    out = sp.leakage_safe_split(docs, pairs, "doc_id", w).cache()
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts.get("train", 0) > 300, counts  # not all dumped in 'test'
    heads = {r.doc_id: r.split for r in out.filter(F.col("doc_id").isin("doc-0", "doc-1", "doc-2")).collect()}
    assert heads["doc-1"] == heads["doc-0"] and heads["doc-2"] == heads["doc-0"]
    plain = {
        r.doc_id: r.split
        for r in sp.assign_split(docs, "doc_id", w).filter(~F.col("doc_id").isin("doc-0", "doc-1", "doc-2")).collect()
    }
    ours = {r.doc_id: r.split for r in out.filter(~F.col("doc_id").isin("doc-0", "doc-1", "doc-2")).collect()}
    assert plain == ours
    out.unpersist()


def test_pq_adc_topk_custom_id_col(spark):
    """n5's operator must work for any id column name — the query filter
    is written against the caller's schema and applied before the PQ
    rename (the review found both default and explicit filters crashed
    for id_col != 'vec_id')."""
    from mrf_etl_spark.operators.similarity import pq_adc_topk

    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .withColumnRenamed("vec_id", "item_id")
    )
    out = pq_adc_topk(
        emb,
        id_col="item_id",
        dim=64,
        seed_filter=F.col("item_id") < 16,
        query_filter=F.col("item_id") < 4,
        n_candidates=20,
        k=3,
    ).collect()
    assert len(out) == 12  # 4 queries x 3
    assert all(r.query_id < 4 and r.query_id != r.neighbor_id for r in out)


def test_bloom_gate_matches_tagged_and_never_misses(spark):
    """d12's pure-projection gate (the production path) must agree with
    the join-verified tagged form on every (n_shingles, n_bloom_hit,
    clean), no_false_neg must hold corpus-wide (Bloom's guarantee), and
    the gate plan must contain ZERO exchanges — decontamination as a
    scan-time filter is the whole point at 100 TB."""
    from mrf_etl_spark.operators import textops as tx
    from mrf_etl_spark.operators.dedup import doc_shingles, shingle_hash_expr
    from mrf_etl_spark.plans.parity_llm import BLOOM_K, BLOOM_M, EVAL_MOD

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    ev = (
        doc_shingles(d.filter(F.col("doc_id") % EVAL_MOD == 0), "text", "doc_id")
        .select(shingle_hash_expr(F.col("shingle")).alias("h"))
        .distinct()
    )
    words = tx.bloom_bitset_words(ev, BLOOM_M, BLOOM_K)
    assert len(words) == BLOOM_M // 64 and any(words)

    corpus = d.filter(F.col("doc_id") % EVAL_MOD != 0)
    gate = tx.bloom_contam_gate(corpus, words, m_bits=BLOOM_M, n_hashes=BLOOM_K)
    assert "Exchange" not in gate._jdf.queryExecution().executedPlan().toString()

    full = tx.bloom_decontam_tagged(
        d, F.col("doc_id") % EVAL_MOD == 0, m_bits=BLOOM_M, n_hashes=BLOOM_K
    ).cache()
    try:
        got = {
            r.doc_id: (r.n_shingles, r.n_bloom_hit, r.clean) for r in gate.collect()
        }
        want = {
            r.doc_id: (r.n_shingles, r.n_bloom_hit, r.clean) for r in full.collect()
        }
        assert got == want and len(got) > 0
        agg = full.agg(
            F.min("no_false_neg").alias("nfn"),
            F.sum(F.col("clean").cast("long")).alias("n_clean"),
            F.count("*").alias("n"),
        ).collect()[0]
        assert agg.nfn is True  # no false negatives, ever
        assert 0 < agg.n_clean <= agg.n  # the gate actually clears docs
    finally:
        full.unpersist()


def test_bloom_gate_tiny_table_shows_false_positives_but_superset(spark):
    """Shrinking the bitset to 64 bits forces collisions: the flag set
    must become a strict SUPERSET of the exact hits (false positives
    appear) while no_false_neg stays TRUE — pinning that the two failure
    directions are asymmetric exactly as Bloom promises."""
    from mrf_etl_spark.operators import textops as tx
    from mrf_etl_spark.plans.parity_llm import EVAL_MOD

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    full = tx.bloom_decontam_tagged(
        d, F.col("doc_id") % EVAL_MOD == 0, m_bits=64, n_hashes=3
    ).cache()
    try:
        agg = full.agg(
            F.min("no_false_neg").alias("nfn"),
            F.sum("n_hit").alias("nh"),
            F.sum("n_bloom_hit").alias("nb"),
        ).collect()[0]
        assert agg.nfn is True
        assert agg.nb > agg.nh  # collisions at m=64: FPs exist, FNs don't
    finally:
        full.unpersist()


def test_ann_recall_report_partial_overlap(spark):
    """The recall arithmetic on a hand-built case: query 1 recovers 2 of
    3 exact neighbors, query 2 none, query 3 all — and approximate-only
    neighbors (false candidates) never inflate the numerator."""
    from mrf_etl_spark.operators.similarity import ann_recall_report

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (3, 30)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 12), (1, 99), (2, 21), (3, 30), (3, 31)],
        "query_id long, neighbor_id long",
    )
    got = {
        r.query_id: (r.n_exact, r.n_hit, r.recall)
        for r in ann_recall_report(exact, approx).collect()
    }
    assert got == {
        1: (3, 2, 2 / 3),
        2: (1, 0, 0.0),
        3: (1, 1, 1.0),
    }


def test_burst_detection_hand_case(spark):
    """w21's squared-rational z-test on a hand-built series: a flat
    7-day baseline of 10/day flags a day of 11 (zero variance — any
    uptick bursts), a noisy baseline needs the real 3-sigma jump, and a
    DROP never flags (one-sided)."""
    from mrf_etl_spark.plans.parity_llm import _US_PER_DAY

    rows = []
    # type 'flat': days 0-6 at 10 events, day 7 at 11 (zero-var burst)
    for d in range(7):
        rows += [("flat", d, i) for i in range(10)]
    rows += [("flat", 7, i) for i in range(11)]
    # type 'noisy': baseline 8..14 (var>0), day 7 at 13 — NOT 3 sigma
    for d, c in enumerate([8, 14, 10, 12, 9, 13, 11]):
        rows += [("noisy", d, i) for i in range(c)]
    rows += [("noisy", 7, i) for i in range(13)]
    # type 'drop': flat 10s then day 7 at 1 — one-sided, never flags
    for d in range(7):
        rows += [("drop", d, i) for i in range(10)]
    rows += [("drop", 7, 0)]
    ev = spark.createDataFrame(
        [(t_, d * _US_PER_DAY * 1000 + i, i) for t_, d, i in rows],
        "event_type string, ts_ns long, _i int",
    )

    from mrf_etl_spark.operators.rolling import burst_flags
    from mrf_etl_spark.plans.parity_llm import W21_BASE_DAYS, W21_Z

    # drives the SAME operator the w21 plan entry calls (burst_flags),
    # so logic drift in the operator fails this test
    dc = (
        ev.select("event_type", F.expr(f"(ts_ns div 1000) div {_US_PER_DAY}").alias("day"))
        .groupBy("event_type", "day").agg(F.count("*").alias("n"))
    )
    out = {
        r.event_type: r.burst
        for r in burst_flags(dc, base_days=W21_BASE_DAYS, z=W21_Z).collect()
    }
    assert out == {"flat": True, "noisy": False, "drop": False}


def test_ewma_momentum_hand_case(spark):
    """w22's integer EWMA replayed by hand: a constant series settles to
    S = c·(2^H − 1) with no momentum; a spike day flags momentum; early
    days (short history) use lag-default zeros."""
    from mrf_etl_spark.operators.rolling import ewma_momentum

    daily = spark.createDataFrame(
        # type 'c': constant 10/day for 8 days; type 's': 10/day then 50
        [("c", d, 10) for d in range(8)]
        + [("s", d, 10) for d in range(7)]
        + [("s", 7, 50)],
        "event_type string, day long, n long",
    )
    out = {
        (r.event_type, r.day): r
        for r in ewma_momentum(daily, horizon=7).collect()
    }
    # day 0: only today's term → S = 10 * 64 = 640; momentum: baseline 0
    # and 10*63 > 0 → True (documented cold-start behavior: any activity
    # with an empty history is momentum)
    assert out[("c", 0)].ewma_s == 640 and out[("c", 0)].momentum
    # full history: S = 10 * (64+32+16+8+4+2+1) = 1270; baseline B = 630,
    # momentum iff 10*63 > 2*630 → 630 > 1260 False
    assert out[("c", 7)].ewma_s == 1270 and not out[("c", 7)].momentum
    # spike day: S = 50*64 + 10*63 = 3830; 50*63=3150 > 2*630=1260 → True
    assert out[("s", 7)].ewma_s == 3830 and out[("s", 7)].momentum

    import pytest

    with pytest.raises(ValueError):
        ewma_momentum(daily, horizon=1)


def test_canonical_pick_longest_wins_tie_by_id(spark):
    """d13's policy on a hand graph: the longest cluster member is
    canonical, equal lengths fall back to the lowest id, and docs
    outside the pair graph are their own canonical."""
    from mrf_etl_spark.operators.dedup import canonical_pick

    corpus = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (7, 4)], "doc_id long, n_tok long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r for r in canonical_pick(corpus, pairs, "n_tok").collect()}
    assert len(out) == 4
    # cluster {1,2,3}: 2 and 3 tie at 9 tokens → lowest id 2 wins
    for d in (1, 2, 3):
        assert out[d].canonical_id == 2, out[d]
        assert out[d].is_canonical == (d == 2)
    assert out[7].canonical_id == 7 and out[7].is_canonical


def test_countmin_merge_exact_and_never_undercounts(spark):
    """CMS invariants on real data: (a) sketches built on two disjoint
    halves MERGE to exactly the full-corpus sketch (cellwise addition is
    the algebraic merge — what makes per-partition and per-batch builds
    exact); (b) estimates never undercount any item; (c) a hot item's
    estimate is exact when its cells are collision-free at this width."""
    from mrf_etl_spark.operators.cms import (
        countmin_estimate,
        countmin_merge,
        countmin_table,
    )

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select(F.col("l_partkey").alias("item"))
    )
    full = countmin_table(li, "item")
    merged = countmin_merge(
        countmin_table(li.filter(F.col("item") % 2 == 0), "item"),
        countmin_table(li.filter(F.col("item") % 2 == 1), "item"),
    )
    a = {(r.j, r.pos): r.c for r in full.collect()}
    b = {(r.j, r.pos): r.c for r in merged.collect()}
    assert a == b and len(a) > 0

    truth = li.groupBy("item").agg(F.count("*").alias("true_n"))
    est = countmin_estimate(truth, full, "item")
    j = truth.join(est, "item")
    bad = j.filter(F.col("cms_est") < F.col("true_n")).count()
    assert bad == 0  # the no-undercount guarantee, over EVERY item
    # and estimates are controlled overcounts, not garbage: the eN/w
    # slack is exceeded per hash row with prob ~1/e, so after the
    # 3-row min only a ~(1/e)^3 tail of items may exceed it (measured
    # 4/2000 on this fixed data) — assert the tail, not per-item
    n_total = li.count()
    n_items = truth.count()
    slack = int(2.72 * n_total / 256) + 1
    n_over = j.filter(F.col("cms_est") > F.col("true_n") + slack).count()
    assert n_over <= n_items * 0.02, (n_over, n_items)


def test_assign_centroids_null_nan_order_matches_window_semantics(spark):
    """The struct-min argmax must replicate `ORDER BY cos DESC, cid ASC`
    edge ordering on BOTH engines: a NaN cosine (zero-norm vector vs any
    centroid) sorts FIRST under DESC (NaN > all doubles) so it must WIN
    the assignment; a NULL cosine (NULL embedding element) sorts LAST so
    it must LOSE to any real score."""
    from mrf_etl_spark.operators.similarity import assign_centroids

    # centroid 0 is healthy; centroid 1 has a NULL element (NULL cosine
    # vs everyone); vector 10 is zero-norm (NaN cosine vs everyone)
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [None, 1.0])],
        "cid long, cvec array<float>",
    )
    emb = spark.createDataFrame(
        [(10, [0.0, 0.0]), (11, [1.0, 0.0]), (12, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r.cid for r in assign_centroids(emb, cent, dim=2).collect()}
    # NULL-cosine centroid 1 never wins; NaN rows (vec 10) still assign
    # deterministically to the lowest cid among its NaN scores (cid 0,
    # matching NaN-first DESC with cid ASC tie-break)
    assert got == {10: 0, 11: 0, 12: 0}


def test_sketchlake_cms_merge_on_read_is_bit_identical(spark, tmp_path):
    """The persisted CMS lake (VERDICT r7 #8): appending three batch
    sketches and merging on read must equal the single-pass sketch over
    the union BIT FOR BIT (cellwise addition is exact), and
    compact_state must fold the lake back to one row per cell without
    changing the merged view."""
    import os

    from mrf_etl_spark.operators import sketchlake as sl
    from mrf_etl_spark.operators.cms import countmin_table

    df = spark.range(3000).select((F.col("id") % 111).cast("string").alias("item"))
    path = str(tmp_path / "cms_lake")
    for b in range(3):
        sl.append_state(
            countmin_table(df.filter(F.col("id") % 3 == b), "item"), path
        )

    def cells(d):
        return {(r["j"], r["pos"]): r["c"] for r in d.collect()}

    merged = cells(sl.cms_lake_merge(spark, path))
    single = cells(countmin_table(df, "item"))
    assert merged == single

    # lake holds per-batch rows until compaction folds them
    n_before = spark.read.parquet(path).count()
    sl.compact_state(spark, path, ["j", "pos"])
    n_after = spark.read.parquet(path).count()
    assert n_after == len(single) <= n_before
    assert cells(sl.cms_lake_merge(spark, path)) == single
    assert not os.path.exists(path + ".lock")  # locks released


def test_sketchlake_hll_union_estimates_within_envelope(spark, tmp_path):
    """Persisted HLL: per-batch binaries union to an estimate within the
    lgk=12 envelope of the exact distinct, per group."""
    from mrf_etl_spark.operators import sketchlake as sl

    df = spark.range(20_000).select(
        (F.col("id") % 4).cast("string").alias("g"), F.col("id").alias("v")
    )
    path = str(tmp_path / "hll_lake")
    for b in range(3):
        sl.append_state(
            sl.hll_state(df.filter(F.col("id") % 3 == b), ["g"], "v"), path
        )
    est = {r["g"]: r["distinct_est"] for r in sl.hll_lake_distinct(spark, path, ["g"]).collect()}
    exact = {
        r["g"]: r["d"]
        for r in df.groupBy("g").agg(F.countDistinct("v").alias("d")).collect()
    }
    assert set(est) == set(exact)
    for g in exact:
        assert abs(est[g] - exact[g]) <= 0.1 * exact[g], (g, est[g], exact[g])


def test_sketchlake_hll_compaction_preserves_estimates(spark, tmp_path):
    """VERDICT r8 #3: compacting an HLL lake must UNION the binary
    sketches (the r8 compact_state summed every non-key column, which
    corrupts DataSketches binaries). After compaction the lake holds one
    row per key and hll_lake_distinct returns the EXACT same estimates
    as the uncompacted merge-on-read view."""
    from mrf_etl_spark.operators import sketchlake as sl

    df = spark.range(20_000).select(
        (F.col("id") % 4).cast("string").alias("g"), F.col("id").alias("v")
    )
    path = str(tmp_path / "hll_lake_c")
    for b in range(3):
        sl.append_state(
            sl.hll_state(df.filter(F.col("id") % 3 == b), ["g"], "v"), path
        )
    before = {
        r["g"]: r["distinct_est"]
        for r in sl.hll_lake_distinct(spark, path, ["g"]).collect()
    }
    n_raw = spark.read.parquet(path).count()
    sl.hll_compact_state(spark, path, ["g"])
    assert spark.read.parquet(path).count() == 4 <= n_raw
    after = {
        r["g"]: r["distinct_est"]
        for r in sl.hll_lake_distinct(spark, path, ["g"]).collect()
    }
    assert after == before  # union-of-unions is the same sketch state
    # compaction is idempotent and re-appendable: another batch +
    # re-compaction still answers identically to a from-scratch lake
    sl.append_state(sl.hll_state(df, ["g"], "v"), path)
    sl.compact_state(spark, path, ["g"])
    again = {
        r["g"]: r["distinct_est"]
        for r in sl.hll_lake_distinct(spark, path, ["g"]).collect()
    }
    assert again == before


def test_sketchlake_grid_brackets_contain_rank_quantile(spark, tmp_path):
    """Persisted log-grid histogram: the merged grid's q-bucket value
    range must contain the exact rank-based quantile, and the grid must
    be append-order-invariant (additive merge)."""
    from mrf_etl_spark.operators import sketchlake as sl

    df = spark.range(1, 5001).select(
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") * 7 % 9973 + 1).cast("double").alias("v"),
    )
    path = str(tmp_path / "grid_lake")
    for b in range(3):
        sl.append_state(sl.grid_state(df.filter(F.col("id") % 3 == b), ["g"], "v"), path)
    got = sl.grid_lake_quantile_brackets(spark, path, ["g"], [0.5, 0.9]).collect()
    assert len(got) == 4  # 2 groups x 2 quantiles
    exact = {
        (r["g"], q): r[f"q{int(q*100)}"]
        for q in (0.5, 0.9)
        for r in df.groupBy("g").agg(
            F.expr("percentile_approx(v, 0.5, 100000)").alias("q50"),
            F.expr("percentile_approx(v, 0.9, 100000)").alias("q90"),
        ).collect()
    }
    for r in got:
        lo, hi = r["lo"], r["hi"]
        val = exact[(r["g"], r["q"])]
        # rank quantile lies in the picked bucket; allow the documented
        # one-bucket slack for the rank-vs-interpolation gap
        slack = 2 ** (1.0 / sl.GRID_RES)
        assert lo / slack <= val < hi * slack, (r, val)


def test_release_lineage_statuses_and_weights(spark):
    """q9 hand corpus: three releases where every transition exhibits a
    known status mix; n_docs and per-side weights must replay exactly,
    and fewer than two releases is an error."""
    from mrf_etl_spark.plans.quality import release_lineage

    v1 = spark.createDataFrame(
        [(1, "a", 3), (2, "bb", 4), (3, "ccc", 5)], "id long, txt string, w long"
    )
    v2 = spark.createDataFrame(  # 1 unchanged, 2 changed, 3 removed, 4 added
        [(1, "a", 3), (2, "BB", 6), (4, "dd", 7)], "id long, txt string, w long"
    )
    v3 = spark.createDataFrame(  # all unchanged
        [(1, "a", 3), (2, "BB", 6), (4, "dd", 7)], "id long, txt string, w long"
    )
    out = {
        (r.from_rel, r.to_rel, r.status): (r.n_docs, r.w_from, r.w_to)
        for r in release_lineage(
            [("v1", v1), ("v2", v2), ("v3", v3)], "id", ["txt"], weight_col="w"
        ).collect()
    }
    assert out == {
        ("v1", "v2", "unchanged"): (1, 3, 3),
        ("v1", "v2", "changed"): (1, 4, 6),
        ("v1", "v2", "removed"): (1, 5, 0),
        ("v1", "v2", "added"): (1, 0, 7),
        ("v2", "v3", "unchanged"): (3, 16, 16),
    }
    # no weight column → counts only
    slim = release_lineage([("v1", v1), ("v2", v2)], "id", ["txt"]).columns
    assert slim == ["from_rel", "to_rel", "status", "n_docs"]
    import pytest

    with pytest.raises(ValueError, match="at least two"):
        release_lineage([("v1", v1)], "id", ["txt"])


def test_stats_lake_serves_category_stats_and_survives_compaction(
    spark, tmp_path
):
    """a29: the stats-MV sketch lake — per-batch multi-HLL + additive
    count state; merged estimates land in the lgk=12 envelope, the
    additive total is EXACT, and compact_state's type dispatch (r9)
    folds the lake without changing any answer."""
    from mrf_etl_spark.operators import sketchlake as sl

    df = spark.range(30_000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 997).alias("u"),
        (F.col("id") % 251).alias("v"),
    )
    path = str(tmp_path / "stats_lake")
    for b in range(4):
        sl.append_state(
            sl.stats_state(
                df.filter(F.col("id") % 4 == b), ["g"], {"u": "u", "v": "v"}
            ),
            path,
        )
    def serve():
        return {
            r["g"]: (r["total_records"], r["unique_u"], r["unique_v"])
            for r in sl.stats_lake_serve(spark, path, ["g"]).collect()
        }

    before = serve()
    exact = {
        r["g"]: (r["n"], r["du"], r["dv"])
        for r in df.groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("u").alias("du"),
            F.countDistinct("v").alias("dv"),
        )
        .collect()
    }
    for g, (n, du, dv) in exact.items():
        tn, eu, ev = before[g]
        assert tn == n  # additive column exact through the lake
        assert abs(eu - du) <= 0.1 * du and abs(ev - dv) <= 0.1 * dv
    n_raw = spark.read.parquet(path).count()
    sl.compact_state(spark, path, ["g"])
    assert spark.read.parquet(path).count() == 3 <= n_raw
    assert serve() == before  # compaction invisible to the reader


def test_filtered_ann_prefilter_semantics_and_recall(spark):
    """n9: every neighbor satisfies the predicate, ranks stay contiguous
    1..k (pre-filter ranks AFTER restricting candidates — post-filtering
    would leave rank gaps/underfill), and recall vs the FILTERED exact
    top-k clears the unfiltered cascade's floor."""
    from mrf_etl_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    out = ivf_topk(
        emb, dim=64, centroid_mod=97, nprobe=2,
        query_filter=F.col("vec_id") < 10, k=5,
        candidate_filter=F.col("vec_id") % 2 == 0,
    ).collect()
    assert len(out) == 50
    by_q = {}
    for r in out:
        assert r.neighbor_id % 2 == 0, r  # predicate holds on every row
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())

    exact = cosine_topk(
        emb.filter(F.col("vec_id") % 2 == 0).unionByName(
            emb.filter((F.col("vec_id") < 10) & (F.col("vec_id") % 2 == 1))
        ).dropDuplicates(["vec_id"]),
        dim=64, query_filter=F.col("vec_id") < 10, k=5,
    )
    # exact over the filtered candidate set (queries may be odd ids, so
    # they are unioned back in as query-only rows; self-matches excluded
    # by cosine_topk). Neighbors there are even by construction.
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()
          if r.neighbor_id % 2 == 0}
    hits = sum(1 for r in out if (r.query_id, r.neighbor_id) in ex)
    assert hits / 50 >= 0.3, hits


def test_embedding_outliers_hand_case(spark):
    """e5 on a known group: aligned vectors pass, the anti-aligned one
    flags via dot<0, an orthogonal one flags via the squared inequality
    (cos=0 < 1/2), and a zero vector is never flagged (documented)."""
    from mrf_etl_spark.operators.similarity import embedding_outliers

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (4, [1.0, 0.0, 0.0, 0.0]),
        (8, [1.0, 0.0, 0.0, 0.0]),
        (12, [-1.0, 0.0, 0.0, 0.0]),   # anti-aligned -> outlier
        (16, [0.0, 1.0, 0.0, 0.0]),    # orthogonal -> outlier
        (20, [0.0, 0.0, 0.0, 0.0]),    # zero vector -> never flagged
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: (r.dot_c, r.is_outlier)
        for r in embedding_outliers(
            emb, F.col("vec_id") % 4, dim=4
        ).collect()
    }
    # centroid sum over ALL six (one group): s = [127*3-127, 127, 0, 0]
    assert out[0] == (127 * 254, False)
    assert out[12][0] < 0 and out[12][1] is True
    assert out[16][1] is True   # dot = 127*127, cos vs s ~ 0.44 < 0.5
    assert out[20] == (0, False)


def test_kmeans_codebook_hand_case_and_empty_cluster(spark):
    """e6 on a hand-built 2-seed fixture: every vector points along +x,
    so all of them assign to the lower seed id (ties -> lowest cid);
    seed 97 goes empty and must KEEP its previous centroid with
    n_members = 0; the trained centroid requantizes to max|cs| = 127."""
    from mrf_etl_spark.operators.similarity import kmeans_codebook

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),
        (2, [3.0, 0.0, 0.0, 0.0]),
        (97, [1.0, 0.0, 0.0, 0.0]),  # identical direction -> ties to cid 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_codebook(emb, dim=4, seed_mod=97, iters=2).collect()
    assert len(out) == 2 * 4
    by = {(r.cid, r.i): (r.cs, r.n_members) for r in out}
    # cid 0 holds all four members; centroid = [127, 0, 0, 0] after
    # requantize (sum [508,0,0,0] -> max 508 -> round(508/(508/127)))
    assert by[(0, 0)] == (127, 4)
    assert by[(0, 1)] == (0, 4)
    # cid 97 empty -> previous (seed) centroid kept, zero members
    assert by[(97, 0)] == (127, 0)
    assert by[(97, 3)] == (0, 0)


def test_kmeans_codebook_partition_invariant(spark):
    """The trainer's int64 sums and argmax are order-invariant: training
    over a 1-partition layout and a 16-partition layout produces the
    IDENTICAL codebook bytes (the exactness claim, tested)."""
    from mrf_etl_spark.operators.similarity import kmeans_codebook

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    a = kmeans_codebook(emb.coalesce(1), iters=2).collect()
    b = kmeans_codebook(emb.repartition(16, "vec_id"), iters=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 6 * 64  # 6 seeds at sf0.01 (ids 0,97,...,485)


def test_kmeans_codebook_improves_ivf_recall(spark):
    """Composability: feeding e6's trained codebook into ivf_topk
    (centroids=) must not DEGRADE recall@5 vs the modulo stand-in seeds
    at the same nprobe — on the sf0.01 fixture training strictly
    improves it. Ground truth = brute-force cosine_topk."""
    from mrf_etl_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_codebook,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qf = F.col("vec_id") < 10
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, query_filter=qf, k=5).collect()
    }

    def recall(cent):
        got = ivf_topk(
            emb, dim=64, nprobe=2, query_filter=qf, k=5, centroids=cent
        ).collect()
        return sum(1 for r in got if (r.query_id, r.neighbor_id) in exact) / len(exact)

    trained = (
        kmeans_codebook(emb, iters=2)
        .groupBy("cid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("i", "cs"))
            ).alias("_p")
        )
        .select(
            "cid",
            F.transform("_p", lambda s: s["cs"].cast("float")).alias("cvec"),
        )
    )
    r_mod = recall(None)
    r_trained = recall(trained)
    assert r_trained >= r_mod, (r_trained, r_mod)
    assert r_trained > 0.5, r_trained


def test_ngram_lm_bits_hand_case(spark):
    """t22 on a hand-built corpus with known counts: 'a b' occurs in all
    three docs (cu(a)=4 incl. the 'a c' doc, cb(a b)=3 -> bits
    flog2(4)-flog2(3) = 2-1 = 1), 'a c' once (bits 2-0 = 2); the
    single-token doc scores 0 bigrams and never flags."""
    from mrf_etl_spark.operators.textops import ngram_lm_bits

    rows = [
        (1, "a b"),
        (2, "a b"),
        (3, "a b a c"),
        (4, "z"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in ngram_lm_bits(docs, tau_eighths=8).collect()}
    # doc 3 bigrams: (a,b)->1, (b,a)->flog2(cu(b)=3)-flog2(1)=1-0=1,
    # (a,c)->flog2(4)-flog2(1)=2
    assert (out[1].n_bigrams, out[1].total_bits) == (1, 1)
    assert (out[3].n_bigrams, out[3].total_bits) == (3, 4)
    assert (out[4].n_bigrams, out[4].total_bits, out[4].is_surprising) == (
        0, 0, False,
    )
    # tau = 8/8 = 1 bit/bigram: doc 3 averages 4/3 > 1 -> flagged;
    # doc 1 averages exactly 1 -> NOT flagged (strict inequality)
    assert out[3].is_surprising is True
    assert out[1].is_surprising is False


def test_pq_codebook_train_partition_invariant_and_int8_bounded(spark):
    """e7's int64 sums, exact-int argmin, and rounded-mean update are
    order-invariant (1 vs 16 partitions bit-identical) and every trained
    centroid byte stays inside int8 range at any corpus size."""
    from mrf_etl_spark.operators.similarity import pq_codebook_train

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    a = pq_codebook_train(emb.coalesce(1)).collect()
    b = pq_codebook_train(emb.repartition(16, "vec_id")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 8 * 16 * 8
    assert all(-127 <= r.cs <= 127 for r in a)


def test_pq_codebook_train_improves_reconstruction(spark):
    """Composability: assemble_pq_seeds(e7 output) drops into pq_encode
    as the seeds frame, and the TRAINED codebook must reconstruct the
    corpus better than the default 16-seed-vector codebook (mean
    recon_cos strictly higher on the fixture)."""
    from mrf_etl_spark.operators.similarity import (
        assemble_pq_seeds,
        pq_codebook_train,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

    def mean_recon(seeds):
        df = pq_encode(emb, dim=64, n_blocks=8, seeds=seeds)
        return df.agg(F.avg("recon_cos")).collect()[0][0]

    gmax = emb.agg(
        F.max(
            F.array_max(
                F.transform("embedding", lambda x: F.abs(x.cast("double")))
            )
        )
    ).collect()[0][0]
    base = mean_recon(None)
    trained = mean_recon(
        assemble_pq_seeds(pq_codebook_train(emb), scale=gmax / 127.0)
    )
    assert trained > base, (trained, base)


def test_residual_ivfpq_recall_and_geometry_caveat(spark):
    """n14 (residual IVF-PQ) — the honest fixture measurement, pinned:
    on this suite's near-isotropic synthetic embeddings the coarse
    quantizer explains ~no variance, so residuals carry MORE energy
    than raw vectors and recall@5 lands slightly BELOW raw-PQ n7's
    (0.40 vs 0.48 at sf0.01 when measured; the bracket below allows
    draw noise). The pin is two-sided: n14 must stay a working ANN
    (recall well above the random-candidates floor) and the caveat
    must stay true-ish (if n14 ever materially BEATS n7 here, the
    fixture geometry changed and the operator docstring is stale)."""
    from mrf_etl_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_residual_topk,
        ivf_pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qf = F.col("vec_id") < 10
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, query_filter=qf, k=5).collect()
    }

    def recall(fn):
        got = fn(
            emb, dim=64, nprobe=2, n_blocks=8, query_filter=qf,
            n_candidates=50, k=5,
        ).collect()
        assert all(1 <= r.rank <= 5 for r in got)
        return sum(
            1 for r in got if (r.query_id, r.neighbor_id) in exact
        ) / len(exact)

    r7 = recall(ivf_pq_topk)
    r14 = recall(ivf_pq_residual_topk)
    assert r14 >= 0.3, (r14, "residual cascade broke, not just geometry")
    assert r14 >= 0.6 * r7, (r14, r7)
    assert r14 <= r7 + 0.1, (
        r14, r7,
        "n14 now beats n7 on the isotropic fixture — update the "
        "geometry caveat in ivf_pq_residual_topk's docstring/entry doc",
    )


def test_fully_trained_ivf_pq_recall_not_worse(spark):
    """The flagship composition: ivf_pq_topk with BOTH trained codebooks
    (e6 coarse quantizer via centroids=, e7 PQ codebook via seeds=) must
    not degrade recall@5 vs the modulo/first-16 stand-ins at the same
    budgets. Ground truth = brute-force cosine_topk."""
    from mrf_etl_spark.operators.similarity import (
        assemble_pq_seeds,
        cosine_topk,
        ivf_pq_topk,
        kmeans_codebook,
        pq_codebook_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qf = F.col("vec_id") < 10
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, query_filter=qf, k=5).collect()
    }

    def recall(cent, seeds):
        got = ivf_pq_topk(
            emb, dim=64, nprobe=2, n_blocks=8, query_filter=qf,
            n_candidates=50, k=5, centroids=cent, seeds=seeds,
        ).collect()
        return sum(
            1 for r in got if (r.query_id, r.neighbor_id) in exact
        ) / len(exact)

    coarse = (
        kmeans_codebook(emb, iters=2)
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("i", "cs"))).alias("_p"))
        .select(
            "cid",
            F.transform("_p", lambda s: s["cs"].cast("float")).alias("cvec"),
        )
    )
    gmax = emb.agg(
        F.max(
            F.array_max(
                F.transform("embedding", lambda x: F.abs(x.cast("double")))
            )
        )
    ).collect()[0][0]
    pq = assemble_pq_seeds(pq_codebook_train(emb), scale=gmax / 127.0)
    r_default = recall(None, None)
    r_trained = recall(coarse, pq)
    assert r_trained >= r_default, (r_trained, r_default)


def test_trained_codebooks_drive_persisted_index_lifecycle(spark, tmp_path):
    """End-to-end trained lifecycle: e6+e7 codebooks → ivf_pq_index_create
    → persisted query EQUALS the in-plan ivf_pq_topk over the same trained
    codebooks (n8's persisted==in-plan contract, now under TRAINED state
    instead of the stand-in seeds)."""
    from mrf_etl_spark.operators.similarity import (
        assemble_pq_seeds,
        ivf_pq_index_create,
        ivf_pq_index_query,
        ivf_pq_topk,
        kmeans_codebook,
        pq_codebook_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    coarse = (
        kmeans_codebook(emb, iters=2)
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("i", "cs"))).alias("_p"))
        .select(
            "cid",
            F.transform("_p", lambda s: s["cs"].cast("float")).alias("cvec"),
        )
    )
    gmax = emb.agg(
        F.max(
            F.array_max(
                F.transform("embedding", lambda x: F.abs(x.cast("double")))
            )
        )
    ).collect()[0][0]
    pq = assemble_pq_seeds(pq_codebook_train(emb), scale=gmax / 127.0)

    path = str(tmp_path / "trained_idx")
    ivf_pq_index_create(emb, path, coarse, pq, dim=64, n_blocks=8)
    persisted = sorted(
        map(
            tuple,
            ivf_pq_index_query(
                emb.filter(F.col("vec_id") < 10), path,
                dim=64, n_blocks=8, nprobe=2, n_candidates=50, k=5,
            ).collect(),
        )
    )
    in_plan = sorted(
        map(
            tuple,
            ivf_pq_topk(
                emb, dim=64, nprobe=2, n_blocks=8,
                query_filter=F.col("vec_id") < 10,
                n_candidates=50, k=5, centroids=coarse, seeds=pq,
            ).collect(),
        )
    )
    assert persisted == in_plan
    assert len(persisted) == 50


def test_codebook_drift_hand_case(spark):
    """e8 on a hand-built fixture: two centroids along +x / +y; counting
    the seeds themselves (0 is even -> base, 97 is odd -> current), base
    traffic is 4:1 (+x heavy) and current is 1:4 (+y heavy) — both
    centroids drift at the 2/1 threshold; a run with ratio 9/1 flags
    nothing. Also pins the 0-count edge: a centroid with traffic in
    exactly one snapshot always flags."""
    from mrf_etl_spark.operators.similarity import codebook_drift

    def vec(axis, mag=1.0):
        v = [0.0, 0.0, 0.0, 0.0]
        v[axis] = mag
        return v

    rows = (
        # seeds (ids 0, 97): +x and +y
        [(0, vec(0)), (97, vec(1))]
        # base (even, not seeds): 3 more toward +x, 1 toward +y
        + [(2, vec(0)), (4, vec(0)), (6, vec(0)), (8, vec(1))]
        # current (odd): 1 toward +x, 3 toward +y
        + [(1, vec(0)), (3, vec(1)), (5, vec(1)), (7, vec(1))]
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cur = (F.col("vec_id") % 2) == 1

    out = {
        r.cid: r
        for r in codebook_drift(emb, cur, dim=4, ratio_num=2, ratio_den=1).collect()
    }
    # +x: base 4/5 -> cur 1/5 (share quartered), +y: 1/5 -> 4/5
    assert (out[0].n_base, out[0].n_cur, out[0].drifted) == (4, 1, True)
    assert (out[97].n_base, out[97].n_cur, out[97].drifted) == (1, 4, True)

    loose = {
        r.cid: r.drifted
        for r in codebook_drift(emb, cur, dim=4, ratio_num=9, ratio_den=1).collect()
    }
    assert loose == {0: False, 97: False}

    # one-sided traffic always flags: drop current's only +x member
    onesided = {
        r.cid: r
        for r in codebook_drift(
            emb.filter(F.col("vec_id") != 1),
            cur, dim=4, ratio_num=2, ratio_den=1,
        ).collect()
    }
    assert onesided[0].n_cur == 0 and onesided[0].drifted is True


def test_bpe_merges_hand_case_and_greedy_semantics(spark):
    """t23 on a known corpus: 'lo' wins pass 1 (5 weighted occurrences),
    'low' pass 2, 'ew' pass 3 — and the greedy fold rules: 'a a a' with
    pair (a,a) merges LEFT-TO-RIGHT non-overlapping ('aa a'), and a
    fused symbol may chain as the LEFT of the next merge in-pass."""
    from mrf_etl_spark.operators.textops import bpe_merges

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "doc_id long, text string",
    )
    out = {r.step: (r.left, r.right, r.pair_n) for r in bpe_merges(docs).collect()}
    assert out == {1: ("l", "o", 5), 2: ("lo", "w", 5), 3: ("e", "w", 4)}

    # overlap: 'aaa' chars pair (a,a) appears 2x per word but merges once
    # per non-overlapping site; the winner table still counts RAW pairs
    docs2 = spark.createDataFrame([(1, "aaa aaa")], "doc_id long, text string")
    out2 = {r.step: (r.left, r.right, r.pair_n) for r in bpe_merges(docs2, n_merges=2).collect()}
    # pass 1: raw ('a','a') weighted count = 2 sites x 1 distinct word x 2 -> ('a','a',4)... 
    # distinct word 'aaa' n=2, pairs (a,a) twice -> pair_n=4; merge -> 'aa a'
    assert out2[1] == ("a", "a", 4)
    # pass 2: symbols 'aa a' -> pair ('aa','a') n=2
    assert out2[2] == ("aa", "a", 2)


def test_bpe_encode_fertility_hand_case(spark):
    """t24 on the t23 hand corpus: after the 3 learned merges
    (l+o, lo+w, e+w), 'low' encodes to 1 token [low], 'lower' to 3
    [low, e, r], 'lowest' to 4 [low, e, s, t], 'new' to 2 [n, ew],
    'newer' to 4 [n, ew, e, r], 'newest' to 5 [n, ew, e, s, t].
    Counts are exact int64."""
    from mrf_etl_spark.operators.textops import bpe_encode_fertility

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_words, r.n_chars, r.n_tokens)
           for r in bpe_encode_fertility(docs).collect()}
    # doc 1: low(1) lower(3: low,e,r) lowest(4: low,e,s,t) low(1) low(1)
    assert out[1] == (5, 3 + 5 + 6 + 3 + 3, 1 + 3 + 4 + 1 + 1)
    # doc 2: new(2) newer(4) newest(5) new(2)
    assert out[2] == (4, 3 + 5 + 6 + 3, 2 + 4 + 5 + 2)


def test_ivf_pq_index_compact_preserves_queries(spark, tmp_path):
    """Index maintenance: after streamed-style appends accrete multiple
    file sets per ccid partition, ivf_pq_index_compact rewrites each hot
    partition to fewer files — and the post-compaction query equals the
    pre-compaction answer EXACTLY (row-preserving rewrite; every query
    stage re-sorts)."""
    import os

    from mrf_etl_spark.operators.similarity import (
        ivf_pq_index_append,
        ivf_pq_index_compact,
        ivf_pq_index_create,
        ivf_pq_index_query,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cent = emb.filter((F.col("vec_id") % 97) == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    seeds = emb.filter(F.col("vec_id") < 16)
    path = str(tmp_path / "idx")
    ivf_pq_index_create(
        emb.filter(F.col("vec_id") % 4 == 0), path, cent, seeds,
        dim=64, n_blocks=8,
    )
    for r in (1, 2, 3):
        ivf_pq_index_append(
            emb.filter(F.col("vec_id") % 4 == r), path, dim=64, n_blocks=8
        )

    def q():
        return sorted(
            map(
                tuple,
                ivf_pq_index_query(
                    emb.filter(F.col("vec_id") < 10), path,
                    dim=64, n_blocks=8, nprobe=2, n_candidates=50, k=5,
                ).collect(),
            )
        )

    def n_files():
        return sum(
            1
            for dirpath, _, files in os.walk(f"{path}/codes")
            for f in files
            if f.endswith(".parquet")
        )

    before, files_before = q(), n_files()
    compacted = ivf_pq_index_compact(spark, path, min_files=1)
    after, files_after = q(), n_files()
    assert compacted > 0
    assert files_after < files_before, (files_before, files_after)
    assert after == before
    assert len(after) == 50


def test_semantic_decontam_hand_case(spark):
    """d14 on a hand fixture: an exact eval copy flags (cos 1.0), an
    anti-aligned vector never does, ties on equal cosine go to the
    LOWEST eval id, and a zero vector scores an explicit NULL cosine
    and never flags (Spark's 0/0 is NULL, DuckDB's is NaN — the gate
    makes both say NULL; e5's outlier gate is the stage that
    quarantines undefined directions)."""
    from mrf_etl_spark.operators.similarity import semantic_decontam

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0, 0.0]),    # scaled copy of eval 100 -> cos 1
            (2, [-1.0, 0.0, 0.0, 0.0]),   # anti-aligned -> cos -1 to best
            (3, [1.0, 1.0, 0.0, 0.0]),    # equidistant -> tie -> eval 100
            (4, [0.0, 0.0, 0.0, 0.0]),    # zero vector -> NaN -> flagged
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        r.vec_id: r
        for r in semantic_decontam(corpus, ev, dim=4, tau=0.9).collect()
    }
    assert out[1].eval_id == 100 and out[1].contaminated is True
    assert out[2].contaminated is False
    assert out[3].eval_id == 100 and out[3].contaminated is False
    assert out[4].cosine is None and out[4].contaminated is False


def test_linear_probe_hand_case_and_partition_invariance(spark):
    """e9 on a linearly separable hand fixture: iteration 1 (w0 = 0)
    misclassifies everything and lands on the class-mean-difference
    direction; iteration 2 misclassifies nothing and leaves w unchanged.
    The batch update is order-invariant: 1 vs 8 partitions bit-identical."""
    from mrf_etl_spark.operators.similarity import linear_probe

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 1),
        (1, [2.0, 0.1, 0.0, 0.0], 1),
        (2, [-1.0, 0.0, 0.0, 0.0], 0),
        (3, [-2.0, -0.1, 0.0, 0.0], 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        (r.iter, r.i): (r.w, r.n_mis)
        for r in linear_probe(emb, F.col("label") == 1, dim=4, iters=2).collect()
    }
    # iter 1: every row misclassified at zero margin; w = sum of y*qvec:
    # qvecs quantize to [127,0,0,0],[127,6,0,0],[-127,0,0,0],[-127,-6,0,0]
    # -> w = [508, 12, 0, 0]
    assert out[(1, 0)] == (508, 4)
    assert out[(1, 1)] == (12, 4)
    # iter 2: separable -> converged, w unchanged, nothing misclassified
    assert out[(2, 0)] == (508, 0)
    assert out[(2, 3)] == (0, 0)

    big = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    a = linear_probe(big.coalesce(1), F.col("label") < 5).collect()
    b = linear_probe(big.repartition(8, "vec_id"), F.col("label") < 5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # the probe LEARNS on the fixture: iteration 2's update count drops
    nm = {r.iter: r.n_mis for r in a}
    assert nm[2] < nm[1]


def test_linear_probe_eval_hand_case(spark):
    """e10 on a separable hand fixture with an explicit holdout: after
    iteration 1's class-mean-difference step the held-out points (one
    per class, same directions as train) classify perfectly — tp=1,
    tn=1, no errors — and train misclassification is 4 (all, at w0=0)
    then 0 (converged)."""
    from mrf_etl_spark.operators.similarity import linear_probe_eval

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 1),
        (1, [2.0, 0.1, 0.0, 0.0], 1),
        (2, [-1.0, 0.0, 0.0, 0.0], 0),
        (3, [-2.0, -0.1, 0.0, 0.0], 0),
        (10, [3.0, 0.0, 0.0, 0.0], 1),   # holdout +
        (11, [-3.0, 0.0, 0.0, 0.0], 0),  # holdout -
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r.iter: r
        for r in linear_probe_eval(
            emb, F.col("label") == 1, F.col("vec_id") >= 10, dim=4, iters=2
        ).collect()
    }
    assert (out[1].tp, out[1].fp, out[1].tn, out[1].fn) == (1, 0, 1, 0)
    assert out[1].n_mis_train == 4
    assert (out[2].tp, out[2].tn, out[2].n_mis_train) == (1, 1, 0)


def test_linear_probe_eval_empty_holdout_reports_training(spark):
    """With no held-out rows e10 trains on the whole corpus, so each
    iteration's n_mis_train is e9's n_mis for the same labels; the
    confusion counts are sums over nothing and stay NULL (the oracle's
    c{k} CTE gives the same)."""
    from mrf_etl_spark.operators.similarity import linear_probe, linear_probe_eval

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    label = F.col("label") < 5
    n_mis = {r.iter: r.n_mis for r in linear_probe(emb, label).collect()}
    out = linear_probe_eval(emb, label, F.lit(False)).collect()
    assert {r.iter: r.n_mis_train for r in out} == n_mis
    assert all((r.tp, r.fp, r.tn, r.fn) == (None,) * 4 for r in out)


def test_truncation_quality_compiles_whole_stage(spark):
    """e3's per-k prefix norms must fit the JVM's 64 KB method limit:
    with the interpreted fallback disabled, a generated method that
    grows past it fails the query instead of silently running the stage
    without whole-stage codegen."""
    from mrf_etl_spark.plans.parity import REGISTRY

    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = REGISTRY["e3_truncation_quality"].spark_fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    finally:
        spark.conf.unset("spark.sql.codegen.fallback")
    assert rows


def test_linear_probe_apply_hand_case_and_agreement(spark):
    """e11 on the separable hand fixture: after training (w = the
    class-mean-difference direction, converged at iteration 2) every
    row scores y·|dot| with the right sign — keep exactly the positive
    class. Scores are the exact int64 dots against w = [508, 12, 0, 0].
    On the sf0.01 corpus the keep set must agree with e9's final
    weights applied by hand (the deploy pass changes no decisions)."""
    from mrf_etl_spark.operators.similarity import (
        linear_probe,
        linear_probe_apply,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 1),
        (1, [2.0, 0.1, 0.0, 0.0], 1),
        (2, [-1.0, 0.0, 0.0, 0.0], 0),
        (3, [-2.0, -0.1, 0.0, 0.0], 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r.vec_id: (r.score, r.keep)
        for r in linear_probe_apply(
            emb, F.col("label") == 1, dim=4, iters=2
        ).collect()
    }
    # qvecs: [127,0,..],[127,6,..],[-127,0,..],[-127,-6,..]; w=[508,12,0,0]
    assert out[0] == (127 * 508, True)
    assert out[1] == (127 * 508 + 6 * 12, True)
    assert out[2] == (-127 * 508, False)
    assert out[3] == (-127 * 508 - 6 * 12, False)

    big = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    scored = linear_probe_apply(big, F.col("label") < 5).collect()
    assert len(scored) == big.count()
    # decisions follow the trained weights exactly: recompute one row's
    # score from e9's iteration-2 weight vector
    w2 = {
        r.i: r.w
        for r in linear_probe(big, F.col("label") < 5).collect()
        if r.iter == 2
    }
    from mrf_etl_spark.operators.similarity import quantize_int8

    probe_row = min(scored, key=lambda r: r.vec_id)
    qv = (
        quantize_int8(big.filter(F.col("vec_id") == probe_row.vec_id))
        .select("qvec")
        .first()[0]
    )
    assert probe_row.score == sum(int(x) * w2[i] for i, x in enumerate(qv))
    assert probe_row.keep is (probe_row.score > 0)
    # both branches live on the fixture
    keeps = sum(1 for r in scored if r.keep)
    assert 0 < keeps < len(scored)


def test_dsir_select_hand_case(spark):
    """d15 on a hand corpus with known counts: the target doc is 16×
    'apple' (N_t=16, c_t(apple)=16); pool doc 1 repeats the target's
    vocabulary, pool doc 2 is out-of-distribution. With c_c(apple)=18,
    N_c=20: apple bits = flog2(17)−flog2(19) = 4−4 = 0, unseen-word
    bits = flog2(1)−flog2(2) = −1, norm = flog2(21)−flog2(17) = 0 —
    so doc 1 scores 0, doc 2 scores −2, and the budget cut keeps the
    target-like doc first."""
    from mrf_etl_spark.operators.textops import dsir_select

    rows = [
        (100, " ".join(["apple"] * 16), "tgt"),
        (1, "apple apple", "pool"),
        (2, "zork quux", "pool"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r.doc_id: (r.n_tokens, r.score, r.rank)
        for r in dsir_select(
            docs, F.col("source") == "tgt", "text", "doc_id", budget_n=2
        ).collect()
    }
    assert out[1] == (2, 0, 1)
    assert out[2] == (2, -2, 2)
    # the budget is a hard cut: budget_n=1 keeps only the best doc
    only = dsir_select(
        docs, F.col("source") == "tgt", "text", "doc_id", budget_n=1
    ).collect()
    assert [(r.doc_id, r.rank) for r in only] == [(1, 1)]


def test_perplexity_buckets_hand_case(spark):
    """t25 on a hand corpus with known bigram counts: c(a)=c(b)=4,
    c(ab)=4, c(ba)=2, all other grams 1 — so doc1 ('a b a b a b')
    scores 16//5=3 eighth-bits, doc2 ('a b c d') 16//3=5, doc3
    ('p q r s') 0. Tertile thresholds over the 3-doc domain are t1=0,
    t2=3: doc3 head, doc1 middle, doc2 tail."""
    from mrf_etl_spark.operators.textops import perplexity_buckets

    rows = [
        (1, "a b a b a b", "X"),
        (2, "a b c d", "X"),
        (3, "p q r s", "X"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r.doc_id: (r.score_e, r.t1, r.t2, r.bucket)
        for r in perplexity_buckets(docs).collect()
    }
    assert out[1] == (3, 0, 3, "middle")
    assert out[2] == (5, 0, 3, "tail")
    assert out[3] == (0, 0, 3, "head")

    # on the real fixture every domain splits into near-thirds: no
    # bucket may be empty corpus-wide and head counts per domain stay
    # within [n/3 - ties, 2n/3] (tie blocks land whole)
    big = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    res = perplexity_buckets(big).collect()
    assert len(res) == big.count()
    from collections import Counter

    buckets = Counter(r.bucket for r in res)
    assert set(buckets) == {"head", "middle", "tail"}


def test_hard_negatives_excludes_positives_and_ranks(spark):
    """n10: every mined negative carries a different label than its
    query; ranks are contiguous 1..k; and the result equals ivf_topk
    re-ranked after dropping same-label rows ONLY when no positive sat
    inside the pre-filter top-k (pre-filter semantics: the list never
    underfills). Also a hand case where the nearest vector is a
    positive — it must be skipped, not rank-consumed."""
    from mrf_etl_spark.operators.similarity import hard_negatives

    rows = [
        # query: label 0, along +x
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        # nearest is SAME label -> must not appear
        (1, [0.99, 0.1, 0.0, 0.0], 0),
        # hard negatives, decreasing similarity
        (2, [0.9, 0.2, 0.0, 0.0], 1),
        (3, [0.5, 0.5, 0.0, 0.0], 1),
        (4, [0.0, 1.0, 0.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = hard_negatives(
        emb,
        dim=4,
        centroid_mod=1,  # every vector is a centroid: probes cover all
        nprobe=5,
        query_filter=F.col("vec_id") == 0,
        k=3,
    ).collect()
    got = [(r.neighbor_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    assert got == [(2, 1), (3, 2), (4, 3)]  # 1 skipped, ranks contiguous

    big = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    labels = {r.vec_id: r.label for r in big.select("vec_id", "label").collect()}
    mined = hard_negatives(
        big, dim=64, centroid_mod=97, nprobe=2,
        query_filter=F.col("vec_id") < 10, k=5,
    ).collect()
    assert len(mined) == 50
    for r in mined:
        assert labels[r.query_id] != labels[r.neighbor_id]
        assert 1 <= r.rank <= 5


def test_cluster_map_hand_case(spark):
    """q10 on two clean direction groups (+x with seeds at id 0, +y at
    id 4 via seed_mod=4): the trained centroids stay in their groups,
    every vector assigns home, and the dominant label is the
    deterministic mode (count DESC, label ASC)."""
    from mrf_etl_spark.operators.similarity import cluster_map

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [1.0, 0.05, 0.0, 0.0], 1),
        (3, [0.95, 0.0, 0.0, 0.0], 0),
        (4, [0.0, 1.0, 0.0, 0.0], 1),
        (5, [0.1, 0.9, 0.0, 0.0], 1),
        (6, [0.0, 0.95, 0.0, 0.0], 0),
        (7, [0.05, 1.0, 0.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r.cid: (r.n_members, r.top_label, r.top_label_n)
        for r in cluster_map(emb, dim=4, seed_mod=4, iters=2).collect()
    }
    assert out[0] == (4, 0, 3)
    assert out[4] == (4, 1, 3)

    # fixture: the map partitions the corpus (sizes sum to N) and the
    # dominant label count never exceeds the cluster size
    big = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    res = cluster_map(big).collect()
    assert sum(r.n_members for r in res) == big.count()
    assert all(0 < r.top_label_n <= r.n_members for r in res)


def test_mixture_solver_hand_case_and_mix_sources_consistency(spark):
    """sp23 with known token counts: domain A has 10 tokens, B has 40,
    C has 50. Targets 50/50 bp split over a 100-token budget: A plans
    50 tokens -> rate 5.0 epochs (50000 bp), B plans 50 -> 12500 bp,
    C untargeted -> 0. Floor keeps realized <= planned; feeding the
    solved rates into mix_sources yields copy counts consistent with
    rate_bp (each doc emits floor(rate) or floor(rate)+1 copies)."""
    from mrf_etl_spark.operators.sampling import mixture_solver, mix_sources

    rows = [
        (1, " ".join(["w"] * 10), "A"),
        (2, " ".join(["w"] * 40), "B"),
        (3, " ".join(["w"] * 50), "C"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r.domain: (r.tokens, r.target_bp, r.rate_bp, r.planned_tokens)
        for r in mixture_solver(
            docs, {"A": 5000, "B": 5000}, 100, "source", "text"
        ).collect()
    }
    assert out["A"] == (10, 5000, 50000, 50)
    assert out["B"] == (40, 5000, 12500, 50)
    assert out["C"] == (50, 0, 0, 0)

    rates = {d: v[2] / 10000 for d, v in out.items()}
    mixed = mix_sources(
        docs.select("doc_id", "source"), "doc_id", "source", rates,
        default_rate=0.0,
    ).collect()
    from collections import Counter

    copies = Counter(r.doc_id for r in mixed)
    assert copies[1] == 5                 # exactly 5 epochs
    assert copies[2] in (1, 2)            # 1.25 epochs: 1 or 2 copies
    assert 3 not in copies                # rate 0 drops the domain

    # a domain NAMED in targets but absent from the corpus still gets a
    # row (tokens=0, rate_bp=0) — its share is unrealizable and the mix
    # under-fills; silently dropping it would hide that
    out2 = {
        r.domain: (r.tokens, r.target_bp, r.rate_bp, r.planned_tokens)
        for r in mixture_solver(
            docs, {"A": 5000, "GHOST": 5000}, 100, "source", "text"
        ).collect()
    }
    assert out2["GHOST"] == (0, 5000, 0, 0)
    assert out2["A"] == (10, 5000, 50000, 50)


def test_hard_negatives_zero_norm_vectors_sort_last(spark):
    """n10's zero-norm gate: a zero vector in the corpus scores NULL
    cosine (not NaN) and therefore sorts LAST — it can never outrank a
    real negative, and the result replays identically on the DuckDB
    oracle (whose ungated 0/0 would be NaN, sorting FIRST under DESC)."""
    from mrf_etl_spark.operators.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 1),
        (2, [0.0, 0.0, 0.0, 0.0], 1),  # zero-norm negative
        (3, [0.5, 0.5, 0.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = hard_negatives(
        emb, dim=4, centroid_mod=1, nprobe=4,
        query_filter=F.col("vec_id") == 0, k=3,
    ).collect()
    got = [(r.neighbor_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    # real negatives first by cosine; the zero vector trails at rank 3
    assert got == [(1, 1), (3, 2), (2, 3)]
    assert [r.cosine for r in sorted(out, key=lambda r: r.rank)][2] is None


def test_dual_gate_decontam_report(spark):
    """q11: the release decision is exactly (ngram-clean AND
    semantic-clean) per row, eval items never appear, and on the
    fixture both gates fire independently (rows caught by exactly one
    modality exist in both directions — the reason releases run both)."""
    from mrf_etl_spark.plans.parity import REGISTRY
    import mrf_etl_spark.plans.parity_fused  # noqa: F401
    from mrf_etl_spark.plans.parity_llm import EVAL_MOD

    rows = REGISTRY["q11_dual_gate_decontam"].spark_fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows and all(r.doc_id % EVAL_MOD != 0 for r in rows)
    for r in rows:
        assert r.released == ((not r.ngram_hit) and (not r.semantic_hit))
    only_ngram = sum(1 for r in rows if r.ngram_hit and not r.semantic_hit)
    only_sem = sum(1 for r in rows if r.semantic_hit and not r.ngram_hit)
    assert only_ngram > 0 and only_sem > 0


def test_training_order_manifest(spark):
    """pipe7: the manifest's positions are a dense 0..n-1 permutation;
    per-doc copy counts follow the solved rates exactly (full copies
    always, at most one fractional); domains with rate 0 never appear;
    and re-running yields the identical order (pure function of salt)."""
    from collections import Counter

    from mrf_etl_spark.operators.sampling import mixture_solver, training_order

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    targets = {"src0": 4000, "src1": 4000, "src2": 2000}
    out = training_order(docs, targets, 20_000).collect()
    pos = sorted(r.order_pos for r in out)
    assert pos == list(range(len(out)))
    rates = {
        r.domain: r.rate_bp
        for r in mixture_solver(docs, targets, 20_000).collect()
    }
    copies = Counter(r.doc_id for r in out)
    doms = {r.doc_id: r.domain for r in out}
    for doc_id, n in copies.items():
        rb = rates[doms[doc_id]]
        assert n in (rb // 10000, rb // 10000 + 1)
    assert all(rates[r.domain] > 0 for r in out)
    again = training_order(docs, targets, 20_000).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_matryoshka_topk_recall_and_hand_case(spark):
    """n11: with dim_t == dim the cascade IS exact brute-force top-k
    (shortlist order == final order); at dim_t=16 on the fixture the
    shortlist recall vs n1's exact top-5 stays above a floor. Hand
    case: a vector whose prefix is zero gates to NULL in the shortlist
    score (ranks last) but can still be rescued by the full-dim rerank
    if the shortlist is wide enough."""
    from mrf_etl_spark.operators.similarity import cosine_topk, matryoshka_topk

    big = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(big, query_filter=F.col("vec_id") < 10, k=5).collect()
    }
    # dim_t == dim: identical to exact (candidates >> k)
    full = {
        (r.query_id, r.neighbor_id)
        for r in matryoshka_topk(
            big, dim=64, dim_t=64,
            query_filter=F.col("vec_id") < 10, n_candidates=50, k=5,
        ).collect()
    }
    assert full == exact
    # dim_t = 16: approximate, recall floor on the fixture
    trunc = {
        (r.query_id, r.neighbor_id)
        for r in matryoshka_topk(
            big, dim=64, dim_t=16,
            query_filter=F.col("vec_id") < 10, n_candidates=50, k=5,
        ).collect()
    }
    recall = len(trunc & exact) / len(exact)
    assert recall >= 0.5, f"matryoshka recall {recall:.2f} below floor"

    rows = [
        (0, [0.0, 0.0, 1.0, 0.0], 0),   # query: zero PREFIX (dim_t=2)
        (1, [0.0, 0.1, 1.0, 0.0], 0),   # true nearest (full-dim)
        (2, [1.0, 0.0, 0.0, 0.1], 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = matryoshka_topk(
        emb, dim=4, dim_t=2,
        query_filter=F.col("vec_id") == 0, n_candidates=2, k=1,
    ).collect()
    # the zero-prefix query scores NULL against everything in the
    # shortlist stage (ties broken by id), but the full-dim rerank
    # still surfaces the true neighbor from the 2-wide shortlist
    assert [(r.query_id, r.neighbor_id, r.rank) for r in out] == [(0, 1, 1)]


def test_phash_band_spec_pigeonhole_complete():
    """The adaptive band layout is pigeonhole-complete: max_hamming+1
    disjoint bands covering all 64 bits, none straddling the hi/lo
    boundary — so ANY pair within the threshold shares a whole band.
    Includes the adversarial case a fixed 4x16-bit split misses: 8
    differing bits spread 2 per quarter (hamming 8 <= 10) touch all
    four 16-bit quarters, but with 11 bands at least one is clean."""
    from mrf_etl_spark.operators.multimodal import phash_band_spec

    for m in (0, 3, 8, 10, 15, 31, 63):
        spec = phash_band_spec(m)
        assert len(spec) == m + 1
        for half in ("lo", "hi"):
            covered = sorted(
                (s, s + w) for _, h, s, w in spec if h == half
            )
            # disjoint, contiguous, covering [0, 32) within each half
            pos = 0
            for s, e in covered:
                assert s == pos and e > s
                pos = e
            assert pos == 32 or (half == "hi" and not covered)

    # adversarial: bits {0,16,32,48, 7,23,39,55} differ — every 16-bit
    # quarter dirty (old scheme: zero candidate bands), hamming 8
    dirty = {0, 16, 32, 48, 7, 23, 39, 55}
    spec = phash_band_spec(10)
    clean = [
        (b, h, s, w)
        for b, h, s, w in spec
        if not any(
            (bit - (32 if h == "hi" else 0)) in range(s, s + w)
            for bit in dirty
            if (bit >= 32) == (h == "hi")
        )
    ]
    assert clean, "11-band pigeonhole must leave a clean band for hamming 8"


def test_phash_near_dup_pigeonhole_and_real_decode(spark):
    """m6: every reported pair is within the Hamming threshold; the
    pigeonhole guarantee holds on a hand case (with max_hamming+1
    bands, two signatures within the threshold share a band and pair;
    two differing everywhere don't); and the REAL decode path (stdlib
    PNG) produces identical pairs for identical images."""
    from mrf_etl_spark.operators.multimodal import (
        attach_binary_payload,
        phash_near_dup,
    )
    from mrf_etl_spark.plans.parity_llm import _docs_with_near_dups

    mm = attach_binary_payload(
        _docs_with_near_dups(spark, "/root/testdata/sf0.01"), "text", "doc_id"
    )
    out = phash_near_dup(mm, max_hamming=10, max_band_freq=50).collect()
    assert out and all(r.hamming <= 10 for r in out)
    assert all(r.doc_a < r.doc_b for r in out)

    # hand case via the fake path: identical payloads pair at hamming 0
    rows = [(1, "abcdefgh" * 16), (2, "abcdefgh" * 16), (3, "zzzz")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    mm2 = attach_binary_payload(docs, "text", "doc_id")
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in phash_near_dup(mm2, max_hamming=10, max_band_freq=50).collect()
    }
    assert pairs.get((1, 2)) == 0


def test_power_iteration_hand_case_and_partition_invariance(spark):
    """e12 on a corpus dominated by the ±x axis: one step from the
    all-ones seed lands on the x direction exactly (u = [Σ(x·1)·x] =
    [Σa², 0, 0, 0] → quantizes to [127, 0, 0, 0]) and stays there.
    The update is order-invariant: 1 vs 8 partitions bit-identical."""
    from mrf_etl_spark.operators.similarity import power_iteration

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [-2.0, 0.0, 0.0, 0.0]),
        (2, [3.0, 0.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        (r.iter, r.i): r.v
        for r in power_iteration(emb, dim=4, iters=2).collect()
    }
    assert out[(1, 0)] == 127 and out[(1, 1)] == 0
    assert out[(2, 0)] == 127 and out[(2, 3)] == 0

    big = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    a = power_iteration(big.coalesce(1)).collect()
    b = power_iteration(big.repartition(8, "vec_id")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # the direction is normalized to int8 full scale each iteration
    assert max(abs(r.v) for r in a) == 127


def test_training_order_export_shards_are_contiguous(spark):
    """s30: each shard directory holds exactly the contiguous position
    range [shard_id*S, (shard_id+1)*S); concatenating shards in
    shard_id order reproduces the full training order."""
    from mrf_etl_spark.plans.parity import REGISTRY
    import mrf_etl_spark.plans.parity_fused  # noqa: F401
    from mrf_etl_spark.plans.parity_llm import _S30_SHARD_ROWS as S

    rows = REGISTRY["s30_training_order_export"].spark_fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    for r in rows:
        assert r.shard_id == r.order_pos // S
    pos = sorted(r.order_pos for r in rows)
    assert pos == list(range(len(rows)))
    by_shard = sorted(rows, key=lambda r: (r.shard_id, r.order_pos))
    assert [r.order_pos for r in by_shard] == pos


def test_ivfpq_delete_tombstones_and_compaction(spark, tmp_path):
    """n12: tombstoned ids vanish from query results immediately (and
    cannot consume candidate slots); deletes change the answer (the
    doomed ids were previously ranked); tombstone-aware compaction is
    query-invisible, physically drops the rows, and clears the
    tombstone files; deleting an absent id is a no-op."""
    import os

    from mrf_etl_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = emb.filter((F.col("vec_id") % 97) == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    seeds = emb.filter(F.col("vec_id") < 16)
    path = str(tmp_path / "idx")
    sim.ivf_pq_index_create(
        emb.filter(F.col("vec_id") % 2 == 0), path, cent, seeds, dim=64
    )
    sim.ivf_pq_index_append(emb.filter(F.col("vec_id") % 2 == 1), path, dim=64)
    queries = emb.filter(F.col("vec_id") < 10)

    def topk():
        return sorted(
            map(tuple, sim.ivf_pq_index_query(queries, path, dim=64).collect())
        )

    before = topk()
    doomed = sorted({nid for _, nid, _, _ in before})[:3]
    sim.ivf_pq_index_delete(
        emb.filter(F.col("vec_id").isin(doomed)), path
    )
    after = topk()
    assert after != before
    assert not {nid for _, nid, _, _ in after} & set(doomed)
    # every query still gets its full k (pre-filter semantics: deleted
    # rows freed their slots to the next-best neighbors)
    from collections import Counter

    assert Counter(q for q, *_ in after) == Counter(q for q, *_ in before)

    # compaction: physically drops the rows, clears tombstones, answers
    # identically
    n_before = spark.read.parquet(f"{path}/codes").count()
    done = sim.ivf_pq_index_compact(spark, path, min_files=2)
    assert done >= 1
    assert not os.path.isdir(f"{path}/tombstones")
    assert spark.read.parquet(f"{path}/codes").count() == n_before - len(doomed)
    assert topk() == after

    # deleting an id that is not in the index writes no tombstones
    ghost = spark.createDataFrame([(10**9,)], "vec_id long")
    sim.ivf_pq_index_delete(ghost, path)
    assert sim.ivf_pq_index_query(queries, path, dim=64).count() == len(after)


def test_pipe8_decontam_training_order_composition(spark):
    """pipe8 == pipe7 over the q11-released corpus: no contaminated doc
    ever appears in the manifest, and the manifest equals training_order
    run over the manually gated corpus (same targets/budget/salt)."""
    from mrf_etl_spark.operators.sampling import training_order
    from mrf_etl_spark.plans.parity import REGISTRY
    import mrf_etl_spark.plans.parity_fused  # noqa: F401
    from mrf_etl_spark.plans.parity_llm import SP23_TARGETS

    sf = "/root/testdata/sf0.001"
    q11 = REGISTRY["q11_dual_gate_decontam"].spark_fn(spark, sf).collect()
    released = {r.doc_id for r in q11 if r.released}
    contaminated = {r.doc_id for r in q11 if not r.released}

    df = REGISTRY["pipe8_decontam_training_order"].spark_fn(spark, sf)
    got = sorted(map(tuple, df.collect()))
    release_state()
    ids = {t[0] for t in got}
    assert ids and ids <= released
    assert not ids & contaminated

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    gated = docs.filter(docs.doc_id.isin(list(released)))
    want = sorted(
        map(
            tuple,
            training_order(
                gated, SP23_TARGETS, None, "source", "text",
                "doc_id", salt="order",
            ).collect(),
        )
    )
    assert got == want


def test_repeat_ladder_catches_what_d7_misses(spark):
    """d16/d17 vs d7 on a planted repeat: docs 1 and 2 share a verbatim
    6-word block at different, stride-misaligned offsets. d7 (win=10,
    stride=5) PROVABLY finds nothing — no 10-word window matches and a
    6-word repeat is below its granularity. The ladder reports the
    floor-power-of-2 length (4, with 3 repeated windows inside the
    block); longest_repeat resolves the exact length 6."""
    from mrf_etl_spark.operators.textops import (
        longest_repeat,
        repeat_ladder,
        repeated_passages,
    )

    blk = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, "one two three " + blk + " tail1 tail2 tail3 tail4"),
        (2, "x1 " + blk + " y1 y2 y3 y4 y5 y6 y7"),
        (3, "totally different words only here nothing shared at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert repeated_passages(docs, win=10, stride=5).count() == 0
    lad = sorted(
        (r.doc_id, r.max_rep_len, r.n_rep_spans)
        for r in repeat_ladder(docs).collect()
    )
    assert lad == [(1, 4, 3), (2, 4, 3)]
    lr = longest_repeat(docs)
    got = [(r.rep_len, r.n_docs, r.min_doc, r.max_doc) for r in lr.collect()]
    release_state()
    assert got == [(6, 2, 1, 2)]

    # no cross-doc repeat at all -> shape-stable empty result
    solo = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "p q r s t u v w")],
        "doc_id long, text string",
    )
    lr2 = longest_repeat(solo)
    assert lr2.count() == 0
    release_state()
    assert repeat_ladder(solo).count() == 0


def test_sp24_tokenizer_aware_packing(spark):
    """sp24 packs by BPE tokens, not whitespace words: per-sequence
    total_tokens equals the BPE fertility counts rolled through sp6's
    exact packing recipe, and the grand total equals the corpus BPE
    token count (every doc packed exactly once)."""
    from mrf_etl_spark.operators.textops import bpe_encode_fertility
    from mrf_etl_spark.plans.parity import REGISTRY
    import mrf_etl_spark.plans.parity_fused  # noqa: F401
    from mrf_etl_spark.plans.parity_llm import T23_MERGES

    sf = "/root/testdata/sf0.001"
    packed = REGISTRY["sp24_bpe_sequence_pack"].spark_fn(spark, sf).collect()
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    fert = bpe_encode_fertility(docs, "text", "doc_id", n_merges=T23_MERGES)
    total_bpe = fert.groupBy().sum("n_tokens").collect()[0][0]
    assert sum(r.total_tokens for r in packed) == total_bpe
    assert sum(r.n_docs for r in packed) == docs.count()
    # sequences within a shard are contiguous 0..k
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in packed:
        by_shard[r.shard_id].append(r.seq_id)
    for sid, seqs in by_shard.items():
        assert sorted(seqs) == list(range(len(seqs)))


def test_sp25_dedup_aware_mixture_discounts_duplicates(spark):
    """sp25 hand case: domain A is one doc duplicated as a near-dup pair
    (cluster size 2 -> each contributes half mass), domain B a unique
    doc. With equal targets, A's effective tokens are HALF its raw
    tokens, so its rate_bp is double what the raw solver would assign —
    the unique content gets the repetition the share implies."""
    from mrf_etl_spark.operators.dedup import ngram_jaccard_pairs, soft_dedup_weights
    from mrf_etl_spark.operators.sampling import weighted_mixture_solver

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    rows = [
        (1, base, "A"),
        (2, base + " tail", "A"),  # near-dup of doc 1
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", "B"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.5).select(
        "doc_a", "doc_b"
    )
    w = soft_dedup_weights(docs.select("doc_id"), pairs, "doc_id")
    out = {
        r.domain: (r.eff_tokens_bp, r.target_bp, r.rate_bp, r.planned_tokens)
        for r in weighted_mixture_solver(
            docs, w, {"A": 5000, "B": 5000}, 100, "source", "text", "doc_id"
        ).collect()
    }
    release_state()
    # A: 10 + 11 raw tokens, each at 1/2 -> (10*10000 + 11*10000) div 2
    assert out["A"][0] == (10 * 10000) // 2 + (11 * 10000) // 2
    # B: 10 tokens, singleton weight 1
    assert out["B"][0] == 10 * 10000
    # planned = 50 tokens each; rate in the 1e8 basis
    assert out["A"][2] == 50 * 100000000 // out["A"][0]
    assert out["B"][2] == 50 * 100000000 // out["B"][0]
    # the discount doubles A's rate relative to the RAW solver (which
    # sees 21 tokens of supply where only ~10.5 are unique)
    from mrf_etl_spark.operators.sampling import mixture_solver

    raw = {
        r.domain: r.rate_bp
        for r in mixture_solver(
            docs, {"A": 5000, "B": 5000}, 100, "source", "text"
        ).collect()
    }
    # both rates are in basis points (sp25's 1e8 scaling cancels the
    # eff_tokens_bp 1e4 scaling): 47619 vs 23809 bp
    assert 1.9 < out["A"][2] / raw["A"] < 2.2
    # floor keeps realized <= planned in token units (planned = 50)
    assert out["A"][3] <= 50 * 10000 and out["B"][3] <= 50 * 10000


def test_audio_near_dup_real_wav_and_fake_paths(spark, tmp_path):
    """m7: the REAL path decodes stdlib WAVs — two clips with the same
    energy envelope at different amplitudes pair at hamming 0 (level
    invariance of the mean compare), a different-envelope clip doesn't;
    the fake path pairs a byte-identical copy at hamming 0 and a
    localized corruption within the threshold."""
    import math
    import io
    import wave

    from mrf_etl_spark.operators.multimodal import (
        audio_energy_bits,
        audio_near_dup,
    )

    def wav_bytes(samples):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            import struct

            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        return buf.getvalue()

    n = 6400
    # envelope: loud first half, quiet second half
    loud = [
        int(10000 * math.sin(i / 5.0)) if i < n // 2 else int(500 * math.sin(i / 5.0))
        for i in range(n)
    ]
    relevel = [s // 2 for s in loud]  # same shape, half amplitude
    other = [
        int(500 * math.sin(i / 5.0)) if i < n // 2 else int(10000 * math.sin(i / 5.0))
        for i in range(n)
    ]
    rows = [(1, wav_bytes(loud)), (2, wav_bytes(relevel)), (3, wav_bytes(other))]
    mm = spark.createDataFrame(rows, "doc_id long, payload binary")
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in audio_near_dup(mm, fake=False, max_hamming=10).collect()
    }
    assert pairs.get((1, 2)) == 0      # re-leveled copy: identical envelope
    assert (1, 3) not in pairs and (2, 3) not in pairs

    # integer kernel sanity: level scaling cannot flip a strict bit
    hi1, lo1 = audio_energy_bits(loud)
    hi2, lo2 = audio_energy_bits(relevel)
    assert (hi1, lo1) == (hi2, lo2)

    # fake path: byte-identical copy at hamming 0
    docs = spark.createDataFrame(
        [(1, "abcdefgh" * 32), (2, "abcdefgh" * 32)],
        "doc_id long, text string",
    )
    from mrf_etl_spark.operators.multimodal import attach_binary_payload

    out = {
        (r.doc_a, r.doc_b): r.hamming
        for r in audio_near_dup(
            attach_binary_payload(docs, "text", "doc_id"), fake=True
        ).collect()
    }
    assert out.get((1, 2)) == 0


def test_ivfpq_reembed_lifecycle(spark, tmp_path):
    """n13: after delete -> compact -> append of new vectors for the
    same ids, queries see the NEW vectors (a query re-embedded toward a
    known direction surfaces different neighbors), the index has no
    tombstones, and row count is unchanged (update, not grow)."""
    from pyspark.sql import functions as F

    from mrf_etl_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = emb.filter((F.col("vec_id") % 97) == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    seeds = emb.filter(F.col("vec_id") < 16)
    path = str(tmp_path / "idx")
    sim.ivf_pq_index_create(emb, path, cent, seeds, dim=64)
    queries = emb.filter(F.col("vec_id") < 5)
    before = sorted(
        map(tuple, sim.ivf_pq_index_query(queries, path, dim=64).collect())
    )
    n0 = spark.read.parquet(f"{path}/codes").count()

    stale = emb.filter(F.col("vec_id") % 31 == 17)
    assert stale.count() > 0
    sim.ivf_pq_index_delete(stale, path)
    sim.ivf_pq_index_compact(spark, path, min_files=2)
    sim.ivf_pq_index_append(
        stale.select("vec_id", F.reverse("embedding").alias("embedding")),
        path, dim=64,
    )
    import os

    assert not os.path.isdir(f"{path}/tombstones")
    assert spark.read.parquet(f"{path}/codes").count() == n0
    after = sorted(
        map(tuple, sim.ivf_pq_index_query(queries, path, dim=64).collect())
    )
    # equals n7's one-shot cascade over the swapped corpus
    swapped = emb.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 31 == 17, F.reverse("embedding")
        ).otherwise(F.col("embedding")).alias("embedding"),
    )
    oneshot = sorted(
        map(
            tuple,
            sim.ivf_pq_topk(
                swapped, dim=64, centroid_mod=97, nprobe=2,
                query_filter=F.col("vec_id") < 5,
            ).collect(),
        )
    )
    # NOTE: ivf_pq_topk trains codebooks from ITS input (the swapped
    # corpus) — seeds are ids < 16 and centroids % 97 == 0, none of
    # which are re-embedded (% 31 == 17 starts at 17), so the frozen
    # codebooks coincide and the comparison is exact
    assert after == oneshot
    assert after != before


def test_deflated_directions_hand_case_and_orthogonality(spark):
    """e13 on a corpus with a dominant +/-x axis and a secondary +/-y
    axis: component 1 converges to x, component 2 (after integer
    deflation) to y; the exact integer deflation is orthogonal to v1
    BEFORE requantize (x'.v1 == 0 identically)."""
    from mrf_etl_spark.operators.similarity import deflated_directions

    rows = [
        (0, [4.0, 1.0, 0.0, 0.0]),
        (1, [-4.0, 1.0, 0.0, 0.0]),
        (2, [4.0, -1.0, 0.0, 0.0]),
        (3, [-4.0, -1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        (r.comp, r.i): r.v
        for r in deflated_directions(emb, dim=4, iters=2).collect()
    }
    c1 = [out[(1, i)] for i in range(4)]
    c2 = [out[(2, i)] for i in range(4)]
    assert abs(c1[0]) == 127 and abs(c1[1]) <= 2      # x dominates comp 1
    assert abs(c2[1]) == 127 and abs(c2[0]) <= 2      # y dominates comp 2

    # exact-arithmetic orthogonality of the deflation identity
    x, v1 = [9, 5, -3, 1], [127, 1, 0, 0]
    n1 = sum(v * v for v in v1)
    dv = sum(a * b for a, b in zip(x, v1))
    xp = [a * n1 - dv * b for a, b in zip(x, v1)]
    assert sum(a * b for a, b in zip(xp, v1)) == 0


def test_sp26_perplexity_curriculum_band_monotone(spark):
    """sp26: curriculum positions are a dense 0..n-1 permutation, bands
    are block-monotone (every head doc precedes every middle doc
    precedes every tail doc), and the band assignment matches t25's
    buckets exactly."""
    from mrf_etl_spark.plans.parity import REGISTRY
    import mrf_etl_spark.plans.parity_fused  # noqa: F401

    sf = "/root/testdata/sf0.001"
    out = REGISTRY["sp26_perplexity_curriculum"].spark_fn(spark, sf)
    rows = out.collect()
    # drop the t25 slim-frame persist: a leaked cache entry
    # changes how LATER tests' identical subtrees print (the t25
    # exchange-budget pin failed order-dependently on exactly this)
    release_state()
    n = len(rows)
    assert sorted(r.curriculum_pos for r in rows) == list(range(n))
    by_pos = sorted(rows, key=lambda r: r.curriculum_pos)
    bands = [r.band for r in by_pos]
    assert bands == sorted(bands)  # block-monotone easy -> hard
    buckets = {
        r.doc_id: r.bucket
        for r in REGISTRY["t25_perplexity_buckets"].spark_fn(spark, sf).collect()
    }
    want = {"head": 0, "middle": 1, "tail": 2}
    for r in rows:
        assert r.band == want[buckets[r.doc_id]]


def test_exact_repeat_lengths_pins_planted_six(spark):
    """d18 closes the planted case exactly: the shared 6-word block
    reports max_rep_len 6 PER DOC (d16's ladder said 4, d17's global
    said 6), with exactly one repeated 6-span each; its internal
    consistency: for every doc, d18's exact length is >= d16's ladder
    floor and < 2x the ladder floor (the 2-approx guarantee)."""
    from mrf_etl_spark.operators.textops import (
        exact_repeat_lengths,
        repeat_ladder,
    )

    blk = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, "one two three " + blk + " tail1 tail2 tail3 tail4"),
        (2, "x1 " + blk + " y1 y2 y3 y4 y5 y6 y7"),
        (3, "totally different words only here nothing shared at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.max_rep_len, r.n_rep_spans)
        for r in exact_repeat_lengths(docs).collect()
    )
    assert got == [(1, 6, 1), (2, 6, 1)]

    big = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {r.doc_id: r.max_rep_len for r in exact_repeat_lengths(big).collect()}
    ladder = {r.doc_id: r.max_rep_len for r in repeat_ladder(big).collect()}
    assert set(exact) == set(ladder)
    for d, lf in ladder.items():
        assert lf <= exact[d] < 2 * lf


def test_screened_repeat_lengths_equals_full_exact(spark):
    """d19's screen is result-invisible: on the planted case it returns
    d18's rows exactly (doc 3 never enters the exact fan-out — the
    point of the screen), and on real corpus data the screened and
    full outputs are row-for-row identical including span counts."""
    from mrf_etl_spark.operators.textops import (
        exact_repeat_lengths,
        screened_repeat_lengths,
    )

    blk = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, "one two three " + blk + " tail1 tail2 tail3 tail4"),
        (2, "x1 " + blk + " y1 y2 y3 y4 y5 y6 y7"),
        (3, "totally different words only here nothing shared at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.max_rep_len, r.n_rep_spans)
        for r in screened_repeat_lengths(docs).collect()
    )
    assert got == [(1, 6, 1), (2, 6, 1)]

    big = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = sorted(
        (r.doc_id, r.max_rep_len, r.n_rep_spans)
        for r in exact_repeat_lengths(big).collect()
    )
    screened = sorted(
        (r.doc_id, r.max_rep_len, r.n_rep_spans)
        for r in screened_repeat_lengths(big).collect()
    )
    assert screened == full


def test_trim_repeats_planted_block_hand_computable(spark):
    """d20's rewrite on a hand-computable planted case: docs 1 and 2
    share a 6-word block (case-insensitively); doc 1 (min doc_id) is
    the canonical carrier and keeps everything, doc 2 loses exactly
    the 6 covered positions with its original-case neighbors intact,
    doc 3 round-trips untouched."""
    from mrf_etl_spark.operators.textops import trim_repeats

    blk = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, "one two three " + blk + " tail1 tail2 tail3 tail4"),
        (2, "X1 " + blk.upper() + " y1 y2 y3 y4 y5 y6 y7"),
        (3, "totally different words only here nothing shared at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in trim_repeats(docs, min_len=4).collect()
    }
    assert got[1] == ("one two three " + blk + " tail1 tail2 tail3 tail4", 13, 0)
    assert got[2] == ("X1 y1 y2 y3 y4 y5 y6 y7", 14, 6)
    assert got[3] == (rows[2][1], 9, 0)


def test_trim_repeats_accounting_and_screen_consistency(spark):
    """On real corpus data: token accounting is exact
    (n_tokens == kept words + n_removed, clean_text word count ==
    n_tokens - n_removed), every doc rows through, and docs the ladder
    never flags are byte-identical to their whitespace-normalized
    input."""
    from pyspark.sql import functions as F

    from mrf_etl_spark.operators.textops import trim_repeats

    big = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = trim_repeats(big, min_len=8).cache()
    assert out.count() == big.count()
    bad = out.filter(
        F.size(F.split(F.col("clean_text"), r"\s+"))
        - F.when(F.col("clean_text") == "", 1).otherwise(0)
        != F.col("n_tokens") - F.col("n_removed")
    )
    assert bad.count() == 0
    untouched = (
        out.filter(F.col("n_removed") == 0)
        .join(big, "doc_id")
        .filter(
            F.col("clean_text")
            != F.array_join(F.split(F.trim(F.col("text")), r"\s+"), " ")
        )
    )
    assert untouched.count() == 0
    out.unpersist()


def test_pipe9_equals_manual_stage_composition(spark):
    """pipe9 is exactly trim → t2 gate → min-id exact dedup → scrub →
    split composed lazily: rebuild it stage by stage from the public
    operators on corpus data and require row-for-row equality,
    including the n_removed accounting."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mrf_etl_spark.operators import sampling as sp
    from mrf_etl_spark.operators import textops as tx
    from mrf_etl_spark.plans.parity import REGISTRY
    import mrf_etl_spark.plans.parity_llm  # noqa: F401

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r.doc_id, r.split, r.content_hash, r.n_removed)
        for r in REGISTRY["pipe9_trimmed_prep"]
        .spark_fn(spark, sf)
        .collect()
    )
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    trimmed = tx.trim_repeats(docs, min_len=8).select(
        "doc_id", F.col("clean_text").alias("text"), "n_removed"
    )
    gated = trimmed.filter(tx.quality_score("text") >= 0.75)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dedup = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    want = sorted(
        (r.doc_id, r.split, r.content_hash, r.n_removed)
        for r in sp.assign_split(
            dedup, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
        )
        .select(
            "doc_id",
            "split",
            F.md5(tx.pii_scrub("text")).alias("content_hash"),
            "n_removed",
        )
        .collect()
    )
    assert got == want and len(got) > 0


def test_zipf_fit_hand_case(spark):
    """t26 on a hand corpus with frequencies 8/4/2/1 (one word each):
    ranks 1..4 -> x = flog2(rank) = 0,1,1,2; y = flog2(f) = 3,2,1,0;
    n=4 sx=4 sxx=6 sy=6 sxy=3 -> slope = (4*3-4*6)/(4*6-16) = -1.5.
    A one-word domain has zero x-variance -> NULL slope, FALSE flag."""
    from mrf_etl_spark.operators.textops import zipf_fit

    rows = [
        (1, "a a a a a a a a b b b b c c d", "d1"),
        (2, "x", "d2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.domain: r for r in zipf_fit(docs).collect()}
    r1 = out["d1"]
    assert (r1.n_types, r1.n_tokens) == (4, 15)
    assert r1.zipf_slope == -1.5
    assert r1.is_zipfian is False  # |-1.5 + 1| = 0.5 > 1/4
    r2 = out["d2"]
    assert (r2.n_types, r2.n_tokens, r2.zipf_slope, r2.is_zipfian) == (
        1, 1, None, False,
    )
    # widened tolerance flips the verdict for the same corpus
    out2 = {r.domain: r for r in zipf_fit(docs, tol_quarters=2).collect()}
    assert out2["d1"].is_zipfian is True


def test_vocab_growth_hand_case_and_partition_invariance(spark):
    """t27 on a hand corpus: token stream in doc_id order is
    'a b a c | b d | e' (7 tokens) -> vocab after 2 tokens = 2, after
    4 = 3, after 8 = 5 (everything). Non-contiguous doc ids exercise
    the monotone range-bucket offsets; 1 vs 8 input partitions must be
    bit-identical (the two-level prefix sum is order-independent)."""
    from mrf_etl_spark.operators.textops import vocab_growth

    rows = [(10, "a b a c"), (500, "b d"), (501, "e")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = [(1, 2, 2), (2, 4, 3), (3, 8, 5)]
    got = [
        (r.j, r.t_tokens, r.vocab_size)
        for r in vocab_growth(docs).orderBy("j").collect()
    ]
    assert got == want
    got8 = [
        (r.j, r.t_tokens, r.vocab_size)
        for r in vocab_growth(docs.repartition(8)).orderBy("j").collect()
    ]
    assert got8 == want


def test_dim_permutation_hand_case(spark):
    """n15 prep on a 4-dim / 2-block corpus with variance ranks
    d3 > d1 > d2 > d0: serpentine deals rank 0 -> block0, rank 1 ->
    block1, then reverses (rank 2 -> block1, rank 3 -> block0), so
    block0 = {d3, d0} (richest + poorest) and block1 = {d1, d2} —
    the balanced allocation. permute_embedding applies (j, orig)
    literally: output position j holds input dim orig."""
    from mrf_etl_spark.operators.similarity import (
        dim_permutation,
        permute_embedding,
    )

    rows = [
        (0, [1.0, 4.0, 2.0, 8.0]),
        (1, [-1.0, -4.0, -2.0, -8.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    perm = dim_permutation(emb, dim=4, n_blocks=2)
    got = sorted((r.j, r.orig) for r in perm.collect())
    assert got == [(0, 3), (1, 0), (2, 1), (3, 2)]
    out = {
        r.vec_id: r.embedding
        for r in permute_embedding(emb, perm).collect()
    }
    assert out[0] == [8.0, 1.0, 4.0, 2.0]


def test_n15_dimperm_recall_two_sided(spark):
    """The honest n15 geometry finding, pinned from both sides (the n14
    discipline): on a variance-SKEWED corpus (8 hot dims that the
    unpermuted layout packs into one sub-quantizer) the balanced
    permutation spreads them one per block and recall@5 improves
    decisively (measured 0.92 -> 1.00); on the suite's near-isotropic
    fixture the permutation is recall-neutral-to-slightly-below
    (measured 0.64 vs n5's 0.72) because ~equal variances make the
    allocation arbitrary — the lever pays exactly when dimensions are
    anisotropic, which real embedding models are and uniform synthetic
    fixtures are not."""
    import numpy as np
    from pyspark.sql.window import Window

    from mrf_etl_spark.operators.similarity import (
        dim_permutation,
        dot_fold,
        norm_fold,
        permute_embedding,
        pq_adc_topk,
    )

    def exact_top5(e):
        q = e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        c = e.select(
            F.col("vec_id").alias("nid"), F.col("embedding").alias("cv")
        )
        d = (
            q.crossJoin(c)
            .filter(F.col("qid") != F.col("nid"))
            .withColumn(
                "cos", dot_fold("qv", "cv") / (norm_fold("qv") * norm_fold("cv"))
            )
        )
        w = Window.partitionBy("qid").orderBy(
            F.col("cos").desc(), F.col("nid").asc()
        )
        return {
            (r.qid, r.nid)
            for r in d.withColumn("rk", F.row_number().over(w))
            .filter("rk <= 5")
            .collect()
        }

    def recall(e):
        gt = exact_top5(e)
        plain = {
            (r.query_id, r.neighbor_id)
            for r in pq_adc_topk(
                e, dim=64, n_blocks=8,
                query_filter=F.col("vec_id") < 10, n_candidates=50, k=5,
            ).collect()
        }
        permuted = permute_embedding(e, dim_permutation(e))
        balanced = {
            (r.query_id, r.neighbor_id)
            for r in pq_adc_topk(
                permuted, dim=64, n_blocks=8,
                query_filter=F.col("vec_id") < 10, n_candidates=50, k=5,
            ).collect()
        }
        return len(plain & gt) / len(gt), len(balanced & gt) / len(gt)

    # skewed corpus: dims 0-7 carry ~100x the per-dim sigma
    rng = np.random.RandomState(7)
    X = rng.randn(400, 64) * 0.1
    X[:, :8] += rng.randn(400, 8) * 10.0
    skew = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    r_plain, r_bal = recall(skew)
    assert r_bal > r_plain, (r_plain, r_bal)
    assert r_bal >= 0.98 and r_plain <= 0.94, (r_plain, r_bal)
    # hot dims land one per block under the serpentine deal
    pm = {
        r.orig: r.j for r in dim_permutation(skew).collect()
    }
    assert sorted(pm[i] // 8 for i in range(8)) == list(range(8))

    # isotropic fixture: neutral-to-slightly-below, never a collapse
    fix = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    f_plain, f_bal = recall(fix)
    assert f_bal <= f_plain, (f_plain, f_bal)
    assert f_bal >= 0.5, (f_plain, f_bal)


def test_repetition_schedule_hand_cases(spark):
    """sp27 on hand supplies A=100, B=100, C=1000 (targets 40/40/20%):

    budget 2000: asks 800/800/400; A and B clamp at cap 4x100=400, the
    1600 excess water-fills entirely onto C (the only headroom domain)
    -> final 400/400/1200, epochs 4.0/4.0/1.2, nothing unallocated.

    budget 10000: asks 4000/4000/2000; round 1 clamps A and B and fills
    C to 9200, round 2 clamps C at its own cap 4000 with NO headroom
    left -> 5200 tokens reported unallocated, never silently spent.
    """
    from mrf_etl_spark.operators.sampling import repetition_schedule

    rows = [
        (1, " ".join(["w"] * 100), "A"),
        (2, " ".join(["w"] * 100), "B"),
        (3, " ".join(["w"] * 1000), "C"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    targets = {"A": 4000, "B": 4000, "C": 2000}

    out = {
        r.domain: r
        for r in repetition_schedule(docs, targets, budget_tokens=2000).collect()
    }
    assert (out["A"].alloc_tokens, out["A"].epochs_milli, out["A"].capped) == (
        400, 4000, True,
    )
    assert (out["C"].alloc_tokens, out["C"].epochs_milli, out["C"].capped) == (
        1200, 1200, False,
    )
    assert out["A"].unalloc_tokens == 0

    out = {
        r.domain: r
        for r in repetition_schedule(docs, targets, budget_tokens=10000).collect()
    }
    assert out["A"].alloc_tokens == 400 and out["B"].alloc_tokens == 400
    assert (out["C"].alloc_tokens, out["C"].capped) == (4000, True)
    assert out["C"].unalloc_tokens == 5200


def test_pipe10_equals_manual_stage_composition(spark):
    """pipe10 is exactly sp27's schedule rendered as rates and fed
    through pipe7's tail: composing repetition_schedule -> rate_bp ->
    _rates_to_order by hand must reproduce the registered plan
    row-for-row, and no doc may appear more than max_data_epochs + 1
    times (the ceiling clamp reaches the copy explode)."""
    from mrf_etl_spark.operators.sampling import (
        _rates_to_order,
        capped_training_order,
        repetition_schedule,
    )
    from mrf_etl_spark.plans.parity import t as _t

    sf = "/root/testdata/sf0.001"
    docs = _t(spark, sf, "documents")
    targets = {"src0": 5000}
    got = (
        capped_training_order(docs, targets, None, default_bp=263)
        .orderBy("order_pos")
        .collect()
    )
    sched = repetition_schedule(docs, targets, None, default_bp=263)
    rates = sched.selectExpr(
        "domain",
        "CASE WHEN tokens > 0 THEN alloc_tokens * 10000 div tokens "
        "ELSE CAST(0 AS BIGINT) END AS rate_bp",
    )
    want = (
        _rates_to_order(docs, rates, "source", "doc_id", "capped-order", 1 << 20)
        .orderBy("order_pos")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0
    from collections import Counter

    copies = Counter(r.doc_id for r in got)
    assert max(copies.values()) <= 5  # 4 data epochs + the partial copy


def test_rp_sign_matrix_is_md5_parity_function(spark):
    """n16's projection matrix must be the pure md5-parity function of
    (salt, j, i) the oracle regenerates — cross-check a handful of
    cells against hashlib directly."""
    import hashlib

    from mrf_etl_spark.operators.similarity import rp_sign_matrix

    got = {
        r.j: list(r.svec) for r in rp_sign_matrix(spark, dim=8, k=3).collect()
    }
    for j in range(3):
        for i in range(8):
            h = hashlib.md5(f"rp|{j}|{i}".encode()).hexdigest()
            want = 1 if int(h[0], 16) % 2 == 0 else -1
            assert got[j][i] == want, (j, i)


def test_n16_rp_recall_band_and_monotone_width(spark):
    """The honest n16 finding on the near-isotropic fixture (JL's worst
    case: random vectors, tiny cosine gaps): recall@5 at a 10%
    candidate budget lands ~0.44 with 16 sign components — BELOW the
    trained PQ tier's 0.72 (that is the zero-prep trade) — and rises
    monotonically with sketch width (measured 0.44 / 0.50 / 0.64 at
    16/32/48), exactly as the JL lemma predicts. Pinned as a band plus
    the monotonicity, not a point."""
    from pyspark.sql.window import Window

    from mrf_etl_spark.operators.similarity import (
        ann_rp_topk,
        dot_fold,
        norm_fold,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("cv"))
    d = (
        q.crossJoin(c)
        .filter(F.col("qid") != F.col("nid"))
        .withColumn(
            "cos", dot_fold("qv", "cv") / (norm_fold("qv") * norm_fold("cv"))
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    gt = {
        (r.qid, r.nid)
        for r in d.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 5")
        .collect()
    }

    def recall(kp):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ann_rp_topk(
                emb, k_proj=kp, query_filter=F.col("vec_id") < 10
            ).collect()
        }
        return len(got & gt) / len(gt)

    r16, r48 = recall(16), recall(48)
    assert 0.3 <= r16 <= 0.6, r16
    assert r48 >= r16, (r16, r48)


def test_shot_boundaries_hand_case(spark):
    """m8 on hand payloads: 64 'a' bytes then 64 'z' bytes = two
    pseudo-frames with byte sums 64*97=6208 and 64*122=7808 -> delta
    1600 > tau 128 -> 2 shots. A homogeneous 128-byte doc keeps one
    shot; a short (< frame) doc is one frame, one shot, delta 0."""
    from mrf_etl_spark.operators.multimodal import (
        attach_binary_payload,
        shot_boundaries,
    )

    rows = [
        (1, "a" * 64 + "z" * 64),
        (2, "m" * 128),
        (3, "hi"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    mm = attach_binary_payload(docs, "text", "doc_id")
    out = {
        r.doc_id: r
        for r in shot_boundaries(mm, frame_size=64, tau=128).collect()
    }
    assert (out[1].n_frames, out[1].n_shots, out[1].max_delta) == (2, 2, 1600)
    assert (out[2].n_frames, out[2].n_shots, out[2].max_delta) == (2, 1, 0)
    assert (out[3].n_frames, out[3].n_shots, out[3].max_delta) == (1, 1, 0)


def test_eval_span_excision_hand_case(spark):
    """d21 on planted contamination: eval docs (id % 101 == 0) hold
    'x y z' and the sub-k doc 'q'. A corpus doc carrying the leaked
    trigram loses exactly those three positions (case-insensitive
    match, original case kept); a whole-doc sub-k match empties the
    doc; clean docs round-trip untouched with n_removed = 0."""
    from mrf_etl_spark.operators.textops import eval_span_excision

    rows = [
        (0, "x y z"),           # eval
        (202, "q"),             # eval (sub-k)
        (1, "a b X Y Z c"),     # corpus: hit at positions 3-5
        (2, "p q r"),           # corpus: clean ('q' alone is sub-k only)
        (3, "x y"),             # corpus: sub-k, whole text not in universe
        (4, "q"),               # corpus: whole-doc sub-k hit
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in eval_span_excision(
            docs, F.col("doc_id") % 101 == 0, "text", "doc_id", k=3
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert (out[1].clean_text, out[1].n_removed, out[1].n_hits) == ("a b c", 3, 1)
    assert (out[2].clean_text, out[2].n_removed, out[2].n_hits) == ("p q r", 0, 0)
    assert (out[3].clean_text, out[3].n_removed) == ("x y", 0)
    assert (out[4].clean_text, out[4].n_tokens, out[4].n_removed) == ("", 1, 1)


def test_pipe11_equals_manual_stage_composition(spark):
    """pipe11 is exactly d21's excision fed through pipe9's prep tail:
    composing eval_span_excision -> quality gate -> md5-window dedup ->
    split by hand must reproduce the registered plan row-for-row."""
    from pyspark.sql.window import Window

    from mrf_etl_spark.operators import sampling as sp
    from mrf_etl_spark.operators import textops as tx
    from mrf_etl_spark.plans.parity import REGISTRY, t as _t

    sf = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r)
        for r in REGISTRY["pipe11_excised_prep"].spark_fn(spark, sf).collect()
    )
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    ex = tx.eval_span_excision(
        docs, F.col("doc_id") % 101 == 0, "text", "doc_id", k=3
    ).select(
        "doc_id", F.col("clean_text").alias("text"), "n_removed", "n_hits"
    )
    gated = ex.filter(tx.quality_score("text") >= 0.75)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dedup = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )
    want = sorted(
        tuple(r)
        for r in sp.assign_split(
            dedup, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
        )
        .select(
            "doc_id", "split",
            F.md5(tx.pii_scrub("text")).alias("content_hash"),
            "n_removed", "n_hits",
        )
        .collect()
    )
    assert got == want and len(got) > 0


def test_new_solver_outputs_partition_invariant(spark):
    """t26's regression and sp27's water-filling are exact integer
    pipelines — their outputs must be bit-identical under any input
    partitioning/arrival order (1 vs 16 shuffled partitions)."""
    from mrf_etl_spark.operators.sampling import repetition_schedule
    from mrf_etl_spark.operators.textops import zipf_fit

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = docs.coalesce(1)
    b = docs.repartition(16)

    za = sorted(tuple(r) for r in zipf_fit(a).collect())
    zb = sorted(tuple(r) for r in zipf_fit(b).collect())
    assert za == zb and len(za) > 0

    targets = {"src0": 5000}
    ra = sorted(
        tuple(r)
        for r in repetition_schedule(a, targets, None, default_bp=263).collect()
    )
    rb = sorted(
        tuple(r)
        for r in repetition_schedule(b, targets, None, default_bp=263).collect()
    )
    assert ra == rb and len(ra) > 0


def test_vocab_burstiness_hand_case(spark):
    """t28 on a hand corpus: word 'b' appears 3 times per containing
    doc across 2 docs (cf=6, df=2 -> cf >= 2*df, bursty); 'a' appears
    once per doc across 3 docs (cf=3, df=3 -> not bursty); 'z' appears
    4 times in ONE doc (df=1 < min_df -> not bursty, corpus-rare)."""
    from mrf_etl_spark.operators.textops import vocab_burstiness

    rows = [
        (1, "a b b b", "d"),
        (2, "a b b b", "d"),
        (3, "a z z z z", "d"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = vocab_burstiness(docs).collect()
    assert len(out) == 1
    r = out[0]
    # types: a, b, z; tokens: 3 + 6 + 4 = 13; bursty: only b (cf 6)
    assert (r.n_types, r.n_bursty_types, r.n_tokens) == (3, 1, 13)
    assert r.bursty_token_milli == 6 * 1000 // 13


def test_audio_energy_bits_np_matches_scalar():
    """m7 r11 optimization pin: the vectorized NumPy energy-bits kernel
    must be bit-identical to the scalar audio_energy_bits on random and
    edge inputs (short clips n<64, exact-64, long, all-zero, constant,
    alternating sign, single sample) — the fingerprint, and hence every
    m7 pair, depends on exact integer frame sums and tie behavior."""
    import random

    import numpy as np

    from mrf_etl_spark.operators.multimodal import (
        audio_energy_bits,
        audio_energy_bits_np,
    )

    rng = random.Random(7)
    cases = [
        [0],
        [5],
        [-5],
        [0] * 64,
        [1] * 64,
        [100, -100] * 32,
        [rng.randint(-32768, 32767) for _ in range(3)],
        [rng.randint(-32768, 32767) for _ in range(63)],
        [rng.randint(-32768, 32767) for _ in range(64)],
        [rng.randint(-32768, 32767) for _ in range(65)],
        [rng.randint(-32768, 32767) for _ in range(1000)],
        [rng.randint(-128, 127) for _ in range(6400)],
    ]
    for s in cases:
        expect = audio_energy_bits(s)
        got = audio_energy_bits_np(np.asarray(s, dtype=np.int64))
        assert got == expect, (len(s), got, expect)


def test_ahash_fake_batch_np_matches_scalar():
    """m5/m6 r12 optimization pin: the batched NumPy fake-path aHash must
    be bit-identical to the scalar path (sample 64 bytes at (i*n)//64,
    threshold at the exact sum/64.0 mean) on random and edge payloads —
    every m5 signature and m6 pair depends on exact sample gathers and
    tie behavior at the mean."""
    import random

    from mrf_etl_spark.operators.multimodal import (
        ahash_fake_batch_np,
        ahash_halves,
    )

    def scalar(payload: bytes):
        n = len(payload)
        return ahash_halves([float(payload[(i * n) // 64]) for i in range(64)])

    rng = random.Random(11)
    payloads = [
        bytes([7]),
        bytes([0]) * 64,
        bytes([255]) * 100,
        bytes(range(64)),
        bytes(range(256)),
        bytes([128, 127] * 32),
    ] + [
        bytes(rng.randrange(256) for _ in range(rng.choice([1, 2, 63, 64, 65, 200, 577, 4096])))
        for _ in range(300)
    ]
    hi, lo = ahash_fake_batch_np(payloads)
    for i, p in enumerate(payloads):
        assert (int(hi[i]), int(lo[i])) == scalar(p), (i, len(p))
    # empty batch keeps its shape
    ehi, elo = ahash_fake_batch_np([])
    assert len(ehi) == 0 and len(elo) == 0


def test_frame_sums_np_matches_scalar():
    """m8 r12 optimization pin: the prefix-sum frame-sum kernel must
    reproduce the scalar loop exactly — one row per frame, empty
    payloads keep their single zero-sum frame, tail frames sum only the
    remaining bytes."""
    import math
    import random

    from mrf_etl_spark.operators.multimodal import frame_sums_np

    def scalar(doc_ids, payloads, frame_size):
        rows = []
        for doc_id, payload in zip(doc_ids, payloads):
            n_frames = max(1, math.ceil(len(payload) / frame_size))
            for i in range(n_frames):
                rows.append(
                    (doc_id, i, sum(payload[i * frame_size : (i + 1) * frame_size]))
                )
        return rows

    rng = random.Random(13)
    for frame_size in (1, 63, 64, 256):
        ids = list(range(200))
        payloads = [
            bytes(
                rng.randrange(256)
                for _ in range(rng.choice([0, 1, frame_size - 1, frame_size, frame_size + 1, 577]))
            )
            for _ in ids
        ]
        d, f, s = frame_sums_np(ids, payloads, frame_size)
        got = list(zip(d.tolist(), f.tolist(), s.tolist()))
        assert got == scalar(ids, payloads, frame_size), frame_size
    d, f, s = frame_sums_np([], [], 64)
    assert len(d) == len(f) == len(s) == 0


def test_longest_repeat_screened_search_matches_bruteforce(spark):
    """d17 r12 optimization pin: the one-job power-of-two screen +
    restricted binary search must resolve exactly max{L : some L-word
    span repeats cross-doc} — same value the full binary search found.
    Planted corpora cover best = 0, best < first level, best at a power
    of two, odd best between levels, and best = max_len."""
    from mrf_etl_spark.operators.textops import longest_repeat

    def mk(n_words: int) -> str:
        return " ".join(f"w{i}" for i in range(n_words))

    cases = [
        # (shared block length, expected rep_len); filler words are unique
        (0, 0),
        (4, 4),   # best == min_len, a screened level
        (5, 5),   # odd, inside (4, 8)
        (8, 8),   # exactly a level
        (13, 13),  # between 8 and 16
        (16, 16),
        (31, 31),  # between 16 and 32
        (40, 32),  # saturates max_len
    ]
    for blk_len, want in cases:
        blk = " ".join(f"s{i}" for i in range(blk_len)) if blk_len else ""
        rows = [
            (1, ("a1 a2 a3 " + blk).strip()),
            (2, (blk + " b1 b2 b3 b4").strip()),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        lr = longest_repeat(docs)
        got = [(r.rep_len, r.n_docs) for r in lr.collect()]
        release_state()
        if want == 0:
            assert got == [], (blk_len, got)
        else:
            assert got and all(r[0] == want for r in got), (blk_len, want, got)


def test_media_near_dup_posting_pairs_match_selfjoin_semantics(spark):
    """m4 r12 optimization pin: posting-list pair generation must emit
    exactly the fh-equality self-join's (doc_a < doc_b) pair set with
    the same n_common — verified against a direct Python computation of
    Jaccard over random distinct frame-hash sets."""
    import itertools
    import random

    from mrf_etl_spark.operators.multimodal import media_near_dup

    rng = random.Random(5)
    hashes = [f"h{i}" for i in range(30)]
    docs = {
        d: set(rng.sample(hashes, rng.randint(1, 12))) for d in range(1, 26)
    }
    rows = [(d, h) for d, hs in docs.items() for h in hs]
    frames = spark.createDataFrame(rows, "doc_id long, frame_md5 string")
    out = media_near_dup(frames, threshold=0.3)
    got = {(r.doc_a, r.doc_b): round(r.jaccard, 9) for r in out.collect()}
    release_state()
    want = {}
    for a, b in itertools.combinations(sorted(docs), 2):
        c = len(docs[a] & docs[b])
        if c:
            j = c / (len(docs[a]) + len(docs[b]) - c)
            if j >= 0.3:
                want[(a, b)] = round(j, 9)
    assert got == want


def test_with_centroid_int8_matches_oracle_argmax(spark):
    """The int8 assignment kernel (driver-side codebook + int64 matmul)
    must pick the same cid as the oracle's own DuckDB argmax — the
    ``a{n}`` CTE of ``parity_llm._e6_iter_ctes`` — on random int8 inputs
    INCLUDING exact score ties (a duplicated centroid, a vector equal to
    it, the zero vector), a zero-norm centroid (NULL score, ranks last),
    an all-zero codebook (lowest cid wins) and an empty codebook (empty
    result). Extra input columns ride through unchanged."""
    import random

    import duckdb

    from mrf_etl_spark.operators.similarity import _with_centroid_int8
    from mrf_etl_spark.plans.parity_llm import _e6_iter_ctes

    rng = random.Random(17)
    dim = 8

    def vec():
        return [rng.randint(-127, 127) for _ in range(dim)]

    base_cents = [(3, vec()), (7, vec()), (1, vec()), (12, [0] * dim)]
    # duplicate centroid vector under two cids -> exact tie, min cid wins
    base_cents.append((9, list(base_cents[0][1])))
    vecs = [(i, vec(), i % 3) for i in range(200)]
    # planted exact-tie rows: a vector EQUAL to a duplicated centroid
    vecs.append((900, list(base_cents[0][1]), 0))
    vecs.append((901, [0] * dim, 1))  # zero vector: all dots 0, tie on cid

    q = spark.createDataFrame(vecs, "vid long, qvec array<int>, tag long")
    con = duckdb.connect()
    con.execute("CREATE TABLE ux (vid BIGINT, i INTEGER, qx BIGINT)")
    con.executemany(
        "INSERT INTO ux VALUES (?, ?, ?)",
        [(v, i, x) for v, qv, _ in vecs for i, x in enumerate(qv)],
    )
    for cents in (base_cents, [(5, [0] * dim), (2, [0] * dim)], []):
        con.execute("CREATE OR REPLACE TABLE c0 (cid BIGINT, i INTEGER, cs INTEGER)")
        if cents:
            con.executemany(
                "INSERT INTO c0 VALUES (?, ?, ?)",
                [(c, i, x) for c, cv in cents for i, x in enumerate(cv)],
            )
        want = dict(
            con.execute(
                f"WITH {_e6_iter_ctes(1, 0)} SELECT vid, cid FROM a1"
            ).fetchall()
        )
        out = _with_centroid_int8(q, cents).collect()
        got = {r.vid: r.cid for r in out}
        assert got == want, (len(cents), {k: (got.get(k), want.get(k)) for k in set(got) ^ set(want) or list(got)[:3]})
        if cents:
            # every input row comes back once, its columns unchanged
            assert sorted((r.vid, list(r.qvec), r.tag) for r in out) == sorted(vecs)
        else:
            assert out == []


def test_driver_requantization_rounds_like_spark(spark):
    """The trainers requantize on the driver; every value must round
    exactly like Spark's ``F.round(x).cast("int")`` (HALF_UP: ties away
    from zero), not half to even like NumPy or the built-in ``round``.
    Planted: ±k.5 ties, the doubles either side of a tie, an
    ``amax == 0`` vector and an exact ±127 ratio; the e6 form is
    checked against :func:`quantize_int8`, Spark's own e1 recipe."""
    from mrf_etl_spark.operators.similarity import (
        _requantize_int8,
        _round_half_up,
        quantize_int8,
    )

    xs = [0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 126.5, -126.5, 0.0, -0.0,
          0.49999999999999994, -0.49999999999999994, 2.5000000000000004,
          2.4999999999999996, 127.0, -127.0]
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    want = {r.i: r.r for r in df.select("i", F.round("x").cast("int").alias("r")).collect()}
    assert {i: _round_half_up(x) for i, x in enumerate(xs)} == want

    # e6: s / (amax / 127.0) with amax = 254 -> exact halves from odd s
    svecs = [
        [254, 1, 3, 5, -1, -5, 253, -253],
        [0, 0, 0, 0, 0, 0, 0, 0],
        [-127, 127, 0, 1, 2, 3, 4, 5],
        [7, 1, 2, 3, 4, 5, 6, -7],
    ]
    emb = spark.createDataFrame(list(enumerate(svecs)), "vec_id int, embedding array<bigint>")
    want = {r.vec_id: list(r.qvec) for r in quantize_int8(emb).collect()}
    assert {i: _requantize_int8(s) for i, s in enumerate(svecs)} == want
