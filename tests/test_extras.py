"""Focused unit tests for the pipeline operators beyond the SQL-parity
harness: LSH recall behavior, multimodal plumbing, IVF probe recall."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pylate_spark.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),          # exact dup of 0
        (2, "alpha beta gamma delta epsilon zeta eta IOTA"),           # near dup of 0
        (3, "completely different words entirely unrelated content"),
        (4, "ALPHA beta GAMMA delta epsilon zeta eta theta!!!"),       # normalizes to dup of 0
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup_groups(dup_docs):
    rows = {r["doc_id"]: r for r in dedup.exact_dedup(dup_docs).collect()}
    assert rows[0]["group_size"] == 3 and rows[0]["keep"]
    assert rows[1]["group_size"] == 3 and not rows[1]["keep"]
    assert rows[4]["group_size"] == 3 and not rows[4]["keep"]
    assert rows[3]["group_size"] == 1 and rows[3]["keep"]


def test_lsh_finds_near_dups(dup_docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(dup_docs, n_hashes=8, band_size=2).collect()
    }
    # exact dups always collide on every band
    assert (0, 1) in pairs and (0, 4) in pairs and (1, 4) in pairs
    # the unrelated doc shares no band with the dup cluster
    assert not any(3 in p for p in pairs)


def test_simhash_near_dup_pairs_exact_vs_all_pairs(spark):
    """The banded pigeonhole candidates + bit_count filter must equal
    the brute-force all-pairs Hamming result exactly (recall 1 by
    pigeonhole: a pair within Hamming ≤ r agrees on ≥1 of r+1 bands)."""
    import pandas as pd

    rows = [(i, f"alpha beta gamma delta w{i % 4} common words here") for i in range(24)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    for r in (0, 2, 5):
        got = {
            (x["doc_a"], x["doc_b"], x["hamming"])
            for x in dedup.simhash_near_dup_pairs(df, max_hamming=r, bits=32).collect()
        }
        sh = {x["doc_id"]: x["simhash"] for x in dedup.simhash(df, bits=32).collect()}
        ids = sorted(sh)
        want = {
            (a, b, bin(sh[a] ^ sh[b]).count("1"))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(sh[a] ^ sh[b]).count("1") <= r
        }
        assert got == want, f"max_hamming={r}"


def test_simhash_near_dup_pairs_bucket_guard(spark):
    """Mega band-buckets (identical docs) are excluded by
    max_bucket_size, like lsh_candidate_pairs."""
    import pandas as pd

    rows = [(i, "identical text every time") for i in range(10)] + [
        (100, "something rather different entirely"),
        (101, "something rather different entirely"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    uncapped = dedup.simhash_near_dup_pairs(df, max_hamming=0)
    assert uncapped.count() == 45 + 1  # C(10,2) + the pair (100, 101)
    capped = dedup.simhash_near_dup_pairs(df, max_hamming=0, max_bucket_size=5)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert got == {(100, 101)}


def test_minhash_signature_values_and_determinism(dup_docs):
    """The shuffle-free array_min(transform(md5)) signatures must equal
    the definitional explode + groupBy(doc_id).min(md5) values, and be
    identical across separately-built plans. Regression for the PySpark
    HOF pitfall where a two-parameter closure (``lambda t, _i=i:``)
    binds the default arg to the array-INDEX lambda variable and hashes
    its auto-generated per-call NAME — wrong values that differ run to
    run (caught only because pair counts jittered at sf0.1)."""
    from pylate_spark.functions.tokenize import native_tokens_col

    got = {
        (r["doc_id"], r["h"]): r["minhash"]
        for r in dedup.minhash_signatures(dup_docs, n_hashes=4).collect()
    }
    again = {
        (r["doc_id"], r["h"]): r["minhash"]
        for r in dedup.minhash_signatures(dup_docs, n_hashes=4).collect()
    }
    assert got == again
    t = dup_docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(native_tokens_col("text"))).alias("term"),
    )
    ref = (
        t.groupBy("doc_id")
        .agg(
            *[
                F.min(F.md5(F.concat(F.col("term"), F.lit(f"#{i}")))).alias(f"mh{i}")
                for i in range(4)
            ]
        )
        .collect()
    )
    expect = {(r["doc_id"], i): r[f"mh{i}"] for r in ref for i in range(4)}
    assert got == expect


def test_dedup_clusters_connected_components(spark):
    """Pairs → duplicate clusters: a chain (transitivity), a clique, a
    vertex-only singleton; cluster_id = min reachable id, keep marks it."""
    import pandas as pd

    pairs = spark.createDataFrame(
        pd.DataFrame(
            # chain 1-2-3-4 (diameter 3, exercises >1 propagation round)
            # + clique {10,11,12}
            [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12)],
            columns=["doc_a", "doc_b"],
        )
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 10, 11, 12, 99]})  # 99 isolated
    )
    rows = {r["doc_id"]: r for r in dedup.dedup_clusters(pairs, docs=docs).collect()}
    assert {d: rows[d]["cluster_id"] for d in sorted(rows)} == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 99: 99
    }
    assert {d for d in rows if rows[d]["keep"]} == {1, 10, 99}

    # max_iter=0 is a documented no-op: identity labels, no raise
    noop = {r["doc_id"]: r["cluster_id"]
            for r in dedup.dedup_clusters(pairs, docs=docs, max_iter=0).collect()}
    assert noop == {d: d for d in [1, 2, 3, 4, 10, 11, 12, 99]}
    # a too-small budget raises and names the actual round count
    with pytest.raises(RuntimeError, match="after 2 rounds"):
        dedup.dedup_clusters(pairs, docs=docs, max_iter=1).collect()


def test_dedup_clusters_releases_edge_cache_when_a_round_raises(spark, monkeypatch):
    """A round that throws mid-propagation must still unpersist the
    cached edge set — the persistent-RDD count is back where it was."""
    import pandas as pd

    pairs = spark.createDataFrame(
        pd.DataFrame([(1, 2), (2, 3), (3, 4)], columns=["doc_a", "doc_b"])
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()

    def failing_round(self, eager=True):
        raise RuntimeError("round failed")

    # every propagation round checkpoints its labels; nothing before the
    # loop does, so this makes the first round raise
    monkeypatch.setattr(type(pairs), "localCheckpoint", failing_round)
    with pytest.raises(RuntimeError, match="round failed"):
        dedup.dedup_clusters(pairs)
    assert jsc.getPersistentRDDs().size() == before


def test_band_join_pins_are_released_after_results_are_dropped(spark):
    """lsh_candidate_pairs and simhash_near_dup_pairs pin their banded
    signatures for the self-join. Called repeatedly on distinct inputs
    with the results dropped, they must leave no persistent RDD behind
    once the driver's garbage is collected."""
    import gc
    import time

    from pylate_spark.sources.synth import synth_pages_pandas

    sc = spark.sparkContext

    def persistent_ids():
        # the registry behind getPersistentRDDs(), read as key text: that
        # call returns a map holding every persisted RDD strongly, which
        # py4j keeps alive until its asynchronous finalizer runs, so
        # polling it would itself pin the RDDs being watched
        keys = sc._jsc.sc().persistentRdds().keySet().mkString(",")
        return {int(i) for i in keys.split(",") if i}

    before = persistent_ids()
    for seed in range(3):
        pdf = synth_pages_pandas(80, seed=100 + seed)[["text"]]
        docs = spark.createDataFrame(pdf.rename_axis("doc_id").reset_index())
        guard = {"max_bucket_size": 40} if seed % 2 else {}
        assert dedup.lsh_candidate_pairs(docs, **guard).collect()
        assert dedup.simhash_near_dup_pairs(docs, **guard).collect()
        del docs
    deadline = time.monotonic() + 90
    while persistent_ids() - before and time.monotonic() < deadline:
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.25)
    assert persistent_ids() - before == set()


def test_simhash_near_dups_are_close(dup_docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(dup_docs).collect()}
    assert sh[0] == sh[1] == sh[4]
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near < ham_far


def test_ngram_jaccard_values(dup_docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(dup_docs, n=3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.Generator(np.random.Philox(key=7, counter=0))
    base = rng.normal(size=(50, 16)).astype(np.float32)
    base[1] = base[0] + 0.01 * rng.normal(size=16).astype(np.float32)  # near-dup of 0
    pdf = pd.DataFrame({"vec_id": range(50), "embedding": [v.tolist() for v in base]})
    return spark.createDataFrame(pdf)


def test_cosine_topk_exact(emb):
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    top = similarity.cosine_topk(emb, q, k=3).orderBy("rank").collect()
    assert top[0]["vec_id"] == 1 and top[0]["cos_sim"] > 0.99


def test_ivf_probe_finds_near_dup(emb):
    """The LSH-bucketed probe must find a near-identical vector (it
    lands in the same bucket with overwhelming probability)."""
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    top = similarity.ivf_topk(emb, q, k=3, n_planes=4, dim=16).orderBy("rank").collect()
    assert top and top[0]["vec_id"] == 1


def test_embedding_near_dup_pairs(emb):
    pairs = similarity.embedding_near_dup_pairs(emb, min_cos=0.95, n_planes=4, dim=16).collect()
    assert any((r["vec_a"], r["vec_b"]) == (0, 1) for r in pairs)


def test_multimodal_meta_and_features(spark):
    rows = [
        (0, b"\x89PNG\r\n\x1a\n" + b"x" * 100),
        (1, b"\xff\xd8\xff\xe0" + b"y" * 50),
        (2, b"<html><body>hi</body></html>"),
        (3, b"RIFF" + b"z" * 20),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "payload"]))
    meta = {r["doc_id"]: r for r in multimodal.binary_meta(df).collect()}
    assert meta[0]["media_type"] == "image/png"
    assert meta[1]["media_type"] == "image/jpeg"
    assert meta[2]["media_type"] == "text/html"
    assert meta[3]["media_type"] == "riff"
    assert meta[0]["n_bytes"] == 108

    feats = {r["doc_id"]: r for r in multimodal.image_features(df).collect()}
    # label honesty: these payloads are NOT decodable images (truncated
    # magic bytes only), so the decoder must report the stub — 'pillow'
    # is only allowed for an actual successful decode
    assert all(r["decoder"] == "stub-histogram" for r in feats.values())
    f = np.asarray(feats[0]["features"])
    assert f.shape == (multimodal.FEATURE_DIM,) and abs(f.sum() - 1.0) < 1e-5
    # deterministic: same payload → same features
    feats2 = {r["doc_id"]: r for r in multimodal.image_features(df).collect()}
    assert feats[1]["features"] == feats2[1]["features"]


def test_image_features_real_decode_when_pillow_present(spark):
    """Gated on Pillow availability: a decodable PNG must be labeled
    'pillow' and produce pixel (not byte-histogram) features."""
    try:
        import io

        from PIL import Image
    except ImportError:
        pytest.skip("Pillow not installed in this environment")
    buf = io.BytesIO()
    Image.new("L", (8, 8), 128).save(buf, "PNG")
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "payload": [buf.getvalue()]}))
    r = multimodal.image_features(df).collect()[0]
    assert r["decoder"] == "pillow"
    assert len(r["features"]) == multimodal.FEATURE_DIM


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "payload": [b"v" * 10000]}))
    rows = multimodal.frame_sample_plan(df, every_n_bytes=4096).collect()
    assert [r["byte_offset"] for r in rows] == [0, 4096]


def test_lsh_bucket_size_guard(spark):
    """The web-scale skew guard: buckets over the cap are excluded from
    the pair join (their members are boilerplate for exact_dedup);
    uncapped semantics unchanged."""
    rows = [(i, "identical boilerplate page text") for i in range(6)]
    rows += [(10, "a unique document about spark"), (11, "a unique document about spark")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    uncapped = dedup.lsh_candidate_pairs(df, n_hashes=4, band_size=2)
    assert uncapped.count() == 15 + 1  # C(6,2) boilerplate + the unique pair
    capped = dedup.lsh_candidate_pairs(df, n_hashes=4, band_size=2, max_bucket_size=3)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert got == {(10, 11)}  # mega-bucket suppressed, small bucket kept


def test_ngram_jaccard_bucket_size_guard(spark):
    """The same mega-bucket guard on the shingle self-join: a shingle
    shared by every doc (boilerplate) is excluded from candidate
    generation AND from the set sizes (Jaccard over the filtered
    shingle space); default None keeps exact full-space semantics."""
    boiler = "all rights reserved copyright"  # one shared 4-token run
    rows = [(i, f"{boiler} unique body {i} {i} {i}") for i in range(8)]
    rows += [(20, "two peas in a pod here"), (21, "two peas in a pod here")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    uncapped = dedup.ngram_jaccard_pairs(df, n=3, min_jaccard=0.01)
    # every boilerplate doc pairs with every other via the shared shingles
    assert uncapped.count() == 28 + 1
    capped = dedup.ngram_jaccard_pairs(df, n=3, min_jaccard=0.01, max_bucket_size=4)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
    # boilerplate shingles suppressed -> only the genuine duplicate pair,
    # at jaccard 1.0 over the filtered shingle space
    assert set(got) == {(20, 21)}
    assert got[(20, 21)] == 1.0


def test_png_decoder_rejects_malformed_ihdr_and_palette():
    """Corrupt PNGs must raise ValueError (featurize's fallback
    contract), not IndexError: an IHDR chunk shorter than 13 bytes, and
    a palette image whose pixel indices exceed the PLTE size."""
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    sig = b"\x89PNG\r\n\x1a\n"
    with pytest.raises(ValueError, match="IHDR"):
        multimodal.decode_image_builtin(sig + chunk(b"IHDR", b"\x00\x01\x02"))
    # 2x2 palette image indexing entry 5 of a 2-entry palette
    idx = np.array([[[0], [1]], [[1], [5]]], np.uint8)
    plte = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    with pytest.raises(ValueError, match="palette index"):
        multimodal.decode_image_builtin(_make_png(idx, 3, [0, 0], plte=plte))


def test_embedding_near_dup_bucket_guard(spark):
    """Same skew guard on the embedding-LSH self-join: a degenerate
    bucket (here 8 identical vectors — bucket² pairs at web scale) is
    excluded when over the cap; small buckets are unaffected; default
    (None) keeps exact semantics."""
    rng = np.random.Generator(np.random.Philox(key=3, counter=0))
    mega = rng.normal(size=16).astype(np.float32)
    other = rng.normal(size=16).astype(np.float32)
    vecs = [mega.tolist()] * 8  # ids 0..7: one degenerate bucket
    vecs += [other.tolist(), (other + 0.001).tolist()]  # ids 8,9: near-dup pair
    pdf = pd.DataFrame({"vec_id": range(10), "embedding": vecs})
    df = spark.createDataFrame(pdf)
    uncapped = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup_pairs(
            df, min_cos=0.99, n_planes=4, dim=16
        ).collect()
    }
    assert (8, 9) in uncapped and (0, 1) in uncapped and len(uncapped) == 28 + 1
    capped = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup_pairs(
            df, min_cos=0.99, n_planes=4, dim=16, max_bucket_size=4
        ).collect()
    }
    assert capped == {(8, 9)}


def _make_bmp(rgb: np.ndarray) -> bytes:
    """Minimal uncompressed 24-bit bottom-up BMP writer (test-only)."""
    import struct

    h_, w_ = rgb.shape[:2]
    stride = (w_ * 3 + 3) & ~3
    rows = b"".join(
        rgb[y][..., ::-1].tobytes() + b"\x00" * (stride - w_ * 3)
        for y in range(h_ - 1, -1, -1)
    )
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(rows), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w_, h_, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return header + dib + rows


def test_builtin_decoders_roundtrip():
    """The pure-numpy PPM/BMP decoders must reproduce the source pixel
    array exactly — a REAL decode, not a sketch (no image lib needed)."""
    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    ppm = b"P6\n# a comment\n9 5\n255\n" + rgb.tobytes()
    fmt, out = multimodal.decode_image_builtin(ppm)
    assert fmt == "ppm" and np.array_equal(out, rgb)
    fmt, out = multimodal.decode_image_builtin(_make_bmp(rgb))
    assert fmt == "bmp" and np.array_equal(out, rgb)  # incl. row un-flip + BGR swap + padding
    with pytest.raises(ValueError):
        multimodal.decode_image_builtin(b"\x89PNG\r\n\x1a\nnope")


def test_image_features_builtin_real_decode_e2e(spark):
    """End-to-end through the mapInPandas stage WITHOUT any image
    library: PPM/BMP payloads take the built-in real-decode tier (label
    honesty), features equal the hand-computed pooled pixels, and
    require_real_decode=True succeeds for them / raises for garbage."""
    w, h = 8, 4
    rgb = np.zeros((h, w, 3), np.uint8)
    rgb[:, w // 2 :, :] = 255  # left half black, right half white
    ppm = b"P6\n8 4\n255\n" + rgb.tobytes()
    bmp = _make_bmp(rgb)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "payload": [ppm, bmp]})
    )
    meta = {r["doc_id"]: r["media_type"] for r in multimodal.binary_meta(df).collect()}
    assert meta == {0: "image/x-portable-pixmap", 1: "image/bmp"}

    rows = {r["doc_id"]: r for r in
            multimodal.image_features(df, require_real_decode=True).collect()}
    assert rows[0]["decoder"] == "builtin-ppm"
    assert rows[1]["decoder"] == "builtin-bmp"
    # pooled 4x4 grayscale: two black col-buckets, two white; normalized
    want = np.tile([0.0, 0.0, 0.125, 0.125], 4).astype(np.float32)
    for r in rows.values():
        np.testing.assert_allclose(np.asarray(r["features"]), want, atol=1e-6)

    garbage = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9], "payload": [b"\xff\xd8\xff\xe0 not a real jpeg"]})
    )
    with pytest.raises(Exception, match="real decode unavailable"):
        multimodal.image_features(garbage, require_real_decode=True).collect()
    # without the flag the same payload falls back to the labeled stub
    assert multimodal.image_features(garbage).collect()[0]["decoder"] == "stub-histogram"


def _make_png(px: np.ndarray, color_type: int, filters: list[int], plte=None) -> bytes:
    """Minimal PNG writer (test-only): 8-bit, no interlace, explicit
    per-row filter types so every unfilter branch is exercised."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    h, w, ch = px.shape
    bpp = ch
    out = b""
    prev = np.zeros(w * ch, np.int64)
    for y in range(h):
        row = px[y].reshape(-1).astype(np.int64)
        ft = filters[y % len(filters)]
        if ft == 0:
            enc = row
        elif ft == 1:
            enc = (row - np.concatenate([np.zeros(bpp, np.int64), row[:-bpp]])) & 0xFF
        elif ft == 2:
            enc = (row - prev) & 0xFF
        elif ft == 3:
            enc = np.empty_like(row)
            for x in range(row.size):
                left = row[x - bpp] if x >= bpp else 0
                enc[x] = (row[x] - (left + prev[x]) // 2) & 0xFF
        else:  # 4 = Paeth
            enc = np.empty_like(row)
            for x in range(row.size):
                a = int(row[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (row[x] - pred) & 0xFF
        out += bytes([ft]) + enc.astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        png += chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    return png + chunk(b"IDAT", zlib.compress(out)) + chunk(b"IEND", b"")


def test_png_decoder_roundtrip_all_filters_and_color_types():
    """The stdlib-zlib + numpy PNG decoder must be pixel-exact across
    every scanline filter (None/Sub/Up/Average/Paeth) and every 8-bit
    color type (gray, RGB, palette, gray+alpha, RGBA)."""
    rng = np.random.default_rng(11)
    all_filters = [0, 1, 2, 3, 4]

    rgb = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    fmt, out = multimodal.decode_image_builtin(_make_png(rgb, 2, all_filters))
    assert fmt == "png" and np.array_equal(out, rgb)

    gray = rng.integers(0, 256, size=(6, 4, 1), dtype=np.uint8)
    fmt, out = multimodal.decode_image_builtin(_make_png(gray, 0, all_filters))
    assert fmt == "png" and np.array_equal(out, np.repeat(gray, 3, axis=2))

    plte = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(5, 9, 1), dtype=np.uint8)
    fmt, out = multimodal.decode_image_builtin(_make_png(idx, 3, [0, 1, 2], plte=plte))
    assert fmt == "png" and np.array_equal(out, plte[idx[..., 0]])

    ga = rng.integers(0, 256, size=(4, 6, 2), dtype=np.uint8)
    fmt, out = multimodal.decode_image_builtin(_make_png(ga, 4, all_filters))
    assert fmt == "png" and np.array_equal(out, np.repeat(ga[..., :1], 3, axis=2))

    rgba = rng.integers(0, 256, size=(5, 5, 4), dtype=np.uint8)
    fmt, out = multimodal.decode_image_builtin(_make_png(rgba, 6, all_filters))
    assert fmt == "png" and np.array_equal(out, rgba[..., :3])


def test_png_decoder_rejects_unsupported():
    """16-bit depth / interlaced / truncated PNGs must raise (honest
    tier labels), never silently mis-decode."""
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr16 = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    with pytest.raises(ValueError, match="unsupported"):
        multimodal.decode_image_builtin(sig + chunk(b"IHDR", ihdr16))
    ihdr_il = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)
    with pytest.raises(ValueError, match="unsupported"):
        multimodal.decode_image_builtin(sig + chunk(b"IHDR", ihdr_il))
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    short = zlib.compress(b"\x00" * 5)  # far less than 4 rows of 4 px
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_image_builtin(
            sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", short) + chunk(b"IEND", b"")
        )


def test_png_feature_e2e_real_decode_label(spark):
    """A PNG payload must take the builtin-png REAL-decode tier through
    the mapInPandas stage (no image library present)."""
    rgb = np.zeros((4, 8, 3), np.uint8)
    rgb[:, 4:, :] = 255
    png = _make_png(rgb, 2, [0, 1, 2, 3, 4])
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "payload": [png]}))
    meta = multimodal.binary_meta(df).collect()[0]
    assert meta["media_type"] == "image/png"
    row = multimodal.image_features(df, require_real_decode=True).collect()[0]
    assert row["decoder"] == "builtin-png"
    want = np.tile([0.0, 0.0, 0.125, 0.125], 4).astype(np.float32)
    np.testing.assert_allclose(np.asarray(row["features"]), want, atol=1e-6)


def test_builtin_decoder_rejects_degenerate_headers():
    """A structurally plausible but zero-dimension header must raise,
    not 'decode' to an empty image with all-zero features that would
    count as a successful real decode."""
    import struct

    bad_bmp = (
        b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 0, 0, 1, 24, 0, 0, 0, 0, 0, 0)
    )
    with pytest.raises(ValueError, match="dimensions"):
        multimodal.decode_image_builtin(bad_bmp)
    with pytest.raises(ValueError, match="dimensions"):
        multimodal.decode_image_builtin(b"P6\n0 5\n255\n")


def test_ivf_probe_cap_and_curve_fallback(emb):
    """n_probe requests beyond MAX_N_PROBE raise plan-side (no 16M-mask
    explode dressed up as a fallback), and choose_n_probe falls back to
    the largest MEASURED curve point, never an unmeasured 2^n_planes."""
    q = emb.limit(1).select("vec_id", "embedding")
    with pytest.raises(ValueError, match="n_probe"):
        similarity.ivf_topk(
            emb, q, n_planes=24, n_probe=5000,
            qid_col="vec_id", qvec_col="embedding",
        )
    curve = [{"n_probe": 1, "recall": 0.3}, {"n_probe": 8, "recall": 0.6}]
    assert similarity.choose_n_probe(curve, 0.99, n_planes=24) == 8
    assert similarity.choose_n_probe([], 0.99, n_planes=24) == similarity.MAX_N_PROBE
