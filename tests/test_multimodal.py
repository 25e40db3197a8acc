"""Multimodal plumbing tests: binary columns survive the round trip,
mapInPandas batch shapes are right, stages chain, the explode
multiplies rows correctly, and the gated real decoder fails loudly.
(The oracle parity of the fake-decode math is covered by
tests/test_oracle.py via the registry.)"""

from __future__ import annotations

import math
import zlib

import pytest
from pyspark.sql import functions as F

from firstamerican_etl_spark.operators.multimodal import (
    decode_assets,
    decode_image_real,
    documents_as_assets,
    featurize,
    frame_sample,
    resize_assets,
)
from firstamerican_etl_spark.sources.io import load_table


@pytest.fixture(scope="module")
def assets(spark, sf_dir):
    return documents_as_assets(load_table(spark, sf_dir, "documents"))


def test_binary_round_trip(spark, assets, tmp_path):
    """payload is a real BinaryType column and survives parquet."""
    path = str(tmp_path / "assets")
    assets.write.parquet(path)
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["payload"] == "binary"
    row = back.filter(F.col("asset_id") == 1).collect()[0]
    assert isinstance(row["payload"], (bytes, bytearray))
    assert row["meta"]["n_bytes"] == len(row["payload"])


def test_decode_stats_match_python(assets):
    got = {r["asset_id"]: r for r in decode_assets(assets).collect()}
    src = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    for aid, payload in list(src.items())[:50]:
        r = got[aid]
        assert r["n_bytes"] == len(payload)
        assert r["checksum"] == zlib.crc32(payload)
        assert r["mean_byte"] == pytest.approx(sum(payload) / len(payload))


def test_resize_composes(assets):
    """resize→resize chains (schema-stable) and is idempotent once
    under the max dim."""
    once = resize_assets(assets, max_dim=64)
    twice = resize_assets(once, max_dim=64)
    a = sorted((r["asset_id"], r["meta"]["width"], r["meta"]["n_bytes"]) for r in once.collect())
    b = sorted((r["asset_id"], r["meta"]["width"], r["meta"]["n_bytes"]) for r in twice.collect())
    assert a == b
    assert all(w <= 64 for _, w, _ in a)


def test_frame_sample_explodes(assets):
    frames = frame_sample(assets, frame_bytes=128, every=1)
    per_asset = {
        r["asset_id"]: r["n"]
        for r in frames.groupBy("asset_id").agg(F.count("*").alias("n")).collect()
    }
    for r in assets.select("asset_id", "meta.n_bytes").collect():
        assert per_asset[r["asset_id"]] == math.ceil(r["n_bytes"] / 128)


def test_featurize_deterministic_unit_range(assets):
    f1 = {r["asset_id"]: r["features"] for r in featurize(assets, dim=8).collect()}
    f2 = {r["asset_id"]: r["features"] for r in featurize(assets, dim=8).collect()}
    assert f1 == f2
    vec = f1[next(iter(f1))]
    assert len(vec) == 8 and all(0.0 <= v <= 1.0 for v in vec)


def test_real_decoder_gated(assets):
    with pytest.raises(NotImplementedError, match="pillow|codec"):
        decode_image_real(assets)


def _minhash_signatures_jvm(df, num_hashes: int = 32):
    """The JVM MinHash form, kept as the parity reference: explode the
    shingle hashes to rows and take ``min(((h mod p)·a + b) mod p)`` as
    32 codegen'd aggregates per doc (one doc shuffle). A doc with no
    shingles explodes to no rows, hence no signature row."""
    from firstamerican_etl_spark.plans.dedupplans import (
        _P31,
        _perm_consts,
        exploded_word_hashes,
        shingle_hashes_col,
    )

    exploded = exploded_word_hashes(df).select(
        "doc_id", F.explode(shingle_hashes_col("wh")).alias("h")
    ).select("doc_id", F.pmod(F.col("h"), F.lit(_P31)).alias("hp"))
    aggs = []
    for i in range(num_hashes):
        a, b = _perm_consts(i)
        aggs.append(
            F.min(
                F.pmod(F.col("hp") * F.lit(a) + F.lit(b), F.lit(_P31))
            ).alias(f"mh{i}")
        )
    return exploded.groupBy("doc_id").agg(*aggs)


def test_minhash_np_variant_equals_jvm(spark, sf_dir):
    """The Arrow/numpy MinHash path must produce bit-identical
    signatures to the codegen'd aggregate formulation (int64 wraparound
    parity)."""
    from firstamerican_etl_spark.plans.dedupplans import minhash_signatures_np
    from firstamerican_etl_spark.sources.io import load_table

    d = load_table(spark, sf_dir, "documents")
    s_jvm = sorted(map(tuple, _minhash_signatures_jvm(d).collect()))
    s_np = sorted(map(tuple, minhash_signatures_np(d).collect()))
    assert s_jvm == s_np


# ---------------------------------------------------- netpbm pixel path


def test_netpbm_decoder_all_variants():
    """P6/P5 binary and P3/P2 ascii all decode to the same raster; the
    parser honors comments and arbitrary header whitespace."""
    from firstamerican_etl_spark.operators.multimodal import _decode_netpbm

    px = [0, 128, 255, 7, 9, 200]
    p6 = b"P6\n# a comment\n2 1\n255\n" + bytes(px)
    p3 = b"P3\n2 1\n255\n" + " ".join(map(str, px)).encode()
    assert _decode_netpbm(p6) == (2, 1, 3, px)
    assert _decode_netpbm(p3) == (2, 1, 3, px)
    gray = [13, 240]
    p5 = b"P5  2   1\n255\n" + bytes(gray)
    p2 = b"P2\n2\n1\n255\n13 240\n"
    assert _decode_netpbm(p5) == (2, 1, 1, gray)
    assert _decode_netpbm(p2) == (2, 1, 1, gray)


def test_netpbm_decoder_16bit_samples():
    """maxval > 255 means TWO big-endian bytes per sample (r10 review:
    the old decoder read one byte regardless — the length check passed
    on half the raster and garbage decoded silently)."""
    from firstamerican_etl_spark.operators.multimodal import _decode_netpbm

    vals = [0, 300, 65535, 7]
    raster = b"".join(v.to_bytes(2, "big") for v in vals)
    p5 = b"P5\n4 1\n65535\n" + raster
    assert _decode_netpbm(p5) == (4, 1, 1, vals)
    # truncated 16-bit raster (would have PASSED the old 1-byte check)
    with pytest.raises(ValueError):
        _decode_netpbm(b"P5\n4 1\n65535\n" + raster[:4])
    # 16-bit sample exceeding maxval still raises
    with pytest.raises(ValueError):
        _decode_netpbm(b"P5\n1 1\n300\n" + (301).to_bytes(2, "big"))


def test_netpbm_decoder_rejects_malformed():
    from firstamerican_etl_spark.operators.multimodal import _decode_netpbm

    with pytest.raises(ValueError):
        _decode_netpbm(b"JFIF....")
    with pytest.raises(ValueError):  # truncated raster
        _decode_netpbm(b"P6\n2 2\n255\n" + bytes(5))
    with pytest.raises(ValueError):  # pixel beyond maxval
        _decode_netpbm(b"P3\n1 1\n10\n11 0 0")


def test_ppm_roundtrip_through_spark(spark):
    """encode_ppm → decode_image_pixels round-trips dimensions, mean
    pixel, and payload checksum through the Arrow batch path — the
    executable REAL-pixel test this container previously lacked."""
    import zlib

    from firstamerican_etl_spark.operators.multimodal import (
        ASSET_SCHEMA,
        decode_image_pixels,
        encode_ppm,
    )

    rows = [
        (1, encode_ppm(4, 3, 0), {"format": "image/x-portable-pixmap", "width": 4, "height": 3, "n_bytes": 0}),
        (2, encode_ppm(8, 8, 255), {"format": "image/x-portable-pixmap", "width": 8, "height": 8, "n_bytes": 0}),
        (3, encode_ppm(2, 5, (10, 20, 30)), {"format": "image/x-portable-pixmap", "width": 2, "height": 5, "n_bytes": 0}),
    ]
    assets = spark.createDataFrame(rows, schema=ASSET_SCHEMA)
    got = {r["asset_id"]: r for r in decode_image_pixels(assets).collect()}
    payloads = {i: p for i, p, _ in rows}
    expected = {1: (4, 3, 0.0), 2: (8, 8, 255.0), 3: (2, 5, 20.0)}
    for aid, (w, h, mean) in expected.items():
        r = got[aid]
        assert (r["width"], r["height"]) == (w, h)
        assert r["mean_byte"] == pytest.approx(mean)
        assert r["n_bytes"] == len(payloads[aid])
        assert r["checksum"] == zlib.crc32(payloads[aid])


def test_dhash_designed_near_dup_pairs(spark):
    """The gradient fixture's even/odd doc_id pairs are designed
    near-duplicates (+1 brightness on a quadratic field): the dHash
    banded-Hamming query must recover (almost all of) them at small
    Hamming distance, must NEVER pair two docs from different bases at
    distance 0, and the fingerprints themselves must match a direct
    numpy recomputation of the documented pixel math."""
    from firstamerican_etl_spark.plans.registry import load_all

    reg = load_all()
    sf = "/root/testdata/sf0.001"
    rows = reg["dedup_image_dhash_pairs"].spark(spark, sf).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    assert pairs, "no near-dup pairs found at all"
    designed = {(a, b) for (a, b) in pairs if a // 2 == b // 2}
    # the fixture designs 250 sibling pairs at sf0.001 (500 docs); the
    # +1 perturbation leaves nearly all within Hamming<=6 AND band-
    # blockable — require a high floor rather than an exact count so
    # the test pins the DESIGN property, not one dataset instance
    assert len(designed) >= 200, f"only {len(designed)} designed pairs recovered"
    # every designed pair the query reports must be genuinely close
    assert all(h <= 6 for h in (pairs[p] for p in designed))
    # perceptual soundness: a cross-base pair at distance 0 would mean
    # the fingerprint collapses unrelated images
    zero_cross = [
        (a, b) for (a, b), h in pairs.items() if h == 0 and a // 2 != b // 2
    ]
    assert zero_cross == [], f"unrelated images at Hamming 0: {zero_cross[:5]}"


def test_dhash_bands_match_numpy_reference(spark):
    """image_dhash_bands over the synthesized assets equals a direct
    numpy dHash of the same documented pixel formula — pins the
    decode → box-sum → gradient-bit → band-pack chain independently of
    the SQL oracle."""
    import numpy as np

    from firstamerican_etl_spark.operators.multimodal import (
        GRADIENT_H,
        GRADIENT_W,
        documents_as_gradient_assets,
        image_dhash_bands,
    )
    from firstamerican_etl_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(64)
    got = {
        r["asset_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in image_dhash_bands(documents_as_gradient_assets(docs)).collect()
    }
    assert len(got) == 64
    for d in got:
        base, delta = d // 2, d % 2
        a = (base * 7) % 11 + 1
        b = (base * 3) % 13 + 1
        c = (base * 31 + delta) % 256
        x = np.arange(GRADIENT_W)
        y = np.arange(GRADIENT_H)
        xg, yg = np.meshgrid(x, y)
        px = (a * xg * xg + b * yg * yg + xg * yg + c) % 256
        cells = px.reshape(8, 2, 9, 2).sum(axis=(1, 3))
        bits = (cells[:, :-1] < cells[:, 1:]).astype(int)
        want = tuple(
            sum(
                int(bits[2 * k + r, gx]) << (r * 8 + gx)
                for r in range(2)
                for gx in range(8)
            )
            for k in range(4)
        )
        assert got[d] == want, f"doc {d}: {got[d]} != {want}"


def test_dhash_distinct_twin_is_the_fingerprint_quotient(spark):
    """The scale twin must be the all-pairs result QUOTIENTED by the
    identical-fingerprint equivalence: hamming-0 pairs (the designed
    siblings whose +1 brightness shift flips no gradient bit) collapse
    into a single representative with multiplicity, every surviving
    pair maps to the (min-doc) representatives with the SAME hamming,
    and no twin pair sits at hamming 0 (identical prints share a rep
    by construction)."""
    from firstamerican_etl_spark.operators.multimodal import (
        documents_as_gradient_assets,
        image_dhash_bands,
    )
    from firstamerican_etl_spark.plans.registry import load_all
    from firstamerican_etl_spark.sources.io import load_table

    reg = load_all()
    sf = "/root/testdata/sf0.001"
    fp = {
        r["asset_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in image_dhash_bands(
            documents_as_gradient_assets(load_table(spark, sf, "documents"))
        ).collect()
    }
    cls: dict[tuple, list[int]] = {}
    for d, f in fp.items():
        cls.setdefault(f, []).append(d)
    rep = {d: min(cls[f]) for d, f in fp.items()}
    size = {min(ds): len(ds) for ds in cls.values()}

    allp = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in reg["dedup_image_dhash_pairs"].spark(spark, sf).collect()
    }
    expected: dict[tuple[int, int], int] = {}
    for (a, b), h in allp.items():
        ra, rb = rep[a], rep[b]
        if ra == rb:
            assert h == 0, (a, b, h)  # same print -> must be hamming 0
            continue
        key = (min(ra, rb), max(ra, rb))
        assert expected.get(key, h) == h  # quotient is well-defined
        expected[key] = h

    twin = reg["dedup_image_dhash_distinct"].spark(spark, sf).collect()
    got = {(r["rep_a"], r["rep_b"]): r["hamming"] for r in twin}
    assert got == expected
    assert all(r["hamming"] > 0 for r in twin)
    assert all(
        r["n_docs_a"] == size[r["rep_a"]] and r["n_docs_b"] == size[r["rep_b"]]
        for r in twin
    )
    # the collapse actually collapsed something at this scale
    assert any(n > 1 for n in size.values())
