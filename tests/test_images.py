"""Image layer tests: codec round-trips, PSNR >= 40 dB lossy invariant,
caption equality, extraction join (BASELINE.json input_hint); the
extraction CLI and its resume manifest are tested in test_run_cli.py."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pacasam_spark.imaging import decode, decode_png, encode_png, psnr, synth_pixels
from pacasam_spark.sources.images import synthetic_images


def test_png_roundtrip_exact():
    arr = synth_pixels("img-x", 32, 32)
    assert np.array_equal(decode_png(encode_png(arr)), arr)


def test_q6_psnr_above_40db():
    from pacasam_spark.imaging import decode_q6, encode_q6

    arr = synth_pixels("img-y", 32, 32)
    rec = decode_q6(encode_q6(arr))
    assert psnr(arr, rec) >= 40.0


def test_unsupported_codec_stubbed():
    with pytest.raises(NotImplementedError):
        decode(b"xxxx", "webp")


def test_jpg_codec_real_wire_format():
    """jpg decodes for real since round 7 (jpegbase): PSNR>=40 on the
    worst-case near-noise synthetic pixels, spec markers present,
    grayscale + odd sizes round-trip, progressive rejected clearly."""
    from pacasam_spark.imaging import encode
    from pacasam_spark.jpegbase import decode_jpeg, encode_jpeg

    arr = synth_pixels("img-jpg", 50, 38)  # non-multiple-of-8 both axes
    data = encode(arr, "jpg")
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in data
    rec = decode(data, "jpg")
    assert rec.shape == arr.shape
    assert psnr(arr, rec) >= 40.0

    gray = arr[:, :, 0]
    rec_g = decode_jpeg(encode_jpeg(gray, quality=95))
    assert rec_g.shape == (*gray.shape, 1)
    assert psnr(gray[:, :, None], rec_g) >= 40.0

    with pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg(
            b"\xff\xd8\xff\xc2" + b"\x00\x0b" + b"\x08\x00\x10\x00\x10\x01\x01\x11\x00"
        )


def test_jpg_decoder_handles_420_subsampling_and_restarts():
    """The decoder claims real-world coverage (4:2:0 + DRI/RSTn); build
    such a file by hand from jpegbase primitives — 4 Y blocks + 1 Cb +
    1 Cr per MCU, a restart marker between MCUs — and check the decode
    against the (chroma-halved) source."""
    import struct

    import numpy as np

    from pacasam_spark import jpegbase as J

    arr = synth_pixels("img-420", 32, 16)  # (h=16, w=32): 2 MCUs of 16x16
    y, cb, cr = J._rgb_to_ycbcr(arr)
    # box-filter chroma to half resolution (the 4:2:0 shape)
    def half(p):
        return p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean((1, 3))

    qt = J._scaled_quant(J._LUM_Q, 98)
    comps = [(y, 2, 2), (half(cb), 1, 1), (half(cr), 1, 1)]
    blocks = [J._quantized_blocks(p, qt) for p, _h, _v in comps]
    # MCU emission order: per MCU, 4 Y blocks (2x2) then Cb, Cr. Y plane
    # is 32 px wide = 4 blocks across, 2 block rows; MCU x -> Y blocks
    # (r, 2*mx + c) of the row-major _quantized_blocks grid.
    streams = {"dc0": [], "ac0": [], "dc1": [], "ac1": []}
    order = []
    prev = [0, 0, 0]
    per_mcu = []
    for mx in range(2):
        mcu = []
        for r in range(2):
            for c in range(2):
                mcu.append((0, blocks[0][r * 4 + 2 * mx + c]))
        mcu += [(1, blocks[1][mx]), (2, blocks[2][mx])]
        per_mcu.append(mcu)
    segs = []
    for mcu in per_mcu:
        for ci, zz in mcu:
            t = "0" if ci == 0 else "1"
            dcs, acs, prev[ci] = J._block_symbols(zz, prev[ci])
            streams[f"dc{t}"].append(dcs)
            streams[f"ac{t}"].append(acs)
            order.append((f"dc{t}", f"ac{t}"))
    tables = {}
    for name, blks in streams.items():
        freq = np.zeros(256, np.int64)
        for blk in blks:
            for sym, _v, _l in blk:
                freq[sym] += 1
        tables[name] = J._build_huffman(freq)
    codes = {n: J._canonical_codes(*t) for n, t in tables.items()}
    # entropy: one segment per MCU with RST0 between (DRI=1), DC preds
    # reset at each restart -> re-emit with fresh preds per segment
    entropy = b""
    cursor = {n: 0 for n in streams}
    for k, mcu in enumerate(per_mcu):
        bw = J._BitWriter()
        prev = [0, 0, 0]
        for ci, zz in mcu:
            t = "0" if ci == 0 else "1"
            dcs, acs, prev[ci] = J._block_symbols(zz, prev[ci])
            for tbl, syms in ((f"dc{t}", dcs), (f"ac{t}", acs)):
                for sym, val, vlen in syms:
                    c, clen = codes[tbl][sym]
                    bw.write(c, clen)
                    bw.write(val, vlen)
        entropy += bw.flush()
        if k == 0:
            entropy += b"\xff\xd0"  # RST0
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes(
        qt.reshape(64)[J._ZIGZAG].astype(np.uint8)
    )
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, 16, 32, 3)
    out += bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    for name, (bits, vals) in tables.items():
        tc = 0 if name.startswith("dc") else 1
        th = int(name[2])
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), (tc << 4) | th)
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xdd" + struct.pack(">HH", 4, 1)  # DRI: restart every MCU
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    out += bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00"
    out += entropy + b"\xff\xd9"

    from pacasam_spark.jpegbase import decode_jpeg

    rec = decode_jpeg(bytes(out))
    assert rec.shape == (16, 32, 3)
    # luma is full-res: Y of the decode tracks Y of the source closely
    y_rec = J._rgb_to_ycbcr(rec)[0]
    assert float(np.abs(y_rec - y).mean()) < 3.0


def test_synth_pixels_deterministic():
    assert np.array_equal(synth_pixels("a", 16, 16), synth_pixels("a", 16, 16))
    assert not np.array_equal(synth_pixels("a", 16, 16), synth_pixels("b", 16, 16))


@pytest.fixture(scope="module")
def images(spark):
    return synthetic_images(spark, n=64, size=32).cache()


def test_image_catalogue_schema_and_decode(images):
    rows = images.collect()
    assert len(rows) == 64
    for r in rows[:8]:
        arr = decode(bytes(r.bytes), r.fmt)
        assert arr.shape == (32, 32, 3)
        ref = synth_pixels(r.image_id, 32, 32)
        if r.fmt == "png":
            assert np.array_equal(arr, ref)  # lossless: exact
        else:
            assert psnr(ref, arr) >= 40.0  # lossy tier invariant
        assert r.caption == (
            f"synthetic scene {r.image_id} mean={int(ref.mean())} fmt={r.fmt}"
        )


def test_extract_reencode_to_jpg(spark):
    """E3 re-encode with the DCT (baseline JPEG) tier through the Spark
    pipeline."""
    from pacasam_spark.extract.images import extract_patches
    from pacasam_spark.sources.images import synthetic_images

    images = synthetic_images(spark, n=12, size=16)
    sampling = images.select("image_id").withColumn("split", F.lit("train"))
    out = extract_patches(images, sampling, out_fmt="jpg")
    rows = out.collect()
    assert len(rows) == 12
    for r in rows:
        arr = decode(bytes(r.bytes), "jpg")
        ref = synth_pixels(r.image_id, 16, 16)
        # source may itself be lossy (q6): compare against the decoded
        # source tier, allowing the jpg loss on top
        assert psnr(ref, arr) >= 38.0
        assert r.fmt == "jpg"


def test_rasterize_mask_halfplane_and_consistency():
    """Left-half rectangle masks exactly the left half of the pixel grid,
    and the mask rule agrees with the join-side ray cast."""
    import numpy as np

    from pacasam_spark.extract.rasterize import rasterize_mask

    bbox = (0.0, 0.0, 32.0, 32.0)
    left = [(0.0, 0.0), (16.0, 0.0), (16.0, 32.0), (0.0, 32.0)]
    m = rasterize_mask(32, 32, bbox, left)
    assert m[:, :16].all() and not m[:, 16:].any()

    tri = [(0.0, 0.0), (32.0, 0.0), (0.0, 32.0)]
    mt = rasterize_mask(32, 32, bbox, tri)
    # triangle covers half the area (pixel-center quantization: +-1 row)
    assert abs(int(mt.sum()) - 32 * 32 // 2) <= 32
    assert mt[0, 0] and not mt[31, 31]


def test_colorize_patches_blends_only_masked_pixels(spark):
    """J10 through the Spark pipeline: pixels inside the zone move toward
    the blend color, pixels outside are bit-identical."""
    import numpy as np

    from pacasam_spark.extract.rasterize import colorize_patches
    from pacasam_spark.imaging import decode
    from pacasam_spark.sources.images import synthetic_images

    images = synthetic_images(spark, n=6, size=16).withColumn(
        "geom_xmin", F.lit(0.0)).withColumn("geom_ymin", F.lit(0.0)
    ).withColumn("geom_xmax", F.lit(16.0)).withColumn("geom_ymax", F.lit(16.0))
    zones = [("z", [(0.0, 0.0), (8.0, 0.0), (8.0, 16.0), (0.0, 16.0)])]
    out = colorize_patches(images, zones, color=(255, 0, 0), alpha=1.0)
    originals = {r["image_id"]: bytes(r["bytes"]) for r in images.collect()}
    fmts = {r["image_id"]: r["fmt"] for r in images.collect()}
    rows = out.collect()
    assert len(rows) == 6
    for r in rows:
        before = decode(originals[r["image_id"]], fmts[r["image_id"]])
        after = decode(bytes(r["bytes"]), r["fmt"])
        assert r["n_masked"] == 16 * 8
        if r["fmt"] == "png":  # lossless: exact assertions
            assert (after[:, :8] == np.array([255, 0, 0])).all()
            assert np.array_equal(after[:, 8:], before[:, 8:])


def test_extraction_join_broadcast_size_gate(spark, images):
    """The J1 extraction join broadcasts ONLY a provably-small selection:
    above the threshold the plan must fall back to a distributed join
    (an arbitrary 10^8-row sampling parquet would OOM the driver as a
    broadcast build)."""
    from pacasam_spark.extract.images import extract_patches

    sampling = images.select("image_id").withColumn("split", F.lit("train"))
    n = sampling.count()

    small = extract_patches(images, sampling, sampling_rows=n,
                            broadcast_threshold=n + 1)
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small

    big = extract_patches(images, sampling, sampling_rows=n,
                          broadcast_threshold=n - 1)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan_big
    assert "ShuffledHashJoin" in plan_big or "SortMergeJoin" in plan_big


def test_extraction_join_projects_kernel_columns(spark, images):
    """The extraction join hands a kernel only the columns it reads: the
    catalogue's w, h and phash never reach the Python worker."""
    from pacasam_spark.extract.images import extraction_join

    sampling = images.select("image_id").withColumn("split", F.lit("train"))
    joined = extraction_join(images, sampling)
    assert sorted(joined.columns) == sorted(
        ["image_id", "split", "bytes", "fmt", "caption"]
    )


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_phash64_stable_under_lossy_and_noise():
    """The DCT perceptual hash is invariant to lossy re-encode and mild
    pixel noise, and far apart for unrelated images (measured: 0 vs >=14
    across pairs) — exactly the contract hamming_near_dup_pairs needs."""
    import numpy as np

    from pacasam_spark.imaging import decode, encode, phash64, synth_pixels

    a = synth_pixels("ph-a", 64, 64)
    h = phash64(a)
    for fmt in ("q6", "jpg"):
        assert _ham(h, phash64(decode(encode(a, fmt), fmt))) <= 6
    rng = np.random.default_rng(0)
    noisy = np.clip(a.astype(int) + rng.integers(-8, 9, a.shape), 0, 255)
    assert _ham(h, phash64(noisy.astype(np.uint8))) <= 6
    b = synth_pixels("ph-b", 64, 64)
    assert _ham(h, phash64(b)) >= 10
    # non-divisible resample path
    assert phash64(synth_pixels("ph-c", 48, 40)) != 0


def test_compute_phash_end_to_end_near_dup(spark):
    """compute_phash over the image catalogue + hamming_near_dup_pairs
    finds exactly the planted lossy re-encodes of existing images."""
    from pyspark.sql import functions as F

    from pacasam_spark.extract.images import compute_phash
    from pacasam_spark.operators.dedup import hamming_near_dup_pairs
    from pacasam_spark.sources.images import synthetic_images

    images = synthetic_images(spark, n=40, size=32).persist()
    # planted near-dups: re-encode 10 images in the lossy jpg tier
    def reencode(batch_iter):
        import pandas as pd

        from pacasam_spark.imaging import decode, encode

        for pdf in batch_iter:
            out = []
            for r in pdf.itertuples(index=False):
                arr = decode(bytes(r.bytes), r.fmt)
                out.append(
                    ("dup-" + r.image_id, encode(arr, "jpg"), r.w, r.h, "jpg",
                     r.caption, r.phash)
                )
            yield pd.DataFrame(
                out, columns=["image_id", "bytes", "w", "h", "fmt", "caption",
                              "phash"])

    dups = images.limit(10).mapInPandas(reencode, schema=images.schema)
    corpus = images.unionByName(dups)
    hashed = compute_phash(corpus)
    pairs = hamming_near_dup_pairs(
        hashed, hash_col="phash", id_col="image_id", max_distance=6
    ).collect()
    got = sorted((r["id_a"], r["id_b"]) for r in pairs)
    expect = sorted(
        (r["image_id"], "dup-" + r["image_id"]) for r in images.limit(10).collect()
    )
    assert got == expect
    images.unpersist()


def test_resize_rgb_blockmean_and_bilinear():
    """Integer-factor downscale is an exact block mean; non-integer path
    is bilinear; identity resize is lossless."""
    import numpy as np

    from pacasam_spark.imaging import resize_rgb, synth_pixels

    a = synth_pixels("rz-a", 64, 64)
    assert np.array_equal(resize_rgb(a, 64, 64), a)  # identity
    half = resize_rgb(a, 32, 32)
    expect = np.round(
        a.astype(np.float64).reshape(32, 2, 32, 2, 3).mean(axis=(1, 3))
    ).astype(np.uint8)
    assert np.array_equal(half, expect)
    odd = resize_rgb(a, 48, 24)  # non-integer: bilinear path
    assert odd.shape == (24, 48, 3)
    assert odd.std() > 0


def test_extract_patches_resize(spark):
    """Thumbnail extraction: crop then resize, dims recorded in w/h."""
    from pacasam_spark.extract.images import extract_patches
    from pacasam_spark.sources.images import synthetic_images
    from pyspark.sql import functions as F

    images = synthetic_images(spark, n=12, size=64)
    sampling = images.select("image_id").withColumn("split", F.lit("train"))
    out = extract_patches(
        images, sampling, crop=(0, 0, 48, 48), resize=(16, 16), out_fmt="png"
    ).collect()
    assert len(out) == 12
    assert all(r["w"] == 16 and r["h"] == 16 for r in out)
    from pacasam_spark.imaging import decode

    arr = decode(bytes(out[0]["bytes"]), "png")
    assert arr.shape == (16, 16, 3)
