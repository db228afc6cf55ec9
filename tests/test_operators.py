"""Operator-level tests: reference API surface, exact dedup, SimHash pairs,
ANN, multimodal plumbing, streaming faces, catalog
atomicity/resume semantics."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from batch_jaro_winkler_spark import api
from batch_jaro_winkler_spark.operators.config import DedupConfig


# --- reference 6-function API surface (SURVEY.md §2.3) ---


def test_api_roundtrip_and_semantics():
    model_bytes = api.build_exportable_model(["hélloz", "中国", "lolz", "hii"])
    assert isinstance(model_bytes, bytes)  # storable anywhere, like the reference
    rt = api.build_runtime_model(model_bytes)
    res = sorted(api.jaro_distance(rt, "hélloz"))
    assert res == [("hii", 0.5), ("hélloz", 1.0), ("lolz", 0.75), ("中国", 0.0)]
    jw = dict(api.jaro_winkler_distance(rt, "hélloz", min_score=0.7))
    assert jw["hélloz"] == 1.0 and "中国" not in jw


def test_api_per_candidate_min_scores_and_validation():
    mb = api.build_exportable_model(
        [
            {"candidate": "lolz", "min_score": 0.750001},
            {"candidate": "hii", "min_score": 0.5},
        ]
    )
    rt = api.build_runtime_model(mb)
    assert sorted(api.jaro_distance(rt, "hélloz")) == [("hii", 0.5)]
    with pytest.raises(ValueError):
        api.build_exportable_model([{"candidate": "a", "min_score": 0.5}, "b"])
    with pytest.raises(ValueError):
        api.build_exportable_model(["a"], nb_runtime_threads=0)
    with pytest.raises(ValueError):
        api.build_runtime_model(b"not a model")


def test_exportable_model_is_plain_data_not_pickle():
    """VERDICT_r5 #4: the exportable blob is designed to live in shared
    storage (reference README.md:85), so loading it must never execute
    code.  Round-trip must preserve scoring exactly; pickles, truncations
    and tampered structural fields must all be REJECTED with ValueError."""
    import pickle
    import struct

    from batch_jaro_winkler_spark.kernel import build_model

    cands = ["hélloz", "中国", "lolz", "hii", "hello world"]
    blob = api.build_exportable_model(cands)
    # plain data: no pickle opcodes, parseable magic header
    assert blob[:4] == b"BJW1"
    rt = api.build_runtime_model(blob)
    direct = build_model(cands)
    inp = "hellz 中"
    assert api.jaro_winkler_distance(rt, inp) == api.jaro_winkler_distance(
        direct, inp
    )
    # min_scores + bytes-path round trip (char_width 2)
    blob2 = api.build_exportable_model_bytes(
        2,
        [
            {"candidate": "ab".encode("utf-16-le"), "min_score": 0.1},
            {"candidate": "cd".encode("utf-16-le"), "min_score": 0.9},
        ],
    )
    rt2 = api.build_runtime_model(blob2)
    assert rt2.char_width == 2 and rt2.min_scores is not None

    # a pickle of a real CandidateModel must NOT load (code execution risk)
    with pytest.raises(ValueError):
        api.build_runtime_model(pickle.dumps(direct))
    # truncation anywhere must fail cleanly
    for cut in (0, 3, 10, len(blob) // 2, len(blob) - 1):
        with pytest.raises(ValueError):
            api.build_runtime_model(blob[:cut])
    with pytest.raises(ValueError):
        api.build_runtime_model(blob + b"\x00")  # trailing bytes
    # tampered header: absurd candidate count must not allocate/crash
    bad = bytearray(blob)
    bad[16:24] = struct.pack("<Q", 2**40)
    with pytest.raises(ValueError):
        api.build_runtime_model(bytes(bad))
    # tampered structural field: break offsets monotonicity
    bad = bytearray(blob)
    off0 = 24 + 8  # header + offsets count prefix
    bad[off0 : off0 + 8] = struct.pack("<q", -5)
    with pytest.raises(ValueError):
        api.build_runtime_model(bytes(bad))


# --- exact dedup ---


def test_exact_dedup(spark):
    from batch_jaro_winkler_spark.operators.exact_dedup import exact_dup_groups

    docs = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "cc"), (5, "bb"), (6, "aa")],
        "doc_id long, text string",
    )
    groups = {r["doc_id"]: r["rep_id"] for r in exact_dup_groups(docs).collect()}
    assert groups == {1: 1, 3: 1, 6: 1, 2: 2, 5: 2, 4: 4}


# --- simhash hamming pairs (pigeonhole) ---


def test_simhash_pairs_exact_vs_bruteforce(spark):
    from batch_jaro_winkler_spark.operators.simhash import simhash_pairs

    rng = np.random.default_rng(7)
    base = rng.integers(0, 2**63, size=40, dtype=np.uint64)
    rows = []
    for i, h in enumerate(base):
        rows.append((i * 2, int(h.view(np.int64))))
        flip = h ^ (np.uint64(1) << np.uint64(rng.integers(0, 64)))
        if rng.random() < 0.5:  # a within-distance-<=2 partner
            flip ^= np.uint64(1) << np.uint64(rng.integers(0, 64))
        rows.append((i * 2 + 1, int(flip.view(np.int64))))
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["a"], r["b"]): r["hamming"]
        for r in simhash_pairs(sig, max_hamming=3).collect()
    }
    # brute force
    vals = dict(rows)
    exp = {}
    for i in vals:
        for j in vals:
            if i < j:
                d = bin((vals[i] ^ vals[j]) & (2**64 - 1)).count("1")
                if d <= 3:
                    exp[(i, j)] = d
    assert got == exp


# --- multimodal plumbing ---


def test_multimodal_meta_and_decode(spark):
    from batch_jaro_winkler_spark import multimodal as mm
    from batch_jaro_winkler_spark.functions.jpeg import encode_jpeg_baseline

    rows = [
        (1, bytes.fromhex("89504E47") + b"xxxx"),       # png magic, not a png
        # real baseline jpeg: since round 5 the image/jpeg builtin is the
        # PIXEL decoder, so the fixture must be entropy-decodable
        (2, encode_jpeg_baseline(np.full((7, 12), 99, np.uint8))),
        (3, b"<html><body>hi</body></html>"),
        (4, b"plain bytes"),
        (5, b""),                                          # decoder error path
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    feats = {r["doc_id"]: r for r in mm.decode_features(df).collect()}
    assert feats[1]["mime"] == "image/png"
    assert feats[2]["mime"] == "image/jpeg"
    assert feats[3]["mime"] == "text/html"
    assert feats[4]["mime"] == "application/octet-stream"
    # image/png goes to the real PNG decoder, which rejects the fake
    assert feats[1]["features"] is None and feats[1]["decode_error"]
    assert len(feats[4]["features"]) == mm.STUB_DIM  # no decoder → stub
    # jpeg routes to the BUILTIN pixel decoder, not the stub: slots 0-2
    # are the decoded (width, height, channels) and slot 3 the mean
    # luminance of the constant-99 image
    assert feats[2]["features"][:3] == [12.0, 7.0, 1.0]
    assert abs(feats[2]["features"][3] - 99.0 / 255.0) < 1e-4
    assert feats[5]["features"] is None and "empty payload" in feats[5]["decode_error"]
    # deterministic: same payload → same features
    again = {r["doc_id"]: r for r in mm.decode_features(df).collect()}
    assert feats[4]["features"] == again[4]["features"]


def test_decode_features_corrupt_payload_fails_alone(spark):
    """One corrupt payload in a mime group gets the decode_error; its
    siblings in the same Arrow batch still decode."""
    from batch_jaro_winkler_spark import multimodal as mm
    from batch_jaro_winkler_spark.functions.jpeg import encode_jpeg_baseline

    good = encode_jpeg_baseline(np.full((8, 16), 77, np.uint8))
    rows = [(1, good), (2, b"\xff\xd8\xff\xe0broken-not-a-real-jpeg"), (3, good)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary").coalesce(1)
    assert df.rdd.getNumPartitions() == 1  # all three share one batch
    feats = {r["doc_id"]: r for r in mm.decode_features(df).collect()}
    assert {r["mime"] for r in feats.values()} == {"image/jpeg"}
    for doc_id in (1, 3):
        assert feats[doc_id]["decode_error"] is None
        assert feats[doc_id]["features"][:2] == [16.0, 8.0]
    assert feats[2]["features"] is None and feats[2]["decode_error"]


def test_png_decoder_roundtrip_and_registry(spark):
    """VERDICT_r2 #8: a REAL decoder (pure-python/zlib PNG) through the
    builtin decode table — pixels round-trip through every supported
    filter type and decode_features yields true dimensions, while other
    mimes keep the declared stub."""
    from batch_jaro_winkler_spark import multimodal as mm
    from batch_jaro_winkler_spark.functions.png import (
        decode_png,
        encode_png,
        png_features,
        png_info,
    )

    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, (5, 7, 1), dtype=np.uint8)
    rgb = rng.integers(0, 256, (9, 4, 3), dtype=np.uint8)
    rgba = rng.integers(0, 256, (3, 3, 4), dtype=np.uint8)
    for px in (gray, rgb, rgba):
        for ftype in (0, 1, 2, 3, 4):
            data = encode_png(px, filter_type=ftype)
            assert png_info(data)[:2] == (px.shape[1], px.shape[0])
            assert np.array_equal(decode_png(data), px), ftype
        # mixed per-row filters: every run boundary the wavefront decoder
        # handles (None/Sub/Up interrupting Average/Paeth runs)
        h = px.shape[0]
        mixed = [(0, 4, 3, 1, 2, 4, 4, 3, 2)[y % 9] for y in range(h)]
        assert np.array_equal(decode_png(encode_png(px, mixed)), px)

    png1 = encode_png(rgb, filter_type=1)
    rows = [
        (1, png1),
        (2, b"\x1a\x45\xdf\xa3webmdata"),  # webm → stays on the stub
        (3, b"\x89PNGbroken"),              # corrupt png → decode_error
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    feats = {r["doc_id"]: r for r in mm.decode_features(df).collect()}
    f1 = feats[1]["features"]
    assert f1[:3] == [4.0, 9.0, 3.0]  # width, height, channels — real decode
    assert f1 == png_features([png1])[0].tolist()
    assert len(feats[2]["features"]) == mm.STUB_DIM  # stub untouched
    assert feats[3]["features"] is None and feats[3]["decode_error"]


def test_jpeg_structure_parser():
    """VERDICT_r4 "What's missing #1": real JPEG metadata — the marker
    walk parses dimensions/components/tables from structurally valid
    JFIF streams, skips entropy-coded scan data (incl. stuffed FF00 and
    RST markers), and rejects malformed payloads with ValueError."""
    import struct

    from batch_jaro_winkler_spark.functions.jpeg import (
        encode_jpeg_gray,
        jpeg_features,
        jpeg_info,
    )

    data = encode_jpeg_gray(640, 480, entropy_bytes=100)
    assert jpeg_info(data) == (640, 480, 1, 8)
    f = jpeg_features([data])[0]
    assert f[:5].tolist() == [640.0, 480.0, 1.0, 8.0, 0.0]
    assert f[5] == 1 and f[6] == 1 and f[7] == 1  # DQT / DHT / SOS counts
    assert f[8] == 100  # entropy bytes
    assert f[9] == 1    # JFIF APP0

    # entropy data containing stuffed FF00 and an RST marker must be
    # skipped, not parsed as segments
    tricky = data.replace(b"\x25" * 100, b"\x25" * 40 + b"\xff\x00" + b"\xff\xd3" + b"\x25" * 40)
    assert jpeg_info(tricky) == (640, 480, 1, 8)
    assert jpeg_features([tricky])[0][8] == 84  # 40 + 2 + 2 + 40

    # progressive SOF2 is detected
    prog = data.replace(b"\xff\xc0", b"\xff\xc2")
    assert jpeg_features([prog])[0][4] == 1.0

    # 3-component SOF parses too
    sof3 = struct.pack(">BHHB", 8, 10, 20, 3) + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
    seg = b"\xff\xc0" + struct.pack(">H", len(sof3) + 2) + sof3
    assert jpeg_info(b"\xff\xd8" + seg + b"\xff\xd9") == (20, 10, 3, 8)

    for bad in (b"", b"\xff\xd8", b"\xff\xd8\xff\xe0rest",
                b"nonsense", data[:30]):
        try:
            jpeg_info(bad)
            raise AssertionError(f"should have raised: {bad!r}")
        except ValueError:
            pass
    # info tolerates truncation AFTER SOF (dims already parsed), but the
    # full-structure walk of jpeg_features must flag the missing EOI
    assert jpeg_info(data[:-20]) == (640, 480, 1, 8)
    try:
        jpeg_features([data[:-20]])
        raise AssertionError("features should require EOI")
    except ValueError:
        pass


def test_png_paeth_decode_is_bounded():
    """VERDICT_r4 "What's wrong #3": the unfilter path must not hide a
    per-byte Python loop — an all-Paeth 256x256 RGBA image (the
    real-world worst case) must decode via the anti-diagonal wavefront in
    well under the ~50 ms bar (generous 250 ms asserted for steal-noise),
    and exactly."""
    import time

    from batch_jaro_winkler_spark.functions.png import decode_png, encode_png

    rng = np.random.default_rng(41)
    px = rng.integers(0, 256, (256, 256, 4), dtype=np.uint8)
    data = encode_png(px, filter_type=4)
    decode_png(data)  # warm
    t0 = time.time()
    out = decode_png(data)
    sec = time.time() - t0
    assert np.array_equal(out, px)
    assert sec < 0.25, f"Paeth 256x256 RGBA decode took {sec * 1000:.0f} ms"


def test_png_features_gray_alpha_luminance_ignores_alpha():
    """ADVICE r3: color type 4 (gray+alpha) luminance must come from the
    gray plane only — identical gray data under different alpha planes
    must yield identical luminance stats and histogram."""
    from batch_jaro_winkler_spark.functions.png import encode_png, png_features

    rng = np.random.default_rng(23)
    gray = rng.integers(0, 256, (6, 5, 1), dtype=np.uint8)
    a_lo = np.full((6, 5, 1), 3, dtype=np.uint8)
    a_hi = np.full((6, 5, 1), 250, dtype=np.uint8)
    f_lo, f_hi = png_features(
        [encode_png(np.dstack([gray[..., 0], a_lo[..., 0]]).reshape(6, 5, 2)),
         encode_png(np.dstack([gray[..., 0], a_hi[..., 0]]).reshape(6, 5, 2))]
    )
    f_gray = png_features([encode_png(gray)])[0]
    # stats + histogram slots agree with the pure-gray image (crc32 slot 7
    # and the channels slot 2 legitimately differ)
    for sl in (slice(3, 7), slice(8, 16)):
        assert f_lo[sl].tolist() == f_hi[sl].tolist() == f_gray[sl].tolist()


def test_png_resize_is_real_and_default(spark):
    """VERDICT_r3 #5: image/png payloads resize through the REAL
    decode -> box-average -> encode path by default; other mimes keep the
    declared stub; corrupt PNGs soft-fail into resize_error."""
    from batch_jaro_winkler_spark import multimodal as mm
    from batch_jaro_winkler_spark.functions.png import (
        decode_png,
        encode_png,
        png_info,
        resize_png,
    )

    rng = np.random.default_rng(31)
    # integer-factor downscale: box average == exact 2x2 block means
    px = rng.integers(0, 256, (8, 6, 3), dtype=np.uint8)
    out = decode_png(resize_png(encode_png(px), width=3, height=4))
    assert out.shape == (4, 3, 3)
    blocks = px.reshape(4, 2, 3, 2, 3).mean(axis=(1, 3))
    assert np.array_equal(out, np.clip(np.rint(blocks), 0, 255).astype(np.uint8))
    # upscale keeps dims and constant regions exactly
    flat = np.full((2, 2, 1), 77, dtype=np.uint8)
    up = decode_png(resize_png(encode_png(flat), width=5, height=3))
    assert up.shape == (3, 5, 1) and np.all(up == 77)

    rows = [
        (1, encode_png(px)),
        (2, b"plain unrecognized bytes" * 10),   # no magic → stub thumbnail
        (3, b"\x89PNGbroken"),                   # corrupt → resize_error
        # jpeg magic + garbage: since round 5 image/jpeg has a REAL
        # resize (decode→box-average→re-encode), so this soft-fails
        (4, b"\xff\xd8\xff\xe0jpegdata" * 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in mm.resize_images(df, width=3, height=4).collect()}
    thumb = bytes(got[1]["thumb"])
    assert png_info(thumb)[:2] == (3, 4)  # real PNG out, right dims
    assert np.array_equal(decode_png(thumb), out)
    assert got[2]["thumb"] is not None and got[2]["resize_error"] is None
    assert len(bytes(got[2]["thumb"])) <= 3 * 4  # stub contract
    assert got[3]["thumb"] is None and got[3]["resize_error"]
    assert got[4]["thumb"] is None and got[4]["resize_error"]


def test_catalog_atomic_and_lineage(spark, tmp_path):
    from batch_jaro_winkler_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    df = spark.range(10).withColumnRenamed("id", "v")
    m = cat.write("t1", df, config_hash="abc", extra_meta={"stage": "test"})
    assert m == cat.manifest("t1")
    assert m["rows"] == 10 and m["config_hash"] == "abc" and m["stage"] == "test"
    assert cat.read("t1").count() == 10
    assert cat.exists("t1", "abc") and not cat.exists("t1", "other")

    # a checkpoint without a manifest is invisible (atomicity contract)
    import os
    import shutil

    os.makedirs(str(tmp_path / "cat" / "broken" / "data"), exist_ok=True)
    assert not cat.exists("broken")


def test_catalog_write_runs_one_job(spark, tmp_path):
    """The checkpoint write is the only Spark job: no read-back or schema
    inference over the files just written."""
    from batch_jaro_winkler_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    df = spark.range(10)
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", "catalog_write_one_job")
    try:
        m = cat.write("t", df, config_hash="abc")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert len(sc.statusTracker().getJobIdsForGroup("catalog_write_one_job")) == 1
    assert m == cat.manifest("t")


def test_catalog_read_runs_no_job(spark, tmp_path):
    """A checkpoint read takes its schema from the manifest: neither a
    table read nor a two-part union runs a schema-inference job."""
    import os

    from batch_jaro_winkler_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    df = spark.range(10).selectExpr("id AS v", "CAST(id AS int) AS w", "array(id) AS arr")
    cat.write("t", df, config_hash="abc")
    cat.write("t_part", df.selectExpr("v + 10 AS v", "w", "arr"), config_hash="abc")
    cat.add_part("t", "t_part")
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", "catalog_read_no_job")
    try:
        one = cat.read("t")
        both = cat.read_union("t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert len(sc.statusTracker().getJobIdsForGroup("catalog_read_no_job")) == 0
    assert one.schema == spark.read.parquet(os.path.join(cat.root, "t", "data")).schema
    assert sorted(r.v for r in both.collect()) == list(range(20))


def test_killed_compaction_leaves_no_duplicates(spark, tmp_path, monkeypatch):
    """The part list lives in the manifest, so the rename that swaps in the
    compacted base also clears it: a compaction killed right after that
    rename leaves read_union duplicate-free, and the next one is a no-op."""
    import os

    from batch_jaro_winkler_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write("t", spark.range(10).selectExpr("id AS v"), config_hash="abc")
    for p in range(9):
        name = f"t_part{p}"
        cat.write(name, spark.range(1).selectExpr(f"{10 + p} AS v"), config_hash="abc")
        cat.add_part("t", name)
    assert len(cat.parts("t")) == 9

    class Killed(BaseException):
        pass

    real_rename = os.rename

    def dying_rename(src, dst):
        real_rename(src, dst)
        raise Killed("compaction killed after its data write")

    monkeypatch.setattr(os, "rename", dying_rename)
    with pytest.raises(Killed):
        cat.compact("t")
    monkeypatch.setattr(os, "rename", real_rename)
    assert sorted(r.v for r in cat.read_union("t").collect()) == list(range(19))
    assert cat.parts("t") == []
    assert not cat.compact("t")


# --- hot buckets: salted chaining keeps connectivity in every pair-gen path ---

_MEGA, _SMALL = 200, 3


def _chain_reference(members, cap: int, window: int) -> set:
    """The exact pair set ``lsh.bucket_pairs`` emits, in pure Python.

    ``members`` are (bucket key, doc_id, signed 64-bit order) rows.
    Buckets of 2..cap members pair fully.  Larger buckets split into salts
    by the top 4 bits of the unsigned order; inside a salt, members sorted
    by (unsigned order, doc_id) link to their next ``window`` members, and
    the last member of each salt links to the first of the next salt."""
    import itertools
    from collections import defaultdict

    buckets = defaultdict(list)
    for key, doc, order in members:
        buckets[key].append((order % 2**64, doc))
    pairs = set()

    def link(u, v):
        if u != v:
            pairs.add((min(u, v), max(u, v)))

    for ms in buckets.values():
        if len(ms) <= cap:
            for (_, u), (_, v) in itertools.combinations(ms, 2):
                link(u, v)
            continue
        salts = defaultdict(list)
        for order, doc in sorted(ms):
            salts[order >> 60].append(doc)
        prev_last = None
        for s in sorted(salts):
            run = salts[s]
            for i, u in enumerate(run):
                for v in run[i + 1 : i + 1 + window]:
                    link(u, v)
            if prev_last is not None:
                link(prev_last, run[0])
            prev_last = run[-1]
    return pairs


def _hot_lsh(spark):
    from batch_jaro_winkler_spark.operators.lsh import candidate_pairs

    cfg = DedupConfig(allpairs_cap=8, neighbor_window=2)
    # one mega bucket of 200 docs (same band hash) + a small 3-doc bucket
    rng = np.random.default_rng(5)
    rows = [(i, int(rng.integers(-2**62, 2**62)), 0, 777) for i in range(_MEGA)]
    rows += [(1000 + i, int(rng.integers(-2**62, 2**62)), 1, 888) for i in range(_SMALL)]
    buckets = spark.createDataFrame(
        rows, "doc_id long, sort_key long, band_id int, band_hash long"
    )
    members = [((bid, bh), doc, sk) for doc, sk, bid, bh in rows]
    return candidate_pairs(buckets, cfg), cfg, members


def _hot_fingerprint(spark):
    from batch_jaro_winkler_spark.operators.fingerprint_dedup import fingerprint_pairs

    cfg = DedupConfig(allpairs_cap=8, neighbor_window=2)
    # doc i holds the shared fingerprint at offset pos(i) = 3*i + 1
    rows = [(i, 777, 3 * i + 1) for i in range(_MEGA)]
    rows += [(1000 + i, 888, 3 * (1000 + i) + 1) for i in range(_SMALL)]
    fps = spark.createDataFrame(rows, "doc_id long, fp long, pos int")
    pairs = fingerprint_pairs(fps, cfg)
    # the seed offsets travel with their own side through the salted path
    bad = pairs.where(
        (F.col("pos_a") != 3 * F.col("a") + 1) | (F.col("pos_b") != 3 * F.col("b") + 1)
    )
    assert bad.count() == 0
    members = fps.select("fp", "doc_id", F.xxhash64("doc_id")).collect()
    return pairs, cfg, [tuple(r) for r in members]


def _hot_embedding(spark):
    from batch_jaro_winkler_spark.operators import ann

    # one hyperplane, one table: vectors near the plane normal share one
    # bucket, vectors near its negation the other
    dim = 16
    normal = np.random.default_rng(42).standard_normal((1, 1, dim)).astype(np.float32)[0, 0]
    noise = 0.01 * np.random.default_rng(5).standard_normal((_MEGA + _SMALL, dim))
    vecs = np.vstack([np.tile(normal, (_MEGA, 1)), np.tile(-normal, (_SMALL, 1))]) + noise
    ids = list(range(_MEGA)) + [1000 + i for i in range(_SMALL)]
    emb = spark.createDataFrame(
        [(i, v.astype(np.float32).tolist()) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>",
    )
    # the cap is read while the plan is built
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ann, "_BUCKET_CAP", 8)
        pairs = ann.embedding_dup_pairs_lsh(
            emb, threshold=-1.0, dim=dim, n_planes=1, n_tables=1
        )
    members = (
        ann.bucket_key_arrays(emb, "vec_id", "embedding", dim, n_planes=1, n_tables=1)
        .select(F.col("buckets")[0], "vec_id", F.xxhash64("vec_id"))
        .collect()
    )
    return pairs, DedupConfig(allpairs_cap=8), [tuple(r) for r in members]


@pytest.mark.parametrize(
    "build",
    [_hot_lsh, _hot_fingerprint, _hot_embedding],
    ids=["candidate_pairs", "fingerprint_pairs", "embedding_dup_pairs_lsh"],
)
def test_hot_bucket_salted_connectivity(spark, build):
    from batch_jaro_winkler_spark.operators.connected_components import (
        connected_components,
    )

    pairs, cfg, members = build(spark)
    window = cfg.neighbor_window
    got = {(r["a"], r["b"]) for r in pairs.select("a", "b").collect()}
    # the exact chained pair set, against a pure-Python reference
    assert got == _chain_reference(members, cfg.allpairs_cap, window)
    # linear, not quadratic: <= members * window + salt boundaries + small bucket
    assert len(got) <= _MEGA * window + 2**4 + 3, len(got)
    small = {(1000 + i, 1000 + j) for i in range(_SMALL) for j in range(i + 1, _SMALL)}
    assert small <= got  # the small bucket still gets all its pairs
    nodes = spark.createDataFrame(
        [(d,) for d in sorted({m[1] for m in members})], "doc_id long"
    )
    clusters = connected_components(pairs.select("a", "b"), all_nodes=nodes)
    roots = {
        r["cluster_id"]
        for r in clusters.where(F.col("doc_id") < 1000).collect()
    }
    assert roots == {0}, roots  # the mega bucket stays one component
    mega_nodes = clusters.where(F.col("doc_id") < 1000).count()
    assert mega_nodes == _MEGA


# --- per-partition suffix-array substring detection ---


def test_suffix_array_exact_pairs():
    from batch_jaro_winkler_spark.operators.suffix_array import (
        partition_substring_pairs,
    )

    shared = "x" * 0 + "the quick brown fox jumps over the lazy dog " * 6  # 270 chars
    texts = [
        "aaa " * 80 + shared,                  # doc 0: shares with 1 and 3
        shared + " bbb" * 80,                  # doc 1
        "totally unrelated words " * 20,       # doc 2: no overlap
        "ccc " * 50 + shared + " ddd" * 50,    # doc 3
        "short",                               # doc 4: below min_len
    ]
    ids = np.arange(5, dtype=np.int64)
    pairs = partition_substring_pairs(ids, texts, min_len=200)
    # every pair of the class {0,1,3}, nothing touching 2 or 4
    assert pairs == {(0, 1), (0, 3), (1, 3)}, pairs


def test_suffix_array_edges_spark(spark):
    from batch_jaro_winkler_spark.operators.suffix_array import suffix_array_edges

    shared = "zq " + "the common block of text that repeats verbatim here " * 5
    docs = spark.createDataFrame(
        [
            (0, "intro words " * 30 + shared),
            (1, shared + "outro words " * 30),
            (2, "different content entirely " * 30),
        ],
        "doc_id long, text string",
    ).coalesce(1)
    got = {
        (r["a"], r["b"])
        for r in suffix_array_edges(docs, DedupConfig(min_substring_chars=200)).collect()
    }
    assert got == {(0, 1)}, got


def test_suffix_array_sampled_key_interloper():
    """ADVICE repro: a suffix equal to two true matches at ONLY the 16
    sampled key offsets interleaves between them in the sorted run; the
    exact-prefix class grouping must still pair the true matches."""
    from batch_jaro_winkler_spark.operators.suffix_array import (
        partition_substring_pairs,
    )

    min_len = 200
    offs = np.linspace(0, min_len - 1, 16).astype(np.int64)
    rng = np.random.default_rng(7)
    block = "".join(chr(97 + c) for c in rng.integers(0, 26, min_len))
    decoy = ["x"] * min_len
    for o in offs:
        decoy[int(o)] = block[int(o)]
    decoy = "".join(decoy)
    texts = ["p" * 10 + block, "q" * 10 + decoy, "r" * 10 + block]
    pairs = partition_substring_pairs(np.arange(3, dtype=np.int64), texts, min_len)
    assert (0, 2) in pairs, pairs
    assert not any(1 in p for p in pairs), pairs  # decoy is NOT a real match


def test_suffix_array_astral_plane_not_separator():
    """U+FFFD and astral-plane chars are real web text, not separators:
    a shared block that has no 200-char stretch free of them must still
    pair (the sentinel lives above 0x10FFFF)."""
    from batch_jaro_winkler_spark.operators.suffix_array import (
        partition_substring_pairs,
    )

    block = ("abcdefgh" * 12 + "\U0001F389" + "ijklmnop" * 12 + "�") * 3
    texts = ["one " * 20 + block, block + " two" * 20, "unrelated " * 50]
    pairs = partition_substring_pairs(np.arange(3, dtype=np.int64), texts, 200)
    assert (0, 1) in pairs, pairs


def test_suffix_array_co_partition(spark):
    """Full duplicates split across input partitions are reunited by the
    content-key repartition (their global-min gram is identical), so the
    suffix-array stage finds them WITHOUT the fingerprint stage."""
    from batch_jaro_winkler_spark.operators.suffix_array import suffix_array_edges

    rng = np.random.default_rng(3)

    def doc(seed_words):
        return " ".join(seed_words[i % len(seed_words)] for i in range(120))

    words_a = [f"alpha{c}" for c in rng.integers(0, 999, 40)]
    words_b = [f"beta{c}" for c in rng.integers(0, 999, 40)]
    dup_a, dup_b = doc(words_a), doc(words_b)
    rows = [(0, dup_a), (17, dup_a), (5, dup_b), (23, dup_b)]
    rows += [(100 + i, doc([f"fill{i}x{c}" for c in rng.integers(0, 999, 40)]))
             for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(
        8, "doc_id"
    )
    cfg = DedupConfig(min_substring_chars=200)
    got = {
        (r["a"], r["b"])
        for r in suffix_array_edges(docs, cfg, co_partition=True).collect()
    }
    assert {(0, 17), (5, 23)} <= got, got


def test_suffix_array_degenerate_run_chunked(monkeypatch):
    """ADVICE: long repeated boilerplate makes one sampled-key run cover
    most suffixes; above _PREFIX_MAT_CAP the class grouping must refine
    over bounded column blocks and still produce the same pairs."""
    from batch_jaro_winkler_spark.operators import suffix_array as sa

    boiler = "na" * 150  # 300 chars of period-2 text → giant equal-key runs
    texts = [boiler + " tail one", "head " + boiler, "unrelated stuff " * 30]
    ids = np.arange(3, dtype=np.int64)
    direct = sa.partition_substring_pairs(ids, texts, min_len=200)
    monkeypatch.setattr(sa, "_PREFIX_MAT_CAP", 64)  # force the block path
    chunked = sa.partition_substring_pairs(ids, texts, min_len=200)
    assert direct == chunked
    assert (0, 1) in chunked, chunked


def test_ivf_assign_empty_partition(spark, monkeypatch):
    """ADVICE: an empty Arrow batch must not crash ivf_assign (np.stack
    raises on zero arrays) — 16-partition frame with 3 rows guarantees
    empty partitions."""
    from batch_jaro_winkler_spark.operators import ann

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(3)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(16)
    probes = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "probe_id long, probe_vec array<float>"
    ).repartition(8)
    got = ann.cosine_topk_ivf(probes, corpus, k=1, n_centroids=2, n_probe=2).collect()
    assert len(got) == 1 and got[0]["vec_id"] == 0

    monkeypatch.setattr(ann, "_MAX_PROBES", 0)
    with pytest.raises(ValueError, match="exceeds 0 probes"):
        ann.cosine_topk_ivf(probes, corpus, k=1, n_centroids=2).collect()


def test_cc_local_union_find_emits_roots(spark):
    """The local union-find returns a row for EVERY node, component roots
    included, so the endgame's lookup never falls back to the doc id for
    a node that has an edge."""
    from batch_jaro_winkler_spark.operators.connected_components import (
        _local_union_find,
        connected_components,
    )

    nodes, roots = _local_union_find([2, 3, 11], [1, 2, 10])
    assert dict(zip(nodes.tolist(), roots.tolist())) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    nodes = spark.createDataFrame([(d,) for d in (1, 2, 3, 10, 11)], "doc_id long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges, all_nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}, got


def test_extract_text_nested_entities(spark):
    from batch_jaro_winkler_spark.pipeline import extract_text

    df = spark.createDataFrame(
        [(1, b"<p>&amp;lt;tag&amp;gt; &amp; x &lt;y&gt;</p>")],
        "doc_id long, html binary",
    )
    out = extract_text(df).collect()[0]["text"]
    assert out == "&lt;tag&gt; & x <y>", out


def test_embedding_dup_pairs_lsh_recall(spark):
    """Planted near-dups (cos ~0.99): the bucketed pair generator must
    reach >=0.95 recall vs brute force with NO cartesian join in the plan."""
    from batch_jaro_winkler_spark.operators.ann import embedding_dup_pairs_lsh

    rng = np.random.default_rng(5)
    dim, n_base, n_dup = 32, 200, 100
    base = rng.standard_normal((n_base, dim)).astype(np.float32)
    dup_src = rng.integers(0, n_base, n_dup)
    dups = base[dup_src] + 0.05 * rng.standard_normal((n_dup, dim)).astype(np.float32)
    vecs = np.vstack([base, dups])
    emb = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    # brute-force ground truth at the threshold
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = norm @ norm.T
    iu = np.triu_indices(len(vecs), 1)
    truth = {
        (int(a), int(b))
        for a, b in zip(iu[0][cos[iu] >= 0.9], iu[1][cos[iu] >= 0.9])
    }
    lsh = embedding_dup_pairs_lsh(emb, threshold=0.9, dim=dim, n_planes=8, n_tables=8)
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = {(r["a"], r["b"]) for r in lsh.collect()}
    assert got <= truth  # exact re-rank: no false positives
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"recall {recall:.3f} ({len(got)}/{len(truth)})"


def test_multimodal_resize_and_frames(spark):
    from batch_jaro_winkler_spark import multimodal as mm

    df = spark.createDataFrame(
        [(1, b"\x89PNG\r\n" + b"x" * 9000), (2, b"tiny"), (3, b"")],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in mm.resize_images(df, 8, 8).collect()}
    assert out[1]["mime"] == "image/png"
    # sniffs as PNG but is not decodable → the REAL default png resize
    # soft-fails it (the sha-stub only covers mimes with no decoder)
    assert out[1]["thumb"] is None and out[1]["resize_error"]
    assert out[2]["n_bytes_out"] == 4  # shorter payloads shrink
    assert out[3]["thumb"] is None and out[3]["resize_error"]  # empty fails soft
    # deterministic: same payload → same thumb
    again = {r["doc_id"]: r for r in mm.resize_images(df, 8, 8).collect()}
    assert bytes(again[2]["thumb"]) == bytes(out[2]["thumb"])

    frames = mm.sample_frames(df, every_n=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append((r["frame_no"], len(r["frame"])))
    # 9006-byte payload → 3 frames of 4096/4096/814; every 2nd → frames 0, 2
    assert sorted(by_doc[1]) == [(0, 4096), (2, 9006 - 2 * 4096)]
    assert by_doc[2] == [(0, 4)]
    assert 3 not in by_doc  # empty payload yields no frames


def test_ann_ivf_vs_bruteforce(spark):
    from batch_jaro_winkler_spark.operators.ann import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    rng = np.random.default_rng(13)
    dim, n_clusters, per = 32, 40, 10
    centers = rng.standard_normal((n_clusters, dim)).astype(np.float32)
    corpus = (
        centers.repeat(per, axis=0)
        + 0.15 * rng.standard_normal((n_clusters * per, dim)).astype(np.float32)
    )
    emb = spark.createDataFrame(
        [(i, corpus[i].tolist()) for i in range(len(corpus))],
        "vec_id long, embedding array<float>",
    )
    probes = spark.createDataFrame(
        [(i * per, corpus[i * per].tolist()) for i in range(5)],
        "probe_id long, probe_vec array<float>",
    )
    brute = cosine_topk_bruteforce(probes, emb, k=8)
    ivf = cosine_topk_ivf(probes, emb, k=8, n_centroids=32, n_probe=6)
    b = {(r["probe_id"], r["vec_id"]) for r in brute.collect()}
    v = {(r["probe_id"], r["vec_id"]) for r in ivf.collect()}
    recall = len(b & v) / len(b)
    assert recall >= 0.8, recall
    # the probe itself must be in its own cell's list
    assert all((p * per, p * per) in v for p in range(5))


def test_sniff_mime_sql_matches_byte_semantics():
    """ADVICE_r5: the DuckDB sniff twin's positional ftyp test must match
    Spark's binary-substring semantics even with multibyte utf-8 chars in
    the first 8 positions.  A char prefix encodes to a byte prefix, so hex
    positions track bytes — pinned here with a seeded multibyte fuzz
    (planted 'ftyp' fourccs, emoji/CJK/latin-1 mixes, short payloads)."""
    import random

    import duckdb

    from batch_jaro_winkler_spark.multimodal import (
        ISO_BMFF_FTYP_HEX,
        ISO_BMFF_MIME,
        MAGIC_BYTES,
        sniff_mime_sql,
    )

    def spark_semantics(text: str) -> str:
        head = text.encode("utf-8")[:8].hex().upper()
        for prefix, mime in MAGIC_BYTES:
            if head.startswith(prefix.upper()):
                return mime
        if head[8:16] == ISO_BMFF_FTYP_HEX.upper():
            return ISO_BMFF_MIME
        return "application/octet-stream"

    rng = random.Random(7)
    con = duckdb.connect()
    sql = sniff_mime_sql("t")
    for _ in range(800):
        chars = []
        for _ in range(rng.randint(0, 12)):
            r = rng.random()
            if r < 0.4:
                chars.append(chr(rng.randint(32, 126)))
            elif r < 0.6:
                chars.append("é")
            elif r < 0.75:
                chars.append("中")
            elif r < 0.85:
                chars.append(chr(rng.randint(0x1F600, 0x1F64F)))
            else:
                chars.append(rng.choice("ftyp"))
        t = "".join(chars)
        if rng.random() < 0.3:
            k = rng.randint(0, len(t))
            t = t[:k] + "ftyp" + t[k:]
        got = con.execute(f"SELECT {sql} FROM (SELECT ? AS t)", [t]).fetchone()[0]
        assert got == spark_semantics(t), (t.encode("utf-8")[:12], got)


def test_frame_features_routes_and_soft_fails_per_frame(spark):
    """frame_features = demux every 2nd frame → per-frame sniff →
    builtin decoder: a valid JPEG sample decodes through the real pixel
    path while a JPEG-magic-but-truncated sibling lands in decode_error
    WITHOUT dropping the good frame (per-frame soft-fail, job alive)."""
    import struct

    from batch_jaro_winkler_spark.functions.jpeg import encode_jpeg_baseline
    from batch_jaro_winkler_spark.multimodal import frame_features

    def box(fourcc: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    good = encode_jpeg_baseline(np.full((8, 16), 77, np.uint8))
    bad = b"\xff\xd8\xff\xe0broken-not-a-real-jpeg"
    samples = [good, b"not sampled", bad]  # every 2nd: frames 0 and 2
    sizes = [len(s) for s in samples]
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom")
    mdat = box(b"mdat", b"".join(samples))
    stsz = box(
        b"stsz",
        b"\x00" * 4 + struct.pack(">II", 0, 3)
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    stsc = box(b"stsc", b"\x00" * 4 + struct.pack(">I", 1) + struct.pack(">III", 1, 3, 1))
    stco = box(b"stco", b"\x00" * 4 + struct.pack(">I", 1) + struct.pack(">I", len(ftyp) + 8))
    moov = box(b"moov", box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", stsz + stsc + stco)))))
    payload = ftyp + mdat + moov

    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    rows = {r["frame_no"]: r for r in frame_features(df).collect()}
    assert set(rows) == {0, 2}
    ok = rows[0]
    assert ok["mime"] == "image/jpeg" and ok["decode_error"] is None
    assert int(ok["features"][0]) == 16 and int(ok["features"][1]) == 8
    assert round(ok["features"][5] * 255) == 77 == round(ok["features"][6] * 255)
    failed = rows[2]
    assert failed["mime"] == "image/jpeg" and failed["features"] is None
    assert failed["decode_error"]
