"""Real container demuxers (functions/containers.py): GIF block-structure,
RIFF/WAVE chunk and ISO-BMFF box/sample-table parsing — frame sampling
without any codec, the declared frame-iter stubs retired for these mimes."""

from __future__ import annotations

import struct

import pytest

from batch_jaro_winkler_spark.functions.containers import (
    gif_frames,
    mp3_frames,
    mp4_frames,
    wav_frames,
    webm_frames,
)


def make_gif(n_frames: int, with_gct: bool = True, with_ext: bool = True) -> bytes:
    out = b"GIF89a" + struct.pack("<HH", 4, 3)
    if with_gct:
        out += bytes([0x80 | 0x01, 0, 0])  # GCT flag, 2^(1+1)=4 entries
        out += b"\x00" * (3 * 4)
    else:
        out += bytes([0, 0, 0])
    for i in range(n_frames):
        if with_ext:  # graphics-control extension before each frame
            out += b"\x21\xf9\x04" + bytes([0, 5, 0, 0]) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 3) + bytes([0])
        out += bytes([2])  # LZW min code size
        body = bytes([i]) * 5
        out += bytes([len(body)]) + body + b"\x00"  # one sub-block + term
    return out + b"\x3b"


def make_wav(n_bytes: int, byte_rate: int = 8000) -> bytes:
    fmt = struct.pack("<HHIIHH", 1, 1, byte_rate, byte_rate, 1, 8)
    data = bytes(range(256)) * (n_bytes // 256 + 1)
    data = data[:n_bytes]
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _box(fourcc: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + fourcc + body


def make_mp4(
    sample_sizes: list[int],
    chunks: list[int] | None = None,
    use_co64: bool = False,
    fixed_size: int = 0,
) -> bytes:
    """Minimal valid ISO-BMFF file: ftyp + mdat (samples concatenated) +
    moov/trak/mdia/minf/stbl with stsz/stsc/stco(co64) describing them.
    ``chunks`` splits the samples into runs sharing one chunk offset."""
    if chunks is None:
        chunks = [len(sample_sizes)]
    assert sum(chunks) == len(sample_sizes)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom")
    payload = b"".join(
        bytes([i % 251]) * s for i, s in enumerate(sample_sizes)
    )
    mdat = _box(b"mdat", payload)
    offs, pos, si = [], len(ftyp) + 8, 0
    for c in chunks:
        offs.append(pos)
        for _ in range(c):
            pos += sample_sizes[si]
            si += 1
    if fixed_size:
        stsz = _box(
            b"stsz",
            b"\x00" * 4 + struct.pack(">II", fixed_size, len(sample_sizes)),
        )
    else:
        stsz = _box(
            b"stsz",
            b"\x00" * 4
            + struct.pack(">II", 0, len(sample_sizes))
            + b"".join(struct.pack(">I", s) for s in sample_sizes),
        )
    runs = []  # stsc run-length encodes consecutive equal chunk loads
    for ci, c in enumerate(chunks):
        if not runs or runs[-1][1] != c:
            runs.append((ci + 1, c))
    stsc = _box(
        b"stsc",
        b"\x00" * 4
        + struct.pack(">I", len(runs))
        + b"".join(struct.pack(">III", fc, c, 1) for fc, c in runs),
    )
    if use_co64:
        stco = _box(
            b"co64",
            b"\x00" * 4
            + struct.pack(">I", len(offs))
            + b"".join(struct.pack(">Q", o) for o in offs),
        )
    else:
        stco = _box(
            b"stco",
            b"\x00" * 4
            + struct.pack(">I", len(offs))
            + b"".join(struct.pack(">I", o) for o in offs),
        )
    stbl = _box(b"stbl", stsz + stsc + stco)
    minf = _box(b"minf", _box(b"vmhd", b"\x00" * 8) + stbl)
    mdia = _box(b"mdia", _box(b"mdhd", b"\x00" * 20) + minf)
    trak = _box(b"trak", _box(b"tkhd", b"\x00" * 80) + mdia)
    moov = _box(b"moov", _box(b"mvhd", b"\x00" * 96) + trak)
    return ftyp + mdat + moov


# bitrate-index for each MPEG-1 Layer III bitrate used by make_mp3
_L3_BRI = {32: 1, 64: 5, 96: 7, 128: 9, 160: 10, 192: 11}


def make_mp3(
    bitrates_kbps: list[int],
    with_id3v2: bool = True,
    with_id3v1: bool = False,
    pad_frames: set[int] | None = None,
) -> bytes:
    """MPEG-1 Layer III at 32 kHz: frame length = 144*br/32000 exactly
    (pad adds 1).  One header+filler frame per listed bitrate."""
    out = b""
    if with_id3v2:
        tag_body = b"\x00" * 20
        out += b"ID3\x04\x00\x00" + bytes([0, 0, 0, len(tag_body)]) + tag_body
    for i, br in enumerate(bitrates_kbps):
        pad = 1 if pad_frames and i in pad_frames else 0
        h = (
            (0x7FF << 21)  # frame sync
            | (3 << 19)  # MPEG-1
            | (1 << 17)  # Layer III
            | (1 << 16)  # no CRC
            | (_L3_BRI[br] << 12)
            | (2 << 10)  # 32 kHz
            | (pad << 9)
        )
        flen = 144 * br * 1000 // 32000 + pad
        out += struct.pack(">I", h) + bytes([i % 251]) * (flen - 4)
    if with_id3v1:
        out += b"TAG" + b"\x00" * 125
    return out


def _ebml_size(n: int) -> bytes:
    if n < 0x7F:  # 0x7F itself is the 1-byte "unknown size" pattern
        return bytes([0x80 | n])
    assert n < 0x3FFF
    return bytes([0x40 | (n >> 8), n & 0xFF])


def _ebml(id_bytes: bytes, body: bytes) -> bytes:
    return id_bytes + _ebml_size(len(body)) + body


def make_webm(
    block_payload_sizes: list[int],
    use_blockgroup: set[int] | None = None,
    unknown_segment_size: bool = False,
) -> bytes:
    """EBML header + Segment + one Cluster of SimpleBlocks (each: track
    vint 0x81, i16be timecode, flags byte, opaque payload).  Indices in
    ``use_blockgroup`` wrap their block in BlockGroup/Block instead."""
    header = _ebml(b"\x1a\x45\xdf\xa3", _ebml(b"\x42\x86", b"\x01"))
    blocks = b""
    for i, sz in enumerate(block_payload_sizes):
        body = b"\x81" + struct.pack(">h", i) + b"\x00" + bytes([i % 251]) * sz
        if use_blockgroup and i in use_blockgroup:
            blocks += _ebml(b"\xa0", _ebml(b"\xa1", body))
        else:
            blocks += _ebml(b"\xa3", body)
    cluster = _ebml(b"\x1f\x43\xb6\x75", _ebml(b"\xe7", b"\x00") + blocks)
    if unknown_segment_size:
        return header + b"\x18\x53\x80\x67" + b"\xff" + cluster
    return header + _ebml(b"\x18\x53\x80\x67", cluster)


def test_gif_demux_frames_and_sampling():
    gif = make_gif(5)
    frames = list(gif_frames(gif, every_n=1))
    assert [i for i, _ in frames] == [0, 1, 2, 3, 4]
    for i, fb in frames:
        assert fb[0] == 0x2C  # raw image-descriptor block
        assert bytes([i]) * 5 in fb  # this frame's own data travels with it
    sampled = list(gif_frames(gif, every_n=2))
    assert [i for i, _ in sampled] == [0, 2, 4]
    # each frame is a verbatim byte range of the original stream
    assert all(fb in gif for _, fb in frames)
    # no global color table / no extensions variants parse too
    assert len(list(gif_frames(make_gif(2, with_gct=False, with_ext=False), 1))) == 2


def test_gif_demux_rejects_malformed():
    with pytest.raises(ValueError):
        list(gif_frames(b"NOTAGIF", 1))
    with pytest.raises(ValueError):
        list(gif_frames(make_gif(2)[:-5], 1))  # truncated


def test_wav_demux_one_second_frames():
    wav = make_wav(20_000, byte_rate=8000)
    frames = list(wav_frames(wav, every_n=1))
    assert [(i, len(b)) for i, b in frames] == [(0, 8000), (1, 8000), (2, 4000)]
    sampled = list(wav_frames(wav, every_n=2))
    assert [i for i, _ in sampled] == [0, 2]
    with pytest.raises(ValueError):
        list(wav_frames(b"RIFF\x00\x00\x00\x00AVI LIST", 1))  # not WAVE


def test_wav_truncated_fmt_raises_valueerror():
    """A fmt chunk whose DECLARED size is >=16 but whose actual body is
    shorter must raise ValueError (module contract), not struct.error —
    struct.error would escape sample_frames' soft-skip and fail the Spark
    task (ADVICE r4)."""
    payload = b"RIFF" + struct.pack("<I", 20) + b"WAVE"
    payload += b"fmt " + struct.pack("<I", 16) + b"\x01\x00\x01\x00"  # 4 < 16
    with pytest.raises(ValueError):
        list(wav_frames(payload, 1))


def test_sample_frames_no_partial_frames_on_midstream_failure(spark):
    """A GIF valid through frame 2 then truncated must contribute ZERO
    frames (all-or-nothing soft behavior), not the frames parsed before
    the failure (ADVICE r4)."""
    from batch_jaro_winkler_spark import multimodal as mm

    good = make_gif(4)
    # chop inside the stream: drop the trailer and the last frame's tail
    truncated = good[: len(good) - 8]
    assert len(list(gif_frames(good, 1))) == 4  # sanity: valid input works
    with pytest.raises(ValueError):
        list(gif_frames(truncated, 1))
    df = spark.createDataFrame(
        [(1, truncated), (2, good)], "doc_id long, payload binary"
    )
    out = {}
    for r in mm.sample_frames(df, every_n=1).collect():
        out.setdefault(r["doc_id"], []).append(r["frame_no"])
    assert 1 not in out          # no partial frames leaked
    assert sorted(out[2]) == [0, 1, 2, 3]


def test_mp4_demux_samples_and_sampling():
    sizes = [10, 25, 7, 300, 1]
    mp4 = make_mp4(sizes)
    frames = list(mp4_frames(mp4, every_n=1))
    assert [(i, len(b)) for i, b in frames] == list(enumerate(sizes))
    for i, fb in frames:  # each sample is its own verbatim mdat range
        assert fb == bytes([i % 251]) * sizes[i]
    assert [i for i, _ in mp4_frames(mp4, every_n=2)] == [0, 2, 4]


def test_mp4_demux_multi_chunk_stsc_runs():
    # 7 samples over chunks of (2,2,3): stsc run-length encodes to two
    # entries; offsets/sizes must still resolve every sample exactly
    sizes = [5, 6, 7, 8, 9, 10, 11]
    mp4 = make_mp4(sizes, chunks=[2, 2, 3])
    frames = list(mp4_frames(mp4, every_n=1))
    assert [(i, len(b)) for i, b in frames] == list(enumerate(sizes))
    assert all(fb == bytes([i % 251]) * sizes[i] for i, fb in frames)


def test_mp4_demux_co64_and_fixed_size_stsz():
    sizes = [16] * 4
    assert [
        (i, len(b)) for i, b in mp4_frames(make_mp4(sizes, use_co64=True), 1)
    ] == [(0, 16), (1, 16), (2, 16), (3, 16)]
    fixed = make_mp4(sizes, fixed_size=16)
    assert len(list(mp4_frames(fixed, 1))) == 4


def test_mp4_demux_rejects_malformed():
    good = make_mp4([10, 20, 30])
    with pytest.raises(ValueError):
        list(mp4_frames(b"\x00" * 40, 1))  # no ftyp
    with pytest.raises(ValueError):
        list(mp4_frames(good[:-10], 1))  # truncated moov box
    # stco pointing past EOF: patch its chunk-offset field (12 bytes past
    # the "stco" fourcc: ver/flags u32 + count u32) to a huge value
    at = good.index(b"stco") + 12
    broken = good[:at] + struct.pack(">I", 2_000_000) + good[at + 4 :]
    with pytest.raises(ValueError):
        list(mp4_frames(broken, 1))


def test_mp3_demux_frames_and_sampling():
    mp3 = make_mp3([32, 64, 96, 128, 160], with_id3v1=True)
    frames = list(mp3_frames(mp3, every_n=1))
    assert [(i, len(b)) for i, b in frames] == [
        (0, 144), (1, 288), (2, 432), (3, 576), (4, 720),
    ]
    for i, fb in frames:  # header sync survives in each sampled frame
        assert fb[0] == 0xFF and fb[1] & 0xE0 == 0xE0
    assert [i for i, _ in mp3_frames(mp3, every_n=2)] == [0, 2, 4]
    # padding bit adds one byte; no-ID3 stream parses from byte 0
    padded = make_mp3([64, 64], with_id3v2=False, pad_frames={1})
    assert [(i, len(b)) for i, b in mp3_frames(padded, 1)] == [(0, 288), (1, 289)]


def test_mp3_demux_rejects_malformed():
    with pytest.raises(ValueError):
        list(mp3_frames(b"\x00" * 64, 1))  # no sync
    with pytest.raises(ValueError):
        list(mp3_frames(make_mp3([64, 64])[:-40], 1))  # truncated last frame
    with pytest.raises(ValueError):
        # free-format bitrate (index 0) is rejected, not guessed
        h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) | (2 << 10)
        list(mp3_frames(struct.pack(">I", h) + b"\x00" * 100, 1))


def test_webm_demux_blocks_and_sampling():
    webm = make_webm([10, 20, 30, 40], use_blockgroup={2})
    frames = list(webm_frames(webm, every_n=1))
    # block body = track vint + i16 timecode + flags + payload = 4 + sz
    assert [(i, len(b)) for i, b in frames] == [
        (0, 14), (1, 24), (2, 34), (3, 44),
    ]
    for i, fb in frames:
        assert fb[0] == 0x81  # track-1 vint leads every block body
        assert fb[4:] == bytes([i % 251]) * (len(fb) - 4)
    assert [i for i, _ in webm_frames(webm, every_n=2)] == [0, 2]
    # streaming-style unknown Segment size resolves to end-of-payload
    unk = make_webm([5, 6], unknown_segment_size=True)
    assert [(i, len(b)) for i, b in webm_frames(unk, 1)] == [(0, 9), (1, 10)]


def test_webm_demux_rejects_malformed():
    with pytest.raises(ValueError):
        list(webm_frames(b"\x00\x00\x00\x00", 1))  # invalid varint
    with pytest.raises(ValueError):
        list(webm_frames(b"RIFF1234WAVE", 1))  # wrong leading element
    good = make_webm([10, 20])
    with pytest.raises(ValueError):
        list(webm_frames(good[:-6], 1))  # element size overruns scope


def test_demuxers_raise_only_valueerror():
    """sample_frames soft-skips ValueError ONLY — any struct.error /
    IndexError / KeyError escaping a parser kills the whole Spark task
    (the ADVICE-r4 WAV bug class).  Deterministic fuzz: random payloads
    plus truncations/mutations of valid containers."""
    import random

    rng = random.Random(0xC0FFEE)
    valid = [
        make_gif(3),
        make_wav(12_000),
        make_mp4([10, 20, 30], chunks=[1, 2]),
        make_mp3([64, 96, 128]),
        make_webm([10, 20, 30], use_blockgroup={1}),
    ]
    parsers = [gif_frames, wav_frames, mp4_frames, mp3_frames, webm_frames]
    cases = []
    for _ in range(300):
        cases.append(bytes(rng.randrange(256) for _ in range(rng.randrange(0, 200))))
    for v in valid:
        for _ in range(100):
            cut = rng.randrange(0, len(v) + 1)
            cases.append(v[:cut])
            mut = bytearray(v)
            for _ in range(rng.randrange(1, 4)):
                mut[rng.randrange(len(mut))] = rng.randrange(256)
            cases.append(bytes(mut))
    for payload in cases:
        for parse in parsers:
            try:
                list(parse(payload, 2))
            except ValueError:
                pass  # the one exception type the dispatcher soft-skips



@pytest.mark.parametrize(
    "parse, fixtures",
    [
        (gif_frames, lambda: [make_gif(3), make_gif(2, with_gct=False, with_ext=False)]),
        (wav_frames, lambda: [make_wav(12_000), make_wav(700, byte_rate=300)]),
        (
            mp4_frames,
            lambda: [
                make_mp4([10, 20, 30], chunks=[1, 2]),
                make_mp4([8, 8, 8, 8], use_co64=True, fixed_size=8),
            ],
        ),
        (mp3_frames, lambda: [make_mp3([64, 96, 128], with_id3v1=True, pad_frames={1})]),
        (
            webm_frames,
            lambda: [
                make_webm([10, 20, 30], use_blockgroup={1}),
                make_webm([5, 6], unknown_segment_size=True),
            ],
        ),
    ],
    ids=["gif", "wav", "mp4", "mp3", "webm"],
)
def test_demuxer_fuzz_own_format_raises_only_valueerror(parse, fixtures):
    """Seeded fuzz of each demuxer on its OWN format: truncations and 1-4
    random byte flips of valid fixtures, 400 per format.  sample_frames
    soft-skips ValueError only, so any other exception would fail the
    whole Spark job."""
    import random

    rng = random.Random(20261017)
    valid = fixtures()
    assert all(list(parse(v, 1)) for v in valid)  # the seeds demux cleanly
    for k in range(400):
        v = valid[k % len(valid)]
        if k % 4 == 0:
            case = v[: rng.randrange(len(v))]
        else:
            mut = bytearray(v)
            for _ in range(rng.randint(1, 4)):
                mut[rng.randrange(len(mut))] ^= rng.randrange(1, 256)
            case = bytes(mut)
        for every_n in (1, 2):
            try:
                list(parse(case, every_n))
            except ValueError:
                pass  # the one exception type the dispatcher soft-skips

def test_sample_frames_dispatches_by_mime(spark):
    """GIF/WAV payloads demux for real by default; other payloads keep the
    4KiB stub; corrupt containers soft-skip (no rows, job survives)."""
    from batch_jaro_winkler_spark import multimodal as mm

    gif = make_gif(6)
    wav = make_wav(20_000)
    mp4 = make_mp4([11, 22, 33, 44, 55])
    rows = [
        (1, gif),
        (2, wav),
        (3, b"plain text payload " * 500),   # stub: 4KiB pseudo-frames
        (4, b"GIF89a" + b"\xff" * 30),        # corrupt gif → no rows
        (5, mp4),                             # ftyp-at-offset-4 sniff
        (6, make_mp3([64, 64, 64])),          # ID3 prefix → audio/mpeg
        (7, make_webm([10, 20, 30])),         # EBML prefix → video/webm
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {}
    for r in mm.sample_frames(df, every_n=2).collect():
        out.setdefault(r["doc_id"], []).append((r["frame_no"], bytes(r["frame"])))
    assert [i for i, _ in sorted(out[1])] == [0, 2, 4]
    assert all(fb[0] == 0x2C for _, fb in out[1])
    assert [(i, len(b)) for i, b in sorted(out[2])] == [(0, 8000), (2, 4000)]
    assert [i for i, _ in sorted(out[3])] == [0, 2]  # stub frames 0 and 2
    assert 4 not in out
    assert [(i, len(b)) for i, b in sorted(out[5])] == [(0, 11), (2, 33), (4, 55)]
    assert [(i, len(b)) for i, b in sorted(out[6])] == [(0, 288), (2, 288)]
    assert [(i, len(b)) for i, b in sorted(out[7])] == [(0, 14), (2, 34)]
