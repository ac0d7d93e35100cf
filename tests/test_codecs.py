"""Codec roundtrips + elision predicates (SURVEY §5.2, FIXTURES §4)."""

import contextlib
import signal

import numpy as np
import pytest

from freemap_tiler_spark.functions import codecs

rng = np.random.RandomState(42)


def test_png_roundtrip_rgba():
    img = rng.randint(0, 256, (16, 16, 4)).astype(np.uint8)
    assert (codecs.png_decode(codecs.png_encode(img)) == img).all()


def test_png_roundtrip_ga():
    img = rng.randint(0, 256, (8, 8, 2)).astype(np.uint8)
    assert (codecs.png_decode(codecs.png_encode(img)) == img).all()


def test_png_signature():
    data = codecs.png_encode(np.zeros((4, 4, 2), np.uint8))
    assert data[:8] == codecs.PNG_SIG and data[12:16] == b"IHDR"


def test_alpha_opaque_elision():
    """Fully-opaque alpha encodes to None (src/processor.rs:505-517)."""
    assert codecs.alpha_encode(np.full((8, 8), 255, np.uint8)) is None


def test_alpha_roundtrip_and_absent():
    a = rng.randint(0, 255, (8, 8)).astype(np.uint8)
    enc = codecs.alpha_encode(a)
    assert (codecs.alpha_decode(enc, 64) == a.ravel()).all()
    # absent sidecar => constant 255 (src/processor.rs:205-209)
    assert (codecs.alpha_decode(None, 10) == 255).all()


def test_tile_encode_png_path():
    img = rng.randint(0, 256, (16, 16, 2)).astype(np.uint8)
    data, alpha = codecs.encode_tile(img, "png")
    assert alpha is None
    assert (codecs.decode_tile(data, None, "png") == img).all()


def test_real_jpeg_structure_and_quality():
    """fmt='jpeg' now emits REAL baseline JFIF bytes (SOI/APP0-JFIF/SOF0)
    that any standard decoder reads, and decodes pixel-close."""
    import numpy as np

    from freemap_tiler_spark.functions import jpeg

    x = np.linspace(0, 255, 32)
    grad = np.clip(np.rint(np.add.outer(x, x) / 2), 0, 255).astype(np.uint8)
    rgba = np.stack([grad, grad[::-1], grad.T, np.full_like(grad, 255)], axis=2)
    data, alpha = codecs.encode_tile(rgba, "jpeg", 85)
    assert data[:2] == b"\xff\xd8" and data[6:10] == b"JFIF"
    assert alpha is None  # fully opaque -> sidecar elided
    dec = codecs.decode_tile(data, alpha, "jpeg")
    err = np.abs(dec[:, :, :3].astype(int) - rgba[:, :, :3].astype(int))
    assert err.mean() < 2.0 and err.max() <= 12
    assert (dec[:, :, 3] == 255).all()
    # gray+alpha (the pyramid's native bands)
    ga = np.stack([grad, (grad > 64).astype(np.uint8) * 255], axis=2)
    data, alpha = codecs.encode_tile(ga, "jpeg", 85)
    assert data[:2] == b"\xff\xd8" and alpha is not None
    dec = codecs.decode_tile(data, alpha, "jpeg")
    assert (dec[:, :, 1] == ga[:, :, 1]).all()  # alpha sidecar lossless
    assert np.abs(dec[:, :, 0].astype(int) - grad.astype(int)).mean() < 2.0


_SHAPES = [
    b"",
    b"\x00" * (300 * 1024),                          # past one 128 KiB block
    np.random.default_rng(7).integers(0, 256, 200_000, dtype=np.uint8).tobytes(),
    (b"\xff" * 50 + b"\x00" * 50) * 1000,            # alternating runs
    b"ab" * 7,                                        # short
]


def test_zstd_frame_roundtrip_shapes():
    for data in _SHAPES:
        frame = codecs.alpha_encode(np.frombuffer(data, np.uint8))
        assert frame is None or frame[:4] == codecs.ZSTD_MAGIC
        assert codecs.alpha_decode(frame, len(data)).tobytes() == data


def test_zstd_cli_reads_alpha_sidecar():
    """The sidecar is a standard frame: ``zstd -d`` reads what we write
    (the reference's decode_all reads the same bytes)."""
    import shutil
    import subprocess

    if shutil.which("zstd") is None:
        import pytest

        pytest.skip("no system zstd CLI")
    for data in _SHAPES[1:]:  # b"" elides to None: no frame to read
        frame = codecs.alpha_encode(np.frombuffer(data, np.uint8))
        out = subprocess.run(["zstd", "-d", "-c"], input=frame,
                             capture_output=True, check=True).stdout
        assert out == data


@contextlib.contextmanager
def _time_limit(seconds: float):
    """Raise TimeoutError in the test if the body runs past ``seconds``."""
    def _expire(*_):
        raise TimeoutError(f"still running after {seconds} s")

    old = signal.signal(signal.SIGALRM, _expire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


def test_truncated_or_mis_sized_sidecar_raises():
    """A cut sidecar, or one decoded at the wrong plane size, raises
    instead of returning a short plane or never returning."""
    import pytest

    holes = np.full((256, 256), 255, np.uint8)
    holes[::16, ::16] = 0
    noisy = np.random.default_rng(4).choice([0, 255], holes.shape).astype(np.uint8)
    with _time_limit(10):
        for plane in (holes, noisy):
            frame, n = codecs.alpha_encode(plane), plane.size
            assert len(frame) > 100
            for k in (1, 10, 100):
                with pytest.raises(OSError):
                    codecs.alpha_decode(frame[:-k], n)
            for wrong in (n - 1, n + 1):
                with pytest.raises(OSError):
                    codecs.alpha_decode(frame, wrong)


def test_alpha_sidecar_zstd_and_legacy_zlib():
    """Sidecars are zstd frames; the old b"ZLA1" zlib sidecar, or any other
    non-zstd payload, raises ValueError (not a bare assert)."""
    import zlib as _z

    a = (np.arange(256) % 3 * 100).astype(np.uint8)
    enc = codecs.alpha_encode(a.reshape(16, 16))
    assert enc[:4] == codecs.ZSTD_MAGIC
    assert (codecs.alpha_decode(enc, 256) == a).all()
    for other in (b"ZLA1" + _z.compress(a.tobytes(), 6), a.tobytes()):
        with pytest.raises(ValueError, match="zstd"):
            codecs.alpha_decode(other, 256)


def test_alpha_rle_compresses_hole_planes():
    """Checkerboard-hole alpha planes (the real tile shape) shrink: the
    compressor must exploit the 0/255 runs."""
    a = np.full((256, 256), 255, np.uint8)
    a[0:64, :] = 0
    enc = codecs.alpha_encode(a)
    assert len(enc) < len(a.tobytes()) // 50


def test_zstd_compressed_block_golden_fixtures():
    """Read-side interchange (VERDICT r3 'Next round' #4): frames written
    by the real zstd CLI (levels 3/12/19, checksummed + multi-block)
    contain FSE/Huffman-compressed blocks; they must decode byte-exact.
    Fixtures were generated once with the system CLI and checked in."""
    import glob
    import hashlib
    import os

    fixdir = os.path.join(os.path.dirname(__file__), "fixtures")
    frames = sorted(glob.glob(os.path.join(fixdir, "zstd_*.zst")))
    assert len(frames) >= 3
    for path in frames:
        want_sha, want_len = open(path[:-4] + ".sha").read().split()
        dec = codecs.alpha_decode(open(path, "rb").read(), int(want_len)).tobytes()
        assert len(dec) == int(want_len)
        assert hashlib.sha256(dec).hexdigest() == want_sha


def test_zstd_compressed_block_cli_fuzz():
    """Decoder vs the system zstd CLI across levels and payload shapes
    (skipped when no CLI is installed; the golden test always runs)."""
    import random
    import shutil
    import subprocess

    if shutil.which("zstd") is None:
        import pytest

        pytest.skip("no system zstd CLI")
    for seed in range(6):
        r = random.Random(seed)
        kind = seed % 3
        if kind == 0:
            data = bytes(r.choice(b"abcd") for _ in range(r.randrange(1, 20000)))
        elif kind == 1:
            data = b"".join(bytes([r.randrange(256)]) * r.randrange(1, 2000)
                            for _ in range(r.randrange(1, 40)))
        else:
            base = bytes(r.randrange(256) for _ in range(r.randrange(64, 256)))
            data = base * r.randrange(2, 300)
        for flags in (["-1"], ["-9"], ["-19"], ["--long=27"],
                      ["--no-content-size"]):
            enc = subprocess.run(["zstd", *flags, "-c"], input=data,
                                 capture_output=True, check=True).stdout
            assert codecs.alpha_decode(enc, len(data)).tobytes() == data


def test_alpha_decode_reads_cli_compressed_sidecar():
    """A sidecar produced by an external zstd encoder (compressed blocks)
    feeds the same resume path as our own frames."""
    import shutil
    import subprocess

    import numpy as np

    if shutil.which("zstd") is None:
        import pytest

        pytest.skip("no system zstd CLI")
    rng = np.random.default_rng(3)
    alpha = np.repeat(rng.choice([0, 255], 64).astype(np.uint8), 64)
    enc = subprocess.run(["zstd", "-19", "-c"], input=alpha.tobytes(),
                         capture_output=True).stdout
    out = codecs.alpha_decode(enc, alpha.size)
    assert np.array_equal(out, alpha)


def _load_rgb_fixture(name):
    import os
    import struct

    import numpy as np

    fixdir = os.path.join(os.path.dirname(__file__), "fixtures")
    jpg = open(os.path.join(fixdir, name + ".jpg"), "rb").read()
    raw = open(os.path.join(fixdir, name + ".rgb"), "rb").read()
    h, w = struct.unpack(">HH", raw[:4])
    ref = np.frombuffer(raw[4:], np.uint8).reshape(h, w, 3)
    return jpg, ref


def test_jpeg_subsampled_decode_golden():
    """Read-side interchange (VERDICT r3 'Next round' #5): baseline 4:2:0
    and 4:2:2 JPEGs written by an external libjpeg-based toolchain (Java
    ImageIO; fixtures checked in with that toolchain's own decode as the
    reference pixels) must decode within a few counts — the triangle
    chroma upsampler mirrors libjpeg/image-crate 'fancy' upsampling."""
    import numpy as np

    from freemap_tiler_spark.functions import jpeg

    for name in ("jpeg_sub420", "jpeg_sub422"):
        jpg, ref = _load_rgb_fixture(name)
        got = jpeg.decode(jpg)
        assert got.shape == ref.shape
        d = np.abs(got.astype(int) - ref.astype(int))
        assert d.max() <= 4, f"{name}: max diff {d.max()}"
        assert d.mean() < 1.0, f"{name}: mean diff {d.mean():.3f}"


def test_jpeg_restart_markers():
    """DRI/RSTn handling: a grayscale JPEG with restart_interval=1 (built
    block-wise from this module's own tables, predictors reset + RST
    markers between MCUs) decodes identically to the marker-free bytes."""
    import struct

    import numpy as np

    from freemap_tiler_spark.functions import jpeg

    rng = np.random.default_rng(11)
    img = (np.linspace(0, 255, 16 * 32).reshape(16, 32)
           + rng.integers(0, 10, (16, 32))).astype(np.uint8)
    plain = jpeg.encode(img, quality=90)
    ref = jpeg.decode(plain)

    # rebuild the same scan with DRI=1 and RSTn between every MCU
    ql, _ = jpeg._quality_tables(90)
    q = jpeg._fdct_quant(jpeg._blockify(img), ql)
    head, _, _ = plain.partition(b"\xff\xda")
    sos = b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00]) + b"\x00\x3f\x00"
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 1)
    out = bytearray(head + dri + sos)
    for m in range(q.shape[0]):
        bw = jpeg._BitWriter()
        jpeg._encode_component(bw, q[m:m + 1], jpeg._ENC_DC_L, jpeg._ENC_AC_L, 0)
        bw.flush()
        out += bw.buf
        if m < q.shape[0] - 1:
            out += bytes([0xFF, 0xD0 + (m % 8)])
    out += b"\xff\xd9"
    got = jpeg.decode(bytes(out))
    assert np.array_equal(got, ref)


def test_decode_tile_external_store_resume():
    """Resume from a store an EXTERNAL toolchain wrote: subsampled JPEG
    color + CLI-compressed zstd alpha sidecar through decode_tile —
    the exact shape the reference's processor reads back
    (src/processor.rs:194-216)."""
    import os
    import shutil
    import subprocess

    import numpy as np

    jpg, ref = _load_rgb_fixture("jpeg_sub420")
    h, w, _ = ref.shape
    rng = np.random.default_rng(5)
    alpha = np.repeat(rng.choice([0, 255], h * w // 25 + 1).astype(np.uint8), 25)[: h * w]
    if shutil.which("zstd"):
        sidecar = subprocess.run(["zstd", "-19", "-c"], input=alpha.tobytes(),
                                 capture_output=True).stdout
    else:
        sidecar = codecs.alpha_encode(alpha)
    tile = codecs.decode_tile(jpg, sidecar, fmt="jpeg")
    assert tile.shape == (h, w, 4)
    assert np.abs(tile[:, :, :3].astype(int) - ref.astype(int)).max() <= 4
    assert np.array_equal(tile[:, :, 3].ravel(), alpha)


def _png_idat(png: bytes) -> bytes:
    """The concatenated IDAT payload of a PNG."""
    import struct

    pos, idat = 8, b""
    while pos < len(png):
        (ln,) = struct.unpack(">I", png[pos:pos + 4])
        if png[pos + 4:pos + 8] == b"IDAT":
            idat += png[pos + 8:pos + 8 + ln]
        pos += 12 + ln
    return idat


def test_png_adaptive_filters_smaller_and_lossless():
    """FilterType::Adaptive parity (src/processor.rs:543-547): per-scanline
    MSAD filter choice must roundtrip losslessly, use non-zero filters on
    smooth content, and never beat filter-0 on size by being wrong."""
    import zlib

    import numpy as np

    grad = np.dstack([
        np.add.outer(np.arange(64), np.arange(64)).astype(np.uint8),
        np.full((64, 64), 255, np.uint8),
    ])
    # the unfiltered reference: filter byte 0 before every raw row
    unfiltered = np.hstack([np.zeros((64, 1), np.uint8), grad.reshape(64, 128)])
    e1 = codecs.png_encode(grad)
    assert np.array_equal(codecs.png_decode(e1), grad)
    assert len(_png_idat(e1)) < len(zlib.compress(unfiltered.tobytes(), 6)), \
        "adaptive filters must shrink smooth tiles"
    # mixed content exercises several filter types in one image
    rng = np.random.default_rng(1)
    mixed = np.vstack([
        grad[:32], rng.integers(0, 255, (32, 64, 2), dtype=np.uint8)
    ])
    enc = codecs.png_encode(mixed)
    assert np.array_equal(codecs.png_decode(enc), mixed)
    rows = np.frombuffer(zlib.decompress(_png_idat(enc)), np.uint8).reshape(64, 1 + 128)
    raw_filters = set(rows[:, 0].tolist())
    assert len(raw_filters) >= 2, f"expected mixed filters, got {raw_filters}"


def test_jpeg_progressive_decode_golden():
    """VERDICT r4 #8: progressive (SOF2) decode — spectral-selection +
    successive-approximation scans.  Fixtures written by Java ImageIO
    (MODE_DEFAULT = the standard libjpeg 10-scan script: interleaved DC
    first/refine + per-component AC first/refine, 4:2:0) with ImageIO's
    own decode as the reference pixels; same tolerance as the baseline
    subsampled fixtures.  84x100 exercises partial-MCU dims."""
    import numpy as np

    from freemap_tiler_spark.functions import jpeg

    jpg, ref = _load_rgb_fixture("jpeg_progressive")
    got = jpeg.decode(jpg)
    assert got.shape == ref.shape
    d = np.abs(got.astype(int) - ref.astype(int))
    assert d.max() <= 4, f"max diff {d.max()}"
    assert d.mean() < 1.0

    # grayscale: single-component scans all the way down
    import os
    import struct

    fixdir = os.path.join(os.path.dirname(__file__), "fixtures")
    jpg = open(os.path.join(fixdir, "jpeg_progressive_gray.jpg"), "rb").read()
    raw = open(os.path.join(fixdir, "jpeg_progressive_gray.rgb"), "rb").read()
    h, w = struct.unpack(">HH", raw[:4])
    ref = np.frombuffer(raw[4:], np.uint8).reshape(h, w)
    got = jpeg.decode(jpg)
    assert got.shape == (h, w)
    assert np.abs(got.astype(int) - ref.astype(int)).max() <= 2


def test_decode_tile_progressive_store_resume():
    """Resume from a store holding PROGRESSIVE JPEGs (an external writer
    may store SOF2 tiles): decode_tile must reassemble color + alpha the
    same way it does for baseline tiles."""
    import shutil
    import subprocess

    import numpy as np

    jpg, ref = _load_rgb_fixture("jpeg_progressive")
    h, w, _ = ref.shape
    rng = np.random.default_rng(9)
    alpha = np.repeat(rng.choice([0, 255], h * w // 25 + 1).astype(np.uint8), 25)[: h * w]
    if shutil.which("zstd"):
        sidecar = subprocess.run(["zstd", "-12", "-c"], input=alpha.tobytes(),
                                 capture_output=True).stdout
    else:
        sidecar = codecs.alpha_encode(alpha)
    tile = codecs.decode_tile(jpg, sidecar, fmt="jpeg")
    assert tile.shape == (h, w, 4)
    assert np.abs(tile[:, :, :3].astype(int) - ref.astype(int)).max() <= 4
    assert np.array_equal(tile[:, :, 3].ravel(), alpha)


# ---------------------------------------------------------------------------
# JPEG decode: exact bytes, multi-scan baseline, malformed input
# ---------------------------------------------------------------------------

def _jpeg_scan(blocks, dc_tab, ac_tab) -> bytes:
    """Entropy-coded bytes of one component's quantized zigzag blocks."""
    from freemap_tiler_spark.functions import jpeg

    bw = jpeg._BitWriter()
    jpeg._encode_component(bw, blocks, dc_tab, ac_tab, 0)
    bw.flush()
    return bytes(bw.buf)


def _jpeg_restart_stream() -> bytes:
    """The DRI=1 grayscale stream test_jpeg_restart_markers decodes."""
    import struct

    from freemap_tiler_spark.functions import jpeg

    rng = np.random.default_rng(11)
    img = (np.linspace(0, 255, 16 * 32).reshape(16, 32)
           + rng.integers(0, 10, (16, 32))).astype(np.uint8)
    ql, _ = jpeg._quality_tables(90)
    q = jpeg._fdct_quant(jpeg._blockify(img), ql)
    head, _, _ = jpeg.encode(img, quality=90).partition(b"\xff\xda")
    sos = b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00]) + b"\x00\x3f\x00"
    out = bytearray(head + b"\xff\xdd" + struct.pack(">HH", 4, 1) + sos)
    for m in range(q.shape[0]):
        out += _jpeg_scan(q[m:m + 1], jpeg._ENC_DC_L, jpeg._ENC_AC_L)
        if m < q.shape[0] - 1:
            out += bytes([0xFF, 0xD0 + (m % 8)])
    return bytes(out + b"\xff\xd9")


def _jpeg_engine_tiles() -> dict:
    """Engine-encoded gray and RGB tiles: noise at the small sizes (partial
    blocks, every AC category), a smooth gradient at 256 (fast to code)."""
    from freemap_tiler_spark.functions import jpeg

    rng = np.random.default_rng(19)
    out = {}
    for h, w in ((17, 23), (64, 64), (256, 256)):
        if h == 256:
            ramp = np.add.outer(np.arange(h), np.arange(w)) / 2.0
            rgb = np.stack([ramp, ramp[::-1], ramp.T], axis=2).astype(np.uint8)
        else:
            rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for q in (10, 50, 85, 100):
            out[f"gray_{h}x{w}_q{q}"] = jpeg.encode(rgb[:, :, 0], q)
            out[f"rgb_{h}x{w}_q{q}"] = jpeg.encode(rgb, q)
    return out


# sha256 of the decoded pixel bytes, recorded with the two-decoder codec
# (per-block IDCT for baseline) that the single coefficient path replaced
_JPEG_DIGESTS = {
    "gray_17x23_q10": "7cf1ec3fe06e3ba2eb3a51fd655952569dc090f3d0fa1bc9c6b4e1f9e965b7c5",
    "rgb_17x23_q10": "2919770c627276e44c2d978505f2dd9e3778d07e2a21281148e3f3be9ecf409c",
    "gray_17x23_q50": "43faa0c26c629d89cb1a8c4ec761dd44e942c0e48595b21f095a22f77a4073db",
    "rgb_17x23_q50": "f8100e3b67f44b5832927a593e3fae07f9535faec8e2af9989fe1dd4bd1bda06",
    "gray_17x23_q85": "96ca7627e5bf60c1ada8d081ded1fc164803eb9b4038f92c70e199a0cda3424b",
    "rgb_17x23_q85": "823b5213ab325a067c2c181ea14f99895bc703d5013ed577d7cd9a489a0b7a6b",
    "gray_17x23_q100": "4ddf649a6a4fa06bfd873461226905b8d4d9bc6f092e86158fc592af10fc13cb",
    "rgb_17x23_q100": "c846383c76c609aa76e510345e5e66d8c06d3c4f60546b8a417444a7929c1fff",
    "gray_64x64_q10": "441ff0bd470c2d8fb3b7213c430c5c3481a8c41d3f344700b8f528436d6d735c",
    "rgb_64x64_q10": "dca0606d0688ad3a6b555081819c1d474b61e170f6b5403cceebf8b8848403be",
    "gray_64x64_q50": "88369cb5ad4f5d59637255048ed2a9b58db48b2212dfeda98cd7f6d451ffafec",
    "rgb_64x64_q50": "6c4f433fa860816b6174a6a71dedb8cda5bdbd63fd12a35b2d7b106cea7371c1",
    "gray_64x64_q85": "597a4a371490507a515a523d0a558debc6f16090ec61db0680c4ba68e864dc5e",
    "rgb_64x64_q85": "120b8b1aaaa733d2ddc01abe0e47a4dbc50f7d8ca8c5feb07c6060ff2eeb5040",
    "gray_64x64_q100": "642ce31ede1b070921ab0404d8cd33a08ecb47b5083698ab2fcb935f4dfe8d7c",
    "rgb_64x64_q100": "dae1e0790a7f86b86ef4c32686de72da2b258f10f234357dd650fce475650bf4",
    "gray_256x256_q10": "0901cbcf5af8fd51c8a5b818fd3fd1fa3c426dcff00bae1343a34827cba29a47",
    "rgb_256x256_q10": "05ddc0a61d098c5c204483a4db43ec224d08b9f3618af6d3d030d85061cd0804",
    "gray_256x256_q50": "b38c511883c1d91fdd8f2e7806adde37f5257ad60acadc9dcbb83828fca9a01e",
    "rgb_256x256_q50": "1a97a922feb8aa312755b0792286d9ab951db26298fe8fc095805db29f4dfe26",
    "gray_256x256_q85": "5af3eb5ba8789e4c774d88638bee294bcc6b4e6309ab91505daa509b5fe3e2a5",
    "rgb_256x256_q85": "b4eb4b8cca3fe3e0656f2bbe184b75b09119915cf073af98f76ff236739e3b44",
    "gray_256x256_q100": "2d9560dfe43979a9dd3087503084fe5b2b022fde8707f85c5dca44181a0f678b",
    "rgb_256x256_q100": "35a74ef136a9c7c1a87338c36764b24e7b5d47180d0a863e47d5447a9beb41fe",
    "jpeg_sub420": "e6d60406f5a196fe960d31bd3bc477a596d21a930aab60031acab070abb78a19",
    "jpeg_sub422": "cb57e5331a22a54ab605e28179e403e94d80ad16282ff5957ceaf80572cf9587",
    "jpeg_progressive": "bb68b20d2e8a492190376c30a2af555b27660eac939fc8bf5c1d0a5ea8b9644b",
    "jpeg_progressive_gray": "c3a08f51f9b35b0a91b95a5dab9b8194393317e6cad397d3678cad94e84ed450",
    "restart": "a23537a542930759a3c1d5b0da15f423c2d4e43e936ff8a13d960fdb139addff",
    "imageio_jpeg_tif": "ce81b75ca0b884bb88eb6689e5ce524a9566894d5bb601fed3467810dfc18366",
}


def test_jpeg_decode_pinned_bytes():
    """Every decode path gives exactly the bytes it gave before: external
    subsampled and progressive fixtures, JPEG-in-TIFF, restart markers and
    engine-encoded tiles across qualities and partial-block sizes."""
    import hashlib
    import os

    from freemap_tiler_spark.functions import jpeg
    from freemap_tiler_spark.sources import geotiff

    fixdir = os.path.join(os.path.dirname(__file__), "fixtures")
    streams = _jpeg_engine_tiles()
    for name in ("jpeg_sub420", "jpeg_sub422", "jpeg_progressive",
                 "jpeg_progressive_gray"):
        streams[name] = open(os.path.join(fixdir, name + ".jpg"), "rb").read()
    streams["restart"] = _jpeg_restart_stream()
    got = {name: jpeg.decode(data) for name, data in streams.items()}
    tif = open(os.path.join(fixdir, "imageio_jpeg.tif"), "rb").read()
    m = geotiff.geotiff_meta(tif, require_geo=False)
    got["imageio_jpeg_tif"] = geotiff.read_region(tif, 0, 0, m["width"],
                                                  m["height"], m)
    digests = {k: hashlib.sha256(v.tobytes()).hexdigest() for k, v in got.items()}
    assert digests == _JPEG_DIGESTS


def test_jpeg_multi_scan_baseline_decodes_every_component():
    """A baseline frame may code its components in separate, non-interleaved
    scans (one SOS each); the decode must read all of them and give the
    pixels of the interleaved single-scan stream."""
    import struct

    from freemap_tiler_spark.functions import jpeg

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, (40, 48, 3), dtype=np.uint8)
    plain = jpeg.encode(img, quality=85)
    r, g, b = (img[:, :, i].astype(np.float64) for i in range(3))
    planes = (0.299 * r + 0.587 * g + 0.114 * b,
              -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
              0.5 * r - 0.418688 * g - 0.081312 * b + 128.0)
    ql, qc = jpeg._quality_tables(85)
    head, _, _ = plain.partition(b"\xff\xda")
    out = bytearray(head)
    for ci, p in enumerate(planes):
        u8 = np.clip(np.rint(p), 0, 255).astype(np.uint8)
        q = jpeg._fdct_quant(jpeg._blockify(u8), ql if ci == 0 else qc)
        tabs = ((jpeg._ENC_DC_L, jpeg._ENC_AC_L) if ci == 0
                else (jpeg._ENC_DC_C, jpeg._ENC_AC_C))
        out += (b"\xff\xda" + struct.pack(">H", 8)
                + bytes([1, ci + 1, 0x00 if ci == 0 else 0x11]) + b"\x00\x3f\x00")
        out += _jpeg_scan(q, *tabs)
    got = jpeg.decode(bytes(out + b"\xff\xd9"))
    assert got.shape == (40, 48, 3)
    assert np.array_equal(got, jpeg.decode(plain))


def test_jpeg_truncated_stream_raises():
    """A cut stream raises instead of decoding its missing bits as zeros;
    one missing only its EOI still decodes (all its scan data is there)."""
    from freemap_tiler_spark.functions import jpeg

    img = np.random.default_rng(29).integers(0, 256, (64, 64, 3), dtype=np.uint8)
    data = jpeg.encode(img, quality=85)
    for cut in (10, 100, len(data) // 2):
        with pytest.raises(ValueError, match="ends early"):
            jpeg.decode(data[:-cut])
    assert np.array_equal(jpeg.decode(data[:-2]), jpeg.decode(data))


def test_jpeg_bad_header_raises_value_error():
    """Bad headers raise ValueError, not an assert that ``python -O``
    strips."""
    import struct

    from freemap_tiler_spark.functions import jpeg

    data = jpeg.encode(np.zeros((16, 16, 3), np.uint8), quality=85)
    dqt = data.index(b"\xff\xdb")
    sixteen_bit = data[:dqt + 4] + bytes([0x10]) + data[dqt + 5:]
    sof1 = data.replace(b"\xff\xc0", b"\xff\xc1", 1)
    for bad, msg in ((b"\x89PNG\r\n\x1a\n" + data[8:], "not a JPEG"),
                     (data[:2] + b"\x00" + data[2:], "marker expected"),
                     (sixteen_bit, "8-bit"),
                     (sof1, "SOF0"),
                     (data[:2] + b"\xff\xd9", "no JPEG scan"),
                     (data[:2] + b"\xff\xe0" + struct.pack(">H", 200), "past the end")):
        with pytest.raises(ValueError, match=msg):
            jpeg.decode(bad)
