"""Pure-Python LZ4 block decoder: spec vectors, conformance against
Spark's own lz4-java (the JVM library Spark ships — a third-party
reference implementation, driver-side only), and the executor-side
blosc+lz4 zarr path."""

import json
import os
import struct

import numpy as np
import pytest

from dask_array_spark.sources.codecs import lz4_block_decompress


def test_lz4_spec_vectors():
    """Hand-assembled blocks straight from the public block format."""
    # one sequence: 5 literals, then match(offset=5, len=4), last seq 0 literals
    blk = bytes([0x50]) + b"abcde" + bytes([0x05, 0x00]) + bytes([0x00])
    assert lz4_block_decompress(blk, 9) == b"abcdeabcd"
    # RLE: 1 literal 'x', overlapping match offset=1 len=4+11=15 -> 16 x's
    blk = bytes([0x1B]) + b"x" + bytes([0x01, 0x00]) + bytes([0x00])
    assert lz4_block_decompress(blk, 16) == b"x" * 16
    # extended literal length: 15+240=255 literals, literals-only block
    lits = bytes(range(240)) + bytes(15)
    blk = bytes([0xF0, 0xF0]) + lits
    assert lz4_block_decompress(blk, 255) == lits
    # extended match length: 'ab' then match offset=2 len=4+15+255+3=277
    blk = bytes([0x2F]) + b"ab" + bytes([0x02, 0x00, 0xFF, 0x03]) + bytes([0x00])
    want = b"ab" + (b"ab" * 139)[:277]
    assert lz4_block_decompress(blk, 279) == want


def test_lz4_corrupt_blocks_raise():
    with pytest.raises(ValueError, match="zero match offset"):
        lz4_block_decompress(bytes([0x10]) + b"a" + bytes([0x00, 0x00]), 5)
    with pytest.raises(ValueError, match="past start"):
        lz4_block_decompress(bytes([0x10]) + b"a" + bytes([0x09, 0x00]), 5)
    with pytest.raises(ValueError, match="expected"):
        lz4_block_decompress(bytes([0x10]) + b"a", 7)


def _jvm_lz4_compress(spark, data: bytes) -> bytes:
    fac = spark._jvm.net.jpountz.lz4.LZ4Factory.fastestInstance()
    return bytes(fac.fastCompressor().compress(bytearray(data)))


def test_lz4_conformance_vs_jvm(spark):
    """Decode lz4-java-compressed payloads bit-exactly: compressible
    runs (overlap matches), random bytes (literal-heavy), typed arrays,
    and sizes straddling the 15-extension boundaries."""
    rng = np.random.default_rng(7)
    payloads = [
        b"",
        b"a",
        b"abc" * 1,
        b"ab" * 5000,
        bytes(rng.integers(0, 256, 100_000, dtype=np.uint8)),
        np.sin(np.arange(20_000) * 0.1).astype("<f8").tobytes(),
        (bytes(range(256)) * 64)[:15],
        (b"Z" * 19) + bytes(rng.integers(0, 256, 19, dtype=np.uint8)),
        b"the quick brown fox " * 997,
    ]
    for data in payloads:
        comp = _jvm_lz4_compress(spark, data)
        assert lz4_block_decompress(comp, len(data)) == data


def _blosc_frame_lz4(spark, payload: bytes, typesize: int, shuffle: bool,
                     blocksize: int) -> bytes:
    """c-blosc1 frame with lz4-coded blocks (public chunk format);
    blocks compress independently, shuffle applies per block."""
    nbytes = len(payload)
    nblocks = -(-nbytes // blocksize)
    blocks = []
    for j in range(nblocks):
        seg = payload[j * blocksize : (j + 1) * blocksize]
        if shuffle and typesize > 1:
            n_elem = len(seg) // typesize
            arr = np.frombuffer(seg, dtype="u1")
            seg = arr[: n_elem * typesize].reshape(n_elem, typesize).T.tobytes() \
                + bytes(arr[n_elem * typesize :])
        comp = _jvm_lz4_compress(spark, seg)
        if len(comp) >= len(seg):
            comp = seg  # blosc stores incompressible blocks raw (csize==neblock)
        blocks.append(struct.pack("<I", len(comp)) + comp)
    bstarts, off = [], 16 + 4 * nblocks
    for b in blocks:
        bstarts.append(off)
        off += len(b)
    flags = (0x1 if shuffle else 0) | (1 << 5)  # cname code 1 = lz4
    header = struct.pack("<BBBBIII", 2, 1, flags, typesize, nbytes, blocksize, off)
    return header + struct.pack(f"<{nblocks}I", *bstarts) + b"".join(blocks)


def test_zarr_blosc_lz4_chunks(spark, tmp_path):
    """End-to-end: a blosc+lz4 zarr v2 store decodes on EXECUTORS via
    the pure-Python block decoder (the 'lz4' package is absent in this
    environment), multi-block frames, with and without byte-shuffle."""
    from dask_array_spark.sources import from_zarr

    for shuffle in (False, True):
        url = str(tmp_path / f"zlz4{int(shuffle)}")
        os.makedirs(url)
        json.dump(
            {"zarr_format": 2, "shape": [96], "chunks": [48], "dtype": "<f8",
             "compressor": {"id": "blosc", "cname": "lz4", "clevel": 5,
                            "shuffle": int(shuffle)},
             "fill_value": "NaN", "filters": None, "order": "C"},
            open(url + "/.zarray", "w"),
        )
        data = np.concatenate([np.repeat(np.arange(12.0), 4),
                               np.sin(np.arange(48) * 0.3)])
        for c in range(2):
            frame = _blosc_frame_lz4(
                spark, data[c * 48 : (c + 1) * 48].tobytes(), 8, shuffle,
                blocksize=128,  # 3 blocks per 384-byte chunk
            )
            open(url + f"/{c}", "wb").write(frame)
        back = from_zarr(spark, url)
        np.testing.assert_array_equal(back.compute(), data)


def _frame(flags, typesize, nbytes, blocksize, blocks_payloads):
    """Assemble a c-blosc1 frame from per-block compressed payloads."""
    nblocks = len(blocks_payloads)
    blocks = [struct.pack("<I", len(p)) + p for p in blocks_payloads]
    bstarts, off = [], 16 + 4 * nblocks
    for b in blocks:
        bstarts.append(off)
        off += len(b)
    header = struct.pack("<BBBBIII", 2, 1, flags, typesize, nbytes, blocksize, off)
    return header + struct.pack(f"<{nblocks}I", *bstarts) + b"".join(blocks)


def test_blosc_capability_matrix():
    """Pin the documented capability matrix (BLOSC_SUPPORTED) cname by
    cname with hand-assembled frames: zlib/lz4/snappy decode with no
    extra packages, memcpy decodes under ANY cname, zstd needs the
    zstandard package, blosclz and unknown codes fail with an error
    NAMING the codec and the supported set."""
    import zlib

    from dask_array_spark.sources.ingest import (
        BLOSC_CNAMES, BLOSC_SUPPORTED, _blosc_decompress,
    )

    assert BLOSC_CNAMES == {0: "blosclz", 1: "lz4", 2: "snappy", 3: "zlib", 4: "zstd"}
    assert BLOSC_SUPPORTED == {"lz4", "snappy", "zlib"}

    # memcpy flag (0x2): raw passthrough regardless of cname code
    data = bytes(range(16)) * 4
    for code in range(5):
        raw = struct.pack(
            "<BBBBIII", 2, 1, 0x2 | (code << 5), 1, len(data), len(data),
            16 + len(data),
        ) + data
        assert _blosc_decompress(raw) == data

    # zlib (code 3)
    payload = b"compressible " * 16
    comp = zlib.compress(payload)
    assert _blosc_decompress(
        _frame(3 << 5, 1, len(payload), len(payload), [comp])
    ) == payload

    # lz4 (code 1): RLE block, 16 x's in 5 bytes
    blk = bytes([0x1B]) + b"x" + bytes([0x01, 0x00]) + bytes([0x00])
    assert _blosc_decompress(_frame(1 << 5, 1, 16, 16, [blk])) == b"x" * 16

    # snappy (code 2): varint(16), 1 literal 'x', copy len 8 + copy
    # len 7 at offset 1
    sblk = bytes([0x10, 0x00]) + b"x" + bytes([0x11, 0x01, 0x0D, 0x01])
    assert _blosc_decompress(_frame(2 << 5, 1, 16, 16, [sblk])) == b"x" * 16

    # multi-block zlib + byte-shuffle, typesize 4
    arr = np.arange(32, dtype="<u4").tobytes()
    half = len(arr) // 2
    segs = []
    for seg in (arr[:half], arr[half:]):
        a = np.frombuffer(seg, dtype="u1")
        segs.append(zlib.compress(a.reshape(-1, 4).T.tobytes()))
    out = _blosc_decompress(_frame(0x1 | (3 << 5), 4, len(arr), half, segs))
    assert out == arr

    # bit-shuffle flag (0x4) + zlib
    from dask_array_spark.sources.codecs import bitshuffle

    arr = np.arange(64, dtype="<u2").tobytes()
    comp = zlib.compress(bitshuffle(arr, 2))
    assert _blosc_decompress(_frame(0x4 | (3 << 5), 2, len(arr), len(arr), [comp])) == arr

    # zstd (code 4): package-gated
    zraw = _frame(4 << 5, 1, 4, 4, [b"\x00"])
    try:
        import zstandard  # noqa: F401

        have_zstd = True
    except ImportError:
        have_zstd = False
    if not have_zstd:
        with pytest.raises(NotImplementedError, match="zstd.*zstandard"):
            _blosc_decompress(zraw)

    # blosclz (code 0) and unknown codes: refused BY NAME
    with pytest.raises(NotImplementedError, match="blosclz.*cname code 0"):
        _blosc_decompress(_frame(0, 1, 4, 4, [b"\x00"]))
    with pytest.raises(NotImplementedError, match="unknown\\(5\\)"):
        _blosc_decompress(_frame(5 << 5, 1, 4, 4, [b"\x00"]))


def test_zarr_chunk_error_names_chunk_and_codec(spark, tmp_path):
    """A failing chunk decode surfaces the CHUNK PATH and codec in the
    error (a 100 TB store has millions of chunks)."""
    from dask_array_spark.sources import from_zarr

    url = str(tmp_path / "zbad")
    os.makedirs(url)
    json.dump(
        {"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
         "compressor": {"id": "blosc", "cname": "blosclz", "clevel": 5,
                        "shuffle": 0},
         "fill_value": "NaN", "filters": None, "order": "C"},
        open(url + "/.zarray", "w"),
    )
    # a blosclz (code 0) frame the decoder must refuse
    frame = struct.pack("<BBBBIII", 2, 1, 0, 8, 32, 32, 20 + 1) \
        + struct.pack("<I", 20) + struct.pack("<I", 1) + b"\x00"
    open(url + "/0", "wb").write(frame)
    arr = from_zarr(spark, url)
    with pytest.raises(Exception) as ei:
        arr.compute()
    msg = str(ei.value)
    assert "zarr chunk" in msg and "blosclz" in msg and "zbad/0" in msg


def test_crc32c_strict_arg_overrides_env(monkeypatch):
    """The driver-resolved ``strict`` argument is authoritative: even
    with NO env var set (an executor's worker env in a real cluster),
    strict='raise' refuses the unverified read, and strict='verify'
    verifies.  Reading the env inside the kernel was the round-10
    ADVICE bug -- the knob silently reverted on real clusters."""
    from dask_array_spark.sources import ingest as I

    if I._crc32c_lib() is not None:  # pragma: no cover
        pytest.skip("C crc32c installed: every size verifies, no fallback path")

    body = b"\xcd" * 64
    good = I._crc32c(body)
    monkeypatch.setattr(I, "_CRC32C_VERIFY_CAP", 16)
    # executor-like environment: the knob is NOT in os.environ
    monkeypatch.delenv("SPARK_GRAFT_CRC32C_STRICT", raising=False)

    with pytest.raises(RuntimeError, match="forbids unverified"):
        I._crc32c_check(body, good, "chunk", "raise")
    with pytest.raises(ValueError, match="crc32c mismatch"):
        I._crc32c_check(body, good + 1, "chunk", "verify")
    # and through the codec-chain wrapper too
    with pytest.raises(RuntimeError, match="forbids unverified"):
        I._zarr3_decode_bb(
            body + good.to_bytes(4, "little"), [("crc32c", {})], "chunk", "raise"
        )
    # conversely: env says raise, but the driver resolved '' (default)
    # -- the argument still wins (warn-and-strip)
    monkeypatch.setenv("SPARK_GRAFT_CRC32C_STRICT", "raise")
    with pytest.warns(RuntimeWarning, match="UNVERIFIED"):
        I._crc32c_check(body, good, "chunk", "")
