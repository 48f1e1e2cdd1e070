"""HDF5 connector: writer/reader round trips plus hand-assembled
"foreign" files (superblock v2, OHDR v2 object headers, link-message
groups, chunked layout with a v1 B-tree index, deflate+shuffle
filters, non-NaN fill) built straight from the public HDF5 File
Format Specification -- formats our own writer never emits, so the
reader is validated against the spec, not against itself."""

import struct
import zlib

import numpy as np
import pytest

from dask_array_spark.sources import from_hdf5, h5_ls, to_hdf5
from dask_array_spark.sources.hdf5 import _UNDEF

# ---------------------------------------------------------------------------
# round trips through our own writer
# ---------------------------------------------------------------------------


def test_roundtrip_1d(spark, tmp_path):
    from dask_array_spark.sources import from_numpy

    fn = str(tmp_path / "a.h5")
    data = np.linspace(-3, 3, 1000)
    to_hdf5(from_numpy(spark, data), fn, "/x")
    back = from_hdf5(spark, fn, "/x")
    assert back.shape == (1000,)
    np.testing.assert_allclose(back.compute(), data)


def test_roundtrip_2d_and_groups(spark, tmp_path):
    from dask_array_spark.sources import from_numpy

    fn = str(tmp_path / "b.h5")
    m = np.arange(60, dtype="float64").reshape(12, 5) * 0.5
    v = np.array([1.0, 2.0, 3.0])
    to_hdf5({"/grp/mat": from_numpy(spark, m), "/vec": from_numpy(spark, v)}, fn)
    assert h5_ls(fn) == ["grp", "vec"]
    assert h5_ls(fn, "/grp") == ["mat"]
    np.testing.assert_allclose(from_hdf5(spark, fn, "/grp/mat").compute(), m)
    np.testing.assert_allclose(from_hdf5(spark, fn, "/vec").compute(), v)


def test_roundtrip_int64_native(spark, tmp_path):
    """long value columns write native <i8 datasets (round 11; the
    old float64 widening shredded integers above 2**53) -- contiguous
    and chunked+deflate both read back value-exact as long."""
    from dask_array_spark.sources import from_numpy

    data = np.array([0, -5, 2**53 + 1, -(2**53) - 7, 2**62, 11], dtype=np.int64)
    fn = str(tmp_path / "i.h5")
    to_hdf5(from_numpy(spark, data), fn, "/x")
    back = from_hdf5(spark, fn, "/x")
    assert dict(back.df.dtypes)["v"] == "bigint"
    got = back.compute()
    assert got.dtype == np.int64
    np.testing.assert_array_equal(got, data)

    fn2 = str(tmp_path / "ic.h5")
    to_hdf5(from_numpy(spark, data), fn2, "/x", chunks=(4,), compression="gzip")
    got2 = from_hdf5(spark, fn2, "/x").compute()
    assert got2.dtype == np.int64
    np.testing.assert_array_equal(got2, data)


def test_roundtrip_nan_cells(spark, tmp_path):
    """NaN values are absent cells; they must write as NaN bytes (not
    stale zeros from preallocation) and read back as absent."""
    from dask_array_spark.operators import reductions as R
    from dask_array_spark.sources import from_numpy

    fn = str(tmp_path / "c.h5")
    data = np.array([1.0, np.nan, 3.0, np.nan, 5.0])
    to_hdf5(from_numpy(spark, data), fn, "/x")
    raw = np.fromfile(fn, dtype="<f8")[-5:]  # data extent is file tail
    assert np.isnan(raw[1]) and np.isnan(raw[3])
    back = from_hdf5(spark, fn, "/x")
    assert R.nansum(back, axis=None).compute() == 9.0


def test_missing_datapath_raises(spark, tmp_path):
    from dask_array_spark.sources import from_numpy

    fn = str(tmp_path / "d.h5")
    to_hdf5(from_numpy(spark, np.ones(4)), fn, "/x")
    with pytest.raises(KeyError, match="no object 'y'"):
        from_hdf5(spark, fn, "/y")


# ---------------------------------------------------------------------------
# foreign-file fixtures (spec-derived, not writer-derived)
# ---------------------------------------------------------------------------


def _v2_msg(mtype: int, body: bytes) -> bytes:
    return struct.pack("<BHB", mtype, len(body), 0) + body


def _ohdr_v2(messages: list[bytes]) -> bytes:
    blob = b"".join(messages)
    assert len(blob) < 256
    return (b"OHDR" + struct.pack("<BBB", 2, 0, len(blob)) + blob
            + b"\x00" * 4)  # unverified checksum


def _dt_msg(dtype: np.dtype) -> bytes:
    if dtype.kind == "f":
        head = struct.pack("<BBBBI", 0x11, 0x20, 0x3F, 0x00, dtype.itemsize)
        if dtype.itemsize == 8:
            props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
        else:
            props = struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
        return head + props
    # fixed-point, signed little-endian
    head = struct.pack("<BBBBI", 0x10, 0x08, 0x00, 0x00, dtype.itemsize)
    return head + struct.pack("<HH", 0, dtype.itemsize * 8)


def _foreign_file(path, build):
    """Superblock v2 + a link-message root group (OHDR v2) over the
    datasets that ``build(add)`` lays out: ``add(bytes) -> address``
    appends 8-byte aligned, and ``build`` returns {name: object header
    address}."""
    img = bytearray(b"\x00" * 512)  # superblock written last

    def add(b: bytes) -> int:
        while len(img) % 8:
            img.append(0)
        addr = len(img)
        img.extend(b)
        return addr

    links = []
    for name, ds_addr in build(add).items():
        nm = name.encode()
        links.append(_v2_msg(
            0x0006,
            struct.pack("<BBB", 1, 0, len(nm)) + nm + struct.pack("<Q", ds_addr),
        ))
    root_addr = add(_ohdr_v2(links))
    sb = (b"\x89HDF\r\n\x1a\n" + struct.pack("<BBBB", 2, 8, 8, 0)
          + struct.pack("<QQQQ", 0, _UNDEF, len(img), root_addr)
          + b"\x00" * 4)
    img[: len(sb)] = sb
    with open(path, "wb") as f:
        f.write(bytes(img))


def _foreign_chunked_file(path, data: np.ndarray, chunk: int,
                          skip_chunks=(), fill: float = 0.0,
                          filtered: bool = True):
    """One dataset "dset": chunked v3 layout with a v1 B-tree, optional
    shuffle+deflate pipeline."""
    dtype = data.dtype
    ts = dtype.itemsize

    def build(add):
        nchunks = -(-len(data) // chunk)
        entries = []
        for c in range(nchunks):
            if c in skip_chunks:
                continue
            seg = np.full(chunk, fill, dtype=dtype)
            core = data[c * chunk : (c + 1) * chunk]
            seg[: len(core)] = core
            raw = seg.tobytes()
            if filtered:
                arr = np.frombuffer(raw, dtype="u1")
                n = len(raw) // ts
                raw = arr.reshape(n, ts).T.tobytes()
                raw = zlib.compress(raw, 6)
            addr = add(raw)
            entries.append((len(raw), c * chunk, addr))
        # v1 B-tree, node type 1, level 0; keys: size(4) mask(4) offsets 2x8
        bt = struct.pack("<4sBBHQQ", b"TREE", 1, 0, len(entries), _UNDEF, _UNDEF)
        for nb, off, addr in entries:
            bt += struct.pack("<IIQQQ", nb, 0, off, 0, addr)
        bt += struct.pack("<IIQQ", 0, 0, len(data), 0)  # trailing key
        btree_addr = add(bt)

        msgs = [
            _v2_msg(0x0001, struct.pack("<BBBB", 2, 1, 0, 1)
                    + struct.pack("<Q", len(data))),
            _v2_msg(0x0003, _dt_msg(dtype)),
            _v2_msg(0x0005, struct.pack("<BBI", 3, 0x20, ts)
                    + np.array([fill], dtype=dtype).tobytes()),
            _v2_msg(0x0008, struct.pack("<BBB", 3, 2, 2)
                    + struct.pack("<Q", btree_addr)
                    + struct.pack("<II", chunk, ts)),
        ]
        if filtered:
            pipe = struct.pack("<BB", 2, 2)
            pipe += struct.pack("<HHH", 2, 0, 1) + struct.pack("<I", ts)  # shuffle
            pipe += struct.pack("<HHH", 1, 1, 1) + struct.pack("<I", 6)  # deflate
            msgs.append(_v2_msg(0x000B, pipe))
        return {"dset": add(_ohdr_v2(msgs))}

    _foreign_file(path, build)


def _v3_compound_body(size: int, members: list[tuple[str, int, int]]) -> bytes:
    """A v3 compound datatype message: header (ver 3, class 6, member
    count in bits 0-15, 4-byte size), then per member a bare
    NUL-terminated name, the offset in the spec's byte width (minimum
    bytes to encode ``size``), and a class-1 float member datatype
    message (8B header + 12B props)."""
    nb = max(1, (size.bit_length() + 7) // 8)
    body = bytes([0x36]) + struct.pack("<BBB", len(members), 0, 0)
    body += struct.pack("<I", size)
    for name, off, msize in members:
        body += name.encode() + b"\x00"
        body += off.to_bytes(nb, "little")
        body += bytes([0x11, 0, 0, 0]) + struct.pack("<I", msize) + b"\x00" * 12
    return body


def _foreign_compact_file(path, datasets: dict[str, tuple[bytes, np.ndarray]]):
    """Datasets in the COMPACT layout (layout message v3, class 0): the
    raw data sits inline in the object header.  ``datasets`` maps a
    name to (datatype message body, C-order data)."""

    def build(add):
        return {
            name: add(_ohdr_v2([
                _v2_msg(0x0001, struct.pack("<BBBB", 2, data.ndim, 0, 1)
                        + b"".join(struct.pack("<Q", n) for n in data.shape)),
                _v2_msg(0x0003, dt_body),
                _v2_msg(0x0008, struct.pack("<BBH", 3, 0, data.nbytes)
                        + data.tobytes()),
            ]))
            for name, (dt_body, data) in datasets.items()
        }

    _foreign_file(path, build)


def test_foreign_v2_chunked_deflate_shuffle(spark, tmp_path):
    fn = str(tmp_path / "foreign.h5")
    data = np.linspace(0, 9.9, 100).astype("<f8")
    _foreign_chunked_file(fn, data, chunk=32)
    assert h5_ls(fn) == ["dset"]
    back = from_hdf5(spark, fn, "dset")
    assert back.shape == (100,)
    np.testing.assert_allclose(back.compute(), data)


def test_foreign_missing_chunk_reads_fill(spark, tmp_path):
    """h5py's default fill is 0: unwritten chunks must materialize it."""
    fn = str(tmp_path / "fillfile.h5")
    data = np.arange(12, dtype="<f8")
    _foreign_chunked_file(fn, data, chunk=4, skip_chunks={1}, fill=7.5)
    got = from_hdf5(spark, fn, "dset").compute()
    want = data.copy()
    want[4:8] = 7.5
    np.testing.assert_allclose(got, want)


def test_foreign_int32_unfiltered(spark, tmp_path):
    fn = str(tmp_path / "ints.h5")
    data = np.arange(-5, 45, dtype="<i4")
    _foreign_chunked_file(fn, data, chunk=16, filtered=False)
    got = from_hdf5(spark, fn, "dset").compute()
    np.testing.assert_array_equal(got, data.astype("float64"))


def test_external_int_dataset_reads_as_long(spark, tmp_path):
    """External tools write fixed-point datasets; the reader parses
    class-0 datatypes and (round 8) must surface them as LONG columns,
    value-exact, instead of widening to double.  Kept alongside the
    round-11 native int writer (test_roundtrip_int64_native) because
    this variant validates the READER against a hand-patched foreign
    byte layout rather than our own writer: patch a written file's
    datatype message from IEEE-f8 to signed-i8 (same message length,
    trailing pad zeroed) and rewrite the contiguous data region with
    the int64 bytes."""
    import struct

    import numpy as np

    from dask_array_spark.sources import from_numpy
    from dask_array_spark.sources import hdf5 as H

    xi = (np.arange(40) * 7 - 100).astype("int64")
    path = str(tmp_path / "ext_int.h5")
    H.to_hdf5(from_numpy(spark, xi.astype("float64")), path, "/x")

    r = H._Reader(path)
    info = r.dataset_info(r.resolve("/x"))
    addr = info["addr"]
    r.close()

    f8msg = H._dt_f8_message()
    raw = bytearray(open(path, "rb").read())
    at = raw.find(bytes(f8msg))
    assert at > 0, "f8 datatype message not found"
    i8 = struct.pack("<BBBBI", 0x10, 0x08, 0x00, 0x00, 8)  # class 0 v1, LE, signed
    i8 += struct.pack("<HH", 0, 64)  # bit offset 0, precision 64
    i8 = i8.ljust(len(f8msg), b"\x00")
    raw[at : at + len(f8msg)] = i8
    raw[addr : addr + xi.nbytes] = xi.tobytes()
    with open(path, "wb") as f:
        f.write(bytes(raw))

    a = H.from_hdf5(spark, path, "/x")
    assert dict(a.df.dtypes)["v"] == "bigint"
    got = a.compute()
    np.testing.assert_array_equal(got.astype("int64"), xi)
    from dask_array_spark.operators import reductions as R

    assert R.sum(a, axis=None).compute() == xi.sum()


def _masked_int_array(spark, dtype="long"):
    """A 1-d int array with one NULL cell, in the engine's cell form."""
    import decimal

    from dask_array_spark.core.array import Array

    one, three = (
        (decimal.Decimal(1), decimal.Decimal(3))
        if dtype.startswith("decimal")
        else (1, 3)
    )
    df = spark.createDataFrame(
        [(0, one), (1, None), (2, three)], f"i0 long, v {dtype}"
    )
    return Array(df, (3,))


def test_to_hdf5_int64_null_cells_refused(spark, tmp_path):
    from dask_array_spark.sources.hdf5 import to_hdf5

    a = _masked_int_array(spark)
    with pytest.raises(Exception, match="NULL cells .* int64/uint64 HDF5"):
        to_hdf5(a, str(tmp_path / "x.h5"), "/x")


def test_to_hdf5_chunked_int64_null_cells_refused(spark, tmp_path):
    from dask_array_spark.sources.hdf5 import to_hdf5

    a = _masked_int_array(spark)
    with pytest.raises(Exception, match="NULL cells .* int64/uint64 HDF5"):
        to_hdf5(a, str(tmp_path / "x.h5"), "/x", chunks=(2,),
                compression="gzip")


def test_to_hdf5_uint64_null_cells_refused(spark, tmp_path):
    from dask_array_spark.sources.hdf5 import to_hdf5

    a = _masked_int_array(spark, dtype="decimal(20,0)")
    with pytest.raises(Exception, match="NULL cells .* int64/uint64 HDF5"):
        to_hdf5(a, str(tmp_path / "x.h5"), "/x")


def test_to_hdf5_int64_without_nulls_still_roundtrips(spark, tmp_path):
    """The flag-and-coalesce rewrite must not disturb clean int writes
    (values above 2**53 stay exact)."""
    from dask_array_spark.operators import reductions as R
    from dask_array_spark.sources.hdf5 import from_hdf5, to_hdf5
    from dask_array_spark.sources.ingest import from_numpy

    x = np.array([2**53 + 1, -7, 0, 2**62], dtype=np.int64)
    p = str(tmp_path / "ok.h5")
    to_hdf5(from_numpy(spark, x), p, "/x")
    back = from_hdf5(spark, p, "/x")
    assert R.sum(back, axis=None).compute() == int(x.sum())


def test_chunk_pass_missing_addr_entry_is_explanatory(spark, tmp_path):
    """A chunk appearing only in pass 2 (nondeterministic source with
    constant encoded size) raises the persist() guidance, not a bare
    KeyError."""
    from dask_array_spark.core.array import Array
    from dask_array_spark.sources import hdf5 as H

    df = spark.createDataFrame([(0, 1.0), (1, 2.0), (2, 3.0)], "i0 long, v double")
    a = Array(df, (3,))
    # pass-1 layout that is missing chunk (2,): pass 2 must refuse
    # with the determinism error when it encounters it
    addr_map = {(0,): (4096, 16)}
    p = str(tmp_path / "t.h5")
    with open(p, "wb") as f:
        f.write(b"\0" * 8192)
    with pytest.raises(Exception, match="not deterministic|appeared only"):
        H._chunk_pass(a, (2,), [], filename=p, addr_map=addr_map)


def test_hdf5_v3_compound_offset_width_power_of_256():
    """size=256: the offset field is 2 bytes (256 needs 9 bits), where
    the old size-1 derivation read 1 byte (255 fits in 8) and walked
    the second member's name one byte early.  With the fix the member
    walk parses cleanly and the refusal NAMES the members."""
    from dask_array_spark.sources.hdf5 import _Reader

    body = _v3_compound_body(256, [("x", 0, 128), ("y", 128, 128)])
    rdr = object.__new__(_Reader)
    with pytest.raises(NotImplementedError, match=r"\['x', 'y'\]"):
        rdr._parse_compound_complex(body, 3, body[1:4], 256)
    # the accepted complex shapes still parse (regression guard):
    # c16 (size 16 -> 1-byte offsets) through the same v3 path
    body16 = _v3_compound_body(16, [("r", 0, 8), ("i", 8, 8)])
    dt = rdr._parse_compound_complex(body16, 3, body16[1:4], 16)
    assert dt == np.dtype("<c16")


def test_foreign_compact_layout(spark, tmp_path):
    """Compact datasets read through ``from_numpy``: a float64 NaN
    becomes a NULL cell, int64 stays exact above 2**53, and the h5py
    complex compound reads as STRUCT<re,im> cells."""
    fn = str(tmp_path / "compact.h5")
    f8 = np.array([[1.5, np.nan, -2.0], [3.25, 0.0, 7.0]], dtype="<f8")
    i8 = np.array([2**53 + 1, -7, 0], dtype="<i8")
    c16 = np.array([1 + 2j, complex(np.nan, 1.0), -3 - 0.5j, 0.5j], dtype="<c16")
    _foreign_compact_file(fn, {
        "f8": (_dt_msg(f8.dtype), f8),
        "i8": (_dt_msg(i8.dtype), i8),
        "c16": (_v3_compound_body(16, [("r", 0, 8), ("i", 8, 8)]), c16),
    })
    assert h5_ls(fn) == ["c16", "f8", "i8"]

    a = from_hdf5(spark, fn, "f8")
    assert a.shape == (2, 3)
    assert a.df.filter("v IS NULL").count() == 1
    np.testing.assert_array_equal(a.compute(), f8)

    b = from_hdf5(spark, fn, "i8")
    assert dict(b.df.dtypes)["v"] == "bigint"
    assert sorted(tuple(r) for r in b.df.collect()) == [
        (0, 2**53 + 1), (1, -7), (2, 0)
    ]

    c = from_hdf5(spark, fn, "c16")
    assert dict(c.df.dtypes)["v"].startswith("struct")
    np.testing.assert_array_equal(c.compute(), c16)
