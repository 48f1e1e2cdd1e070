"""HDF5 connector without h5py (reference io/_store.py:331 to_hdf5;
reading mirrors the reference's from_array-over-h5py-dataset entry).

The container environment ships no HDF5 library, so this speaks the
public HDF5 File Format Specification (v3) directly, the same way the
zarr connector speaks the zarr v2 spec:

- **Driver** touches only metadata: superblock -> group traversal ->
  dataset object header -> chunk index.  That is exactly the part of
  an HDF5 file that is metadata-sized; the chunk/slab table it
  produces is a small DataFrame.
- **Executors** read raw byte ranges of the file in parallel and
  decode them (deflate via stdlib zlib, byte-shuffle via NumPy) --
  blocks never transit the driver, so a 100 TB dataset reads with the
  same shape as the parquet/zarr paths.
- **Writes** preallocate the file on the driver (metadata +
  contiguous data extents), then executors pwrite their row slabs at
  computed offsets -- the standard parallel-HDF5 pattern (requires a
  shared filesystem, like any single-file parallel writer).

Reader capability matrix (gated with NotImplementedError elsewhere):
superblock v0/v1/v2/v3; object headers v1/v2; groups via v1 symbol
tables and v2 link messages (compact links; dense fractal-heap link
storage is gated); dataspace v1/v2; fixed-point and IEEE-float
little-endian datatypes; data layout v3 contiguous + chunked (v1
B-tree index) and v4 single-chunk/implicit; filters: deflate,
shuffle, fletcher32 (checksum stripped, not verified).

Writer emits superblock v0 + v1 object headers + v1 symbol-table
groups (the most widely readable profile -- no checksums in any
structure); datasets are little-endian float64 / unsigned-64 /
compound-complex, laid out contiguous (default) or chunked with a v1
chunk B-tree + optional deflate/shuffle filter pipeline (round 11 --
the same layout h5py's chunked/gzip default produces).
"""

from __future__ import annotations

import math
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from ..core.array import VALUE_COL, Array
from ..session import local_frame
from .ingest import (
    _cells_block,
    _cells_schema,
    _chunk_cells,
    _fill_chunks,
    _grid_minus,
    _value_kind,
    from_numpy,
)

__all__ = ["from_hdf5", "to_hdf5", "h5_ls"]

_SIG = b"\x89HDF\r\n\x1a\n"
_UNDEF = 0xFFFFFFFFFFFFFFFF

# target bytes per executor read task (slab split of contiguous data)
_SLAB_BYTES = 32 << 20


# ---------------------------------------------------------------------------
# low-level reader (driver side, metadata only)
# ---------------------------------------------------------------------------


class _Reader:
    def __init__(self, path: str):
        self.f = open(path, "rb")
        self.path = path
        self._find_superblock()

    def close(self):
        self.f.close()

    def _read(self, addr: int, n: int) -> bytes:
        self.f.seek(addr)
        b = self.f.read(n)
        if len(b) < n:
            raise ValueError(f"truncated HDF5 file at {addr}+{n}")
        return b

    def _find_superblock(self):
        off = 0
        while True:
            self.f.seek(off)
            if self.f.read(8) == _SIG:
                break
            off = 512 if off == 0 else off * 2
            if off > (1 << 26):
                raise ValueError("not an HDF5 file (no superblock signature)")
        self.base = off
        ver = self._read(off + 8, 1)[0]
        if ver in (0, 1):
            self.off_size = self._read(off + 13, 1)[0]
            self.len_size = self._read(off + 14, 1)[0]
            if (self.off_size, self.len_size) != (8, 8):
                raise NotImplementedError(
                    f"only 8-byte offsets/lengths supported "
                    f"(file has {self.off_size}/{self.len_size})"
                )
            pos = off + 24 + (4 if ver == 1 else 0)
            (self.base_addr, _fs, self.eof, _drv) = struct.unpack(
                "<QQQQ", self._read(pos, 32)
            )
            # root group symbol table entry follows
            st = self._read(pos + 32, 40)
            self.root_oh = struct.unpack_from("<Q", st, 8)[0]
        elif ver in (2, 3):
            b = self._read(off + 9, 3)
            self.off_size, self.len_size = b[0], b[1]
            if (self.off_size, self.len_size) != (8, 8):
                raise NotImplementedError("only 8-byte offsets/lengths supported")
            (self.base_addr, _ext, self.eof, self.root_oh) = struct.unpack(
                "<QQQQ", self._read(off + 12, 32)
            )
        else:
            raise NotImplementedError(f"superblock version {ver}")

    # -- object headers ----------------------------------------------------

    def messages(self, addr: int) -> list[tuple[int, bytes]]:
        """All (type, body) messages of the object header at addr,
        following continuations, v1 and v2 formats."""
        head = self._read(addr, 4)
        if head == b"OHDR":
            return self._messages_v2(addr)
        return self._messages_v1(addr)

    def _messages_v1(self, addr: int):
        ver, _r, nmsg, _refs, hsize = struct.unpack("<BBHIi", self._read(addr, 12))
        if ver != 1:
            raise NotImplementedError(f"object header version {ver}")
        out: list[tuple[int, bytes]] = []
        blocks = [(addr + 16, hsize)]
        while blocks and len(out) < nmsg:
            pos, remaining = blocks.pop(0)
            while remaining >= 8 and len(out) < nmsg:
                mtype, msize, _fl = struct.unpack("<HHB", self._read(pos, 5))
                body = self._read(pos + 8, msize)
                pos += 8 + msize
                remaining -= 8 + msize
                if mtype == 0x0010:  # continuation (counts as a message)
                    coff, clen = struct.unpack("<QQ", body[:16])
                    blocks.append((coff, clen))
                out.append((mtype, body))
        return [(t, b) for t, b in out if t != 0x0010]

    def _messages_v2(self, addr: int):
        flags = self._read(addr, 6)[5]
        pos = addr + 6
        if flags & 0x20:
            pos += 16  # timestamps
        if flags & 0x10:
            pos += 4  # max compact / min dense
        size_bytes = 1 << (flags & 0x3)
        chunk0 = int.from_bytes(self._read(pos, size_bytes), "little")
        pos += size_bytes
        out: list[tuple[int, bytes]] = []
        cont: list[tuple[int, int]] = [(pos, chunk0)]
        hdr_extra = 2 if flags & 0x04 else 0  # creation-order field
        while cont:
            cpos, clen = cont.pop(0)
            end = cpos + clen
            p = cpos
            while p + 4 + hdr_extra <= end:
                mtype = self._read(p, 1)[0]
                msize = struct.unpack("<H", self._read(p + 1, 2))[0]
                body = self._read(p + 4 + hdr_extra, msize)
                p += 4 + hdr_extra + msize
                if mtype == 0x10:
                    coff, clen2 = struct.unpack("<QQ", body[:16])
                    # continuation block: OCHK signature + messages + checksum
                    cont.append((coff + 4, clen2 - 8))
                else:
                    out.append((mtype, body))
        return out

    # -- group traversal ---------------------------------------------------

    def _heap_name(self, heap_addr: int, off: int) -> str:
        sig, ver = self._read(heap_addr, 4), self._read(heap_addr + 4, 1)[0]
        if sig != b"HEAP" or ver != 0:
            raise ValueError("bad local heap")
        _size, _free, data_addr = struct.unpack("<QQQ", self._read(heap_addr + 8, 24))
        out = bytearray()
        pos = data_addr + off
        while True:
            self.f.seek(pos)
            chunk = self.f.read(64)  # may be short at EOF
            if not chunk:
                break
            if b"\x00" in chunk:
                out += chunk[: chunk.index(b"\x00")]
                break
            out += chunk
            pos += 64
        return out.decode()

    def _walk_group_btree(self, node_addr: int, heap_addr: int, out: dict):
        sig = self._read(node_addr, 4)
        if sig != b"TREE":
            raise ValueError("bad group B-tree node")
        ntype, level, nent = struct.unpack("<BBH", self._read(node_addr + 4, 4))
        if ntype != 0:
            raise ValueError("expected group B-tree")
        pos = node_addr + 24  # skip siblings
        # key0 child0 key1 ... child_{n-1} key_n ; group keys are 8 bytes
        for i in range(nent):
            child = struct.unpack("<Q", self._read(pos + 8 + i * 16, 8))[0]
            if level > 0:
                self._walk_group_btree(child, heap_addr, out)
            else:
                self._read_snod(child, heap_addr, out)

    def _read_snod(self, addr: int, heap_addr: int, out: dict):
        sig = self._read(addr, 4)
        if sig != b"SNOD":
            raise ValueError("bad symbol table node")
        nsym = struct.unpack("<H", self._read(addr + 6, 2))[0]
        for i in range(nsym):
            ent = self._read(addr + 8 + i * 40, 40)
            name_off, oh_addr = struct.unpack_from("<QQ", ent, 0)
            out[self._heap_name(heap_addr, name_off)] = oh_addr

    def group_links(self, oh_addr: int) -> dict[str, int]:
        """name -> object header address for the group at oh_addr."""
        links: dict[str, int] = {}
        for mtype, body in self.messages(oh_addr):
            if mtype == 0x0011:  # symbol table (v1 groups)
                btree, heap = struct.unpack("<QQ", body[:16])
                self._walk_group_btree(btree, heap, links)
            elif mtype == 0x0006:  # link message (v2 compact groups)
                name, addr = self._parse_link(body)
                if addr is not None:
                    links[name] = addr
            elif mtype == 0x0002:  # link info
                flags = body[1]
                p = 2 + (8 if flags & 1 else 0)
                fheap = struct.unpack_from("<Q", body, p)[0]
                if fheap != _UNDEF:
                    raise NotImplementedError(
                        "dense (fractal-heap) link storage not supported"
                    )
        return links

    def _parse_link(self, body: bytes):
        ver, flags = body[0], body[1]
        if ver != 1:
            raise NotImplementedError(f"link message version {ver}")
        p = 2
        ltype = 0
        if flags & 0x08:
            ltype = body[p]
            p += 1
        if flags & 0x04:
            p += 8  # creation order
        if flags & 0x10:
            p += 1  # charset
        lsize = 1 << (flags & 0x3)
        nlen = int.from_bytes(body[p : p + lsize], "little")
        p += lsize
        name = body[p : p + nlen].decode()
        p += nlen
        if ltype != 0:
            return name, None  # soft/external links ignored
        return name, struct.unpack_from("<Q", body, p)[0]

    def resolve(self, path: str) -> int:
        addr = self.root_oh
        for part in path.strip("/").split("/"):
            if not part:
                continue
            links = self.group_links(addr)
            if part not in links:
                raise KeyError(
                    f"no object {part!r} under this group "
                    f"(has: {sorted(links)})"
                )
            addr = links[part]
        return addr

    # -- dataset metadata --------------------------------------------------

    def dataset_info(self, oh_addr: int) -> dict:
        info: dict = {"filters": [], "fill": None}
        for mtype, body in self.messages(oh_addr):
            if mtype == 0x0001:
                info["shape"] = self._parse_dataspace(body)
            elif mtype == 0x0003:
                info["dtype"] = self._parse_datatype(body)
            elif mtype == 0x0005:
                info["fill"] = self._parse_fill(body)
            elif mtype == 0x0008:
                info.update(self._parse_layout(body))
            elif mtype == 0x000B:
                info["filters"] = self._parse_filters(body)
            elif mtype == 0x0011:
                raise ValueError("object is a group, not a dataset")
        if "shape" not in info or "dtype" not in info:
            raise ValueError("object lacks dataspace/datatype (not a dataset?)")
        return info

    def _parse_dataspace(self, body: bytes):
        ver = body[0]
        if ver == 1:
            ndim, flags = body[1], body[2]
            p = 8
        elif ver == 2:
            ndim, flags = body[1], body[2]
            p = 4
        else:
            raise NotImplementedError(f"dataspace version {ver}")
        return tuple(
            struct.unpack_from("<Q", body, p + 8 * k)[0] for k in range(ndim)
        )

    def _parse_datatype(self, body: bytes):
        cls_ver = body[0]
        cls, ver = cls_ver & 0x0F, cls_ver >> 4
        bits = body[1:4]
        (size,) = struct.unpack_from("<I", body, 4)
        # the byte-order flag is an ATOMIC-class bit; in a compound
        # message bits 0-15 hold the member count, so the check only
        # applies to int/float (compound members get their own check
        # inside _parse_compound_complex)
        if cls in (0, 1) and bits[0] & 0x01:
            raise NotImplementedError("big-endian datatypes not supported")
        if cls == 0:  # fixed point
            signed = bool(bits[0] & 0x08)
            return np.dtype(f"<{'i' if signed else 'u'}{size}")
        if cls == 1:  # float
            if size not in (4, 8):
                raise NotImplementedError(f"float size {size}")
            return np.dtype(f"<f{size}")
        if cls == 6:  # compound: ONLY the h5py complex convention
            return self._parse_compound_complex(body, ver, bits, size)
        raise NotImplementedError(
            f"datatype class {cls} (only int/float/compound-complex)"
        )

    def _parse_compound_complex(self, body: bytes, ver: int, bits, size: int):
        """Compound datatype (class 6) versions 1-3, accepted ONLY in
        the two-float complex shape h5py writes for complex64/128
        (members named r/i -- also re/im and real/imag -- at offsets
        0 and size/2).  Any other compound refuses loudly: generic
        record types have no cells-model encoding."""
        nm = bits[0] | (bits[1] << 8)
        pos = 8
        members = []
        for _ in range(nm):
            end = body.index(b"\x00", pos)
            name = body[pos:end].decode("ascii", "replace")
            if ver in (1, 2):
                pos += ((end - pos) // 8 + 1) * 8  # name padded to 8
            else:
                pos = end + 1  # v3: bare null-terminated name
            if ver in (1, 2):
                (moff,) = struct.unpack_from("<I", body, pos)
                pos += 4
            else:
                # v3 member offsets use the minimum bytes needed to
                # encode the datatype SIZE ITSELF (spec IV.A.2.d), not
                # size-1: the two diverge at exact powers of 256
                # (size=256 -> 2 bytes, not 1) -- round-10 ADVICE
                nb = max(1, (size.bit_length() + 7) // 8)
                moff = int.from_bytes(body[pos:pos + nb], "little")
                pos += nb
            if ver == 1:
                pos += 28  # dimensionality+reserved+perm+reserved+4 dims
            mcls = body[pos] & 0x0F
            if body[pos + 1] & 0x01:
                raise NotImplementedError(
                    "big-endian compound members not supported"
                )
            (msize,) = struct.unpack_from("<I", body, pos + 4)
            members.append((name, moff, mcls, msize))
            # advance past the nested datatype message (header 8 +
            # class-specific property block)
            if mcls == 1:
                pos += 8 + 12
            elif mcls == 0:
                pos += 8 + 4
            else:
                raise NotImplementedError(
                    f"compound member class {mcls} (only int/float members)"
                )
        names = tuple(sorted(n.lower() for n, _, _, _ in members))
        half = size // 2
        ok = (
            len(members) == 2
            and names in (("i", "r"), ("im", "re"), ("imag", "real"))
            and all(mc == 1 and ms == half for _, _, mc, ms in members)
            and sorted(mo for _, mo, _, _ in members) == [0, half]
            and half in (4, 8)
        )
        if not ok:
            raise NotImplementedError(
                "compound datatype is not the two-float complex "
                f"convention (members {[m[0] for m in members]!r}); "
                "generic compounds have no cells-model encoding"
            )
        return np.dtype(f"<c{size}")

    def _parse_fill(self, body: bytes):
        ver = body[0]
        if ver in (1, 2):
            defined = body[3]
            if ver == 1 or defined:
                (n,) = struct.unpack_from("<I", body, 4)
                return body[8 : 8 + n] if n else None
            return None
        if ver == 3:
            flags = body[1]
            if flags & 0x20:
                (n,) = struct.unpack_from("<I", body, 2)
                return body[6 : 6 + n] if n else None
            return None
        raise NotImplementedError(f"fill value message version {ver}")

    def _parse_layout(self, body: bytes):
        ver = body[0]
        if ver == 3:
            cls = body[1]
            if cls == 0:  # compact
                (n,) = struct.unpack_from("<H", body, 2)
                return {"layout": "compact", "data": body[4 : 4 + n]}
            if cls == 1:
                addr, size = struct.unpack_from("<QQ", body, 2)
                return {"layout": "contiguous", "addr": addr, "nbytes": size}
            if cls == 2:
                ndimp1 = body[2]
                (btree,) = struct.unpack_from("<Q", body, 3)
                dims = struct.unpack_from(f"<{ndimp1}I", body, 11)
                return {
                    "layout": "chunked",
                    "btree": btree,
                    "chunks": tuple(dims[:-1]),
                    "elem_size": dims[-1],
                }
            raise NotImplementedError(f"layout class {cls}")
        if ver == 4:
            cls = body[1]
            if cls != 2:
                raise NotImplementedError("layout v4 only supported for chunked")
            flags, ndims, enc = body[2], body[3], body[4]
            p = 5
            dims = []
            for _ in range(ndims):
                dims.append(int.from_bytes(body[p : p + enc], "little"))
                p += enc
            index_type = body[p]
            p += 1
            if index_type == 1:  # single chunk
                if flags & 0x02:  # filtered single chunk: size + mask first
                    fsize = int.from_bytes(body[p : p + 8], "little")
                    p += 8
                    p += 4  # filter mask
                    (addr,) = struct.unpack_from("<Q", body, p)
                    return {
                        "layout": "chunked_single",
                        "addr": addr,
                        "chunk_stored": fsize,
                        "chunks": tuple(dims),
                    }
                (addr,) = struct.unpack_from("<Q", body, p)
                return {
                    "layout": "chunked_single",
                    "addr": addr,
                    "chunk_stored": None,
                    "chunks": tuple(dims),
                }
            if index_type == 2:  # implicit: chunks packed at addr in order
                (addr,) = struct.unpack_from("<Q", body, p)
                return {
                    "layout": "chunked_implicit",
                    "addr": addr,
                    "chunks": tuple(dims),
                }
            raise NotImplementedError(
                f"layout v4 chunk index type {index_type} (fixed/extensible "
                "array and v2 B-tree indexes not supported)"
            )
        raise NotImplementedError(f"layout message version {ver}")

    def _parse_filters(self, body: bytes):
        ver = body[0]
        out = []
        n = body[1]
        p = 8 if ver == 1 else 2
        for _ in range(n):
            (fid,) = struct.unpack_from("<H", body, p)
            p += 2
            namelen = 0
            if ver == 1 or fid >= 256:
                (namelen,) = struct.unpack_from("<H", body, p)
                p += 2
            p += 2  # flags
            (ncd,) = struct.unpack_from("<H", body, p)
            p += 2
            if ver == 1:
                namelen = (namelen + 7) // 8 * 8
            p += namelen
            cd = struct.unpack_from(f"<{ncd}I", body, p)
            p += 4 * ncd
            if ver == 1 and ncd % 2 == 1:
                p += 4
            out.append((fid, tuple(cd)))
        return out

    def chunk_table(self, btree_addr: int, ndim: int):
        """[(addr, stored_nbytes, coords...)] from a v1 chunk B-tree."""
        out: list[tuple] = []
        self._walk_chunk_btree(btree_addr, ndim, out)
        return out

    def _walk_chunk_btree(self, addr: int, ndim: int, out: list):
        if addr == _UNDEF:
            return
        sig = self._read(addr, 4)
        if sig != b"TREE":
            raise ValueError("bad chunk B-tree node")
        ntype, level, nent = struct.unpack("<BBH", self._read(addr + 4, 4))
        if ntype != 1:
            raise ValueError("expected raw-data chunk B-tree")
        key_size = 8 + 8 * (ndim + 1)
        pos = addr + 24
        for i in range(nent):
            key = self._read(pos + i * (key_size + 8), key_size)
            child = struct.unpack(
                "<Q", self._read(pos + i * (key_size + 8) + key_size, 8)
            )[0]
            if level > 0:
                self._walk_chunk_btree(child, ndim, out)
            else:
                nbytes, _mask = struct.unpack_from("<II", key, 0)
                coords = struct.unpack_from(f"<{ndim}Q", key, 8)
                out.append((child, nbytes) + coords)


def h5_ls(path: str, group: str = "/") -> list[str]:
    """Names under a group -- the connector's discovery helper."""
    r = _Reader(path)
    try:
        return sorted(r.group_links(r.resolve(group)))
    finally:
        r.close()


# ---------------------------------------------------------------------------
# decode kernel (executor side)
# ---------------------------------------------------------------------------


def _decode_chunk(raw: bytes, filters, dtype, nbytes_logical: int) -> bytes:
    import zlib

    for fid, cd in reversed(filters):
        if fid == 3:  # fletcher32: checksum trails the data
            raw = raw[:-4]
        elif fid == 1:
            raw = zlib.decompress(raw)
        elif fid == 2:  # byte shuffle over the whole chunk
            ts = cd[0] if cd else dtype.itemsize
            arr = np.frombuffer(raw, dtype="u1")
            n_elem = len(raw) // ts
            raw = (
                arr[: n_elem * ts].reshape(ts, n_elem).T.tobytes()
                + bytes(arr[n_elem * ts :])
            )
        else:
            raise NotImplementedError(f"HDF5 filter id {fid} not supported")
    return raw


# ---------------------------------------------------------------------------
# from_hdf5
# ---------------------------------------------------------------------------


def from_hdf5(spark: SparkSession, path: str, datapath: str) -> Array:
    """Read one dataset of an HDF5 file into an Array.  The driver
    parses metadata only; executors fetch and decode the actual bytes
    in parallel (chunks for chunked layout, ~32 MB row slabs for
    contiguous layout)."""
    r = _Reader(path)
    try:
        info = r.dataset_info(r.resolve(datapath))
        shape = tuple(int(s) for s in info["shape"])
        dtype = info["dtype"]
        filters = list(info["filters"])
        ndim = max(len(shape), 1)
        if not shape:
            shape = (1,)  # scalar dataspace -> length-1 array

        if info.get("layout") == "compact":
            data = _decode_chunk(info["data"], filters, dtype, 0)
            return from_numpy(spark, np.frombuffer(data, dtype=dtype).reshape(shape))

        if info.get("layout") == "contiguous":
            return _read_contiguous(spark, path, info, shape, dtype, filters)

        if info.get("layout") == "chunked":
            chunks = tuple(int(c) for c in info["chunks"])
            table = r.chunk_table(info["btree"], len(shape))
        elif info.get("layout") == "chunked_single":
            chunks = tuple(int(c) for c in info["chunks"])
            if len(chunks) == len(shape) + 1:
                chunks = chunks[:-1]
            stored = info["chunk_stored"]
            if stored is None:
                stored = int(np.prod(chunks)) * dtype.itemsize
            table = [(info["addr"], stored) + (0,) * len(shape)]
        elif info.get("layout") == "chunked_implicit":
            chunks = tuple(int(c) for c in info["chunks"])
            if len(chunks) == len(shape) + 1:
                chunks = chunks[:-1]
            csize = int(np.prod(chunks)) * dtype.itemsize
            grid = [math.ceil(shape[k] / chunks[k]) for k in range(len(shape))]
            table = []
            for i, coords in enumerate(np.ndindex(*grid)):
                table.append(
                    (info["addr"] + i * csize, csize)
                    + tuple(int(c) * chunks[k] for k, c in enumerate(coords))
                )
        else:
            raise NotImplementedError(f"layout {info.get('layout')}")
        out = _read_chunked(spark, path, table, shape, chunks, dtype, filters)
        return _materialize_fill(spark, out, info, table, shape, chunks, dtype)
    finally:
        r.close()


def _materialize_fill(spark, arr, info, table, shape, chunks, dtype) -> Array:
    """h5py's default fill is 0 (not NaN): unwritten chunks of a
    chunked dataset must read as the fill value, so emit fill cells
    (``_fill_chunks``, the zarr readers' emitter) for the grid
    positions absent from the chunk index.  The missing set is the
    distributed grid anti-join the zarr readers use (``_grid_minus``)
    against the B-tree's present coordinates; the driver never
    enumerates the grid."""
    fill_bytes = info.get("fill")
    fill = np.zeros(1, dtype=dtype)[0]  # h5py default fill = 0
    if fill_bytes is not None and len(fill_bytes) == dtype.itemsize:
        # keep the NATIVE scalar: routing an int64 fill through
        # float() would round values above 2**53 and break the
        # value-exact int contract for fill cells
        fill = np.frombuffer(fill_bytes, dtype=dtype)[0]
    ndim = len(shape)
    present = {tuple(int(row[2 + k]) // chunks[k] for k in range(ndim))
               for row in table}
    if len(present) == math.prod(-(-shape[k] // chunks[k]) for k in range(ndim)):
        return arr
    present_df = local_frame(
        spark, list(present), ", ".join(f"c{k} long" for k in range(ndim))
    )
    mdf = _grid_minus(spark, present_df, shape, chunks)
    return Array(
        arr.df.unionByName(_fill_chunks(mdf, shape, chunks, fill, dtype)), shape
    )


def _read_contiguous(spark, path, info, shape, dtype, filters) -> Array:
    if filters:
        raise NotImplementedError("filtered contiguous layout is not valid HDF5")
    addr = info["addr"]
    if addr == _UNDEF:
        raise ValueError("contiguous dataset has no allocated storage")
    itemsize = dtype.itemsize
    row_elems = int(np.prod(shape[1:], dtype=np.int64)) if len(shape) > 1 else 1
    row_bytes = row_elems * itemsize
    rows_per_slab = max(1, _SLAB_BYTES // max(row_bytes, 1))
    nslabs = math.ceil(shape[0] / rows_per_slab)
    slabs = [
        (
            int(addr + s * rows_per_slab * row_bytes),
            int(min(rows_per_slab, shape[0] - s * rows_per_slab) * row_bytes),
            int(s * rows_per_slab),
        )
        for s in range(nslabs)
    ]
    sdf = local_frame(spark, slabs, "addr long, nbytes long, row0 long")
    sdf = sdf.repartition(min(nslabs, spark.sparkContext.defaultParallelism))
    kind = _value_kind(dtype)
    tail = tuple(shape[1:])

    def read_slab(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with open(path, "rb") as f:
            for pdf in it:
                for a, n, r0 in zip(pdf["addr"], pdf["nbytes"], pdf["row0"]):
                    f.seek(int(a))
                    vals = np.frombuffer(f.read(int(n)), dtype=dtype)
                    block = vals.reshape((len(vals) // max(row_elems, 1),) + tail)
                    offs = (int(r0),) + (0,) * len(tail)
                    yield _chunk_cells(block, offs, kind, shape)

    return Array(
        sdf.mapInPandas(read_slab, schema=_cells_schema(len(shape), kind)), shape
    )


def _read_chunked(spark, path, table, shape, chunks, dtype, filters) -> Array:
    ndim = len(shape)
    kind = _value_kind(dtype)
    schema = _cells_schema(ndim, kind)
    if not table:
        # no chunks written: all-fill dataset -> empty cell form (the
        # caller's _materialize_fill emits every cell at the fill)
        return Array(spark.createDataFrame([], schema), shape)
    cdf = local_frame(
        spark,
        [tuple(int(x) for x in row) for row in table],
        "addr long, nbytes long, " + ", ".join(f"c{k} long" for k in range(ndim)),
    )
    cdf = cdf.repartition(min(len(table), spark.sparkContext.defaultParallelism * 4))
    flist = list(filters)

    def read_chunks(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with open(path, "rb") as f:
            for pdf in it:
                for row in pdf.itertuples(index=False):
                    f.seek(int(row.addr))
                    raw = _decode_chunk(f.read(int(row.nbytes)), flist, dtype, 0)
                    block = np.frombuffer(raw, dtype=dtype).reshape(chunks)
                    offs = [int(getattr(row, f"c{k}")) for k in range(ndim)]
                    yield _chunk_cells(block, offs, kind, shape)

    return Array(cdf.mapInPandas(read_chunks, schema=schema), shape)


# ---------------------------------------------------------------------------
# writer (superblock v0 profile)
# ---------------------------------------------------------------------------


def _dt_c16_message() -> bytes:
    """Compound datatype (class 6 v1) in the two-member complex shape
    h5py writes for complex128: members "r" (offset 0) and "i"
    (offset 8), each the IEEE f8 message below.  v1 member layout:
    8-padded name, 4-byte offset, dimensionality byte + 3 reserved +
    4-byte permutation + 4 reserved + 4x4 dim sizes (all zero for
    scalar members), then the member datatype message."""

    def member(name: str, off: int) -> bytes:
        nm = name.encode() + b"\x00"
        nm += b"\x00" * ((-len(nm)) % 8)
        return nm + struct.pack("<I", off) + b"\x00" * 28 + _dt_f8_message()

    head = struct.pack("<BBBBI", 0x16, 0x02, 0x00, 0x00, 16)
    return head + member("r", 0) + member("i", 8)


def _dt_f8_message() -> bytes:
    # class 1 (float) v1; LE, IEEE f8: mantissa-norm=msb-implied,
    # sign bit 63; props: offset 0, precision 64, exp loc 52 size 11,
    # mant loc 0 size 52, bias 1023
    head = struct.pack("<BBBBI", 0x11, 0x20, 0x3F, 0x00, 8)
    props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
    return head + props


def _dt_u8_message() -> bytes:
    # class 0 (fixed point) v1; LE, UNSIGNED (bit 3 clear), size 8;
    # props: bit offset 0, bit precision 64 -- the uint64 tier's
    # store dtype (decimal(20,0) cells, round 11)
    head = struct.pack("<BBBBI", 0x10, 0x00, 0x00, 0x00, 8)
    props = struct.pack("<HH", 0, 64)
    return head + props


def _dt_i8_message() -> bytes:
    # class 0 (fixed point) v1; LE, SIGNED two's complement (bit 3
    # set), size 8 -- long (int64) value columns write natively so
    # integers above 2**53 stay exact (round 11; matches to_zarr's
    # int64 store contract)
    head = struct.pack("<BBBBI", 0x10, 0x08, 0x00, 0x00, 8)
    props = struct.pack("<HH", 0, 64)
    return head + props


def _msg_v1(mtype: int, body: bytes) -> bytes:
    pad = (-len(body)) % 8
    body = body + b"\x00" * pad
    return struct.pack("<HHBBBB", mtype, len(body), 0, 0, 0, 0) + body


def _oh_v1(messages: list[bytes]) -> bytes:
    blob = b"".join(messages)
    return struct.pack("<BBHIi", 1, 0, len(messages), 1, len(blob)) + b"\x00" * 4 + blob


class _W:
    """Append-only metadata image builder with 8-byte alignment."""

    def __init__(self):
        self.buf = bytearray()

    def align(self):
        self.buf += b"\x00" * ((-len(self.buf)) % 8)

    def add(self, b: bytes) -> int:
        self.align()
        addr = len(self.buf)
        self.buf += b
        return addr


def _filter_pipeline_v1(filters: list[tuple[int, tuple]]) -> bytes:
    """Filter-pipeline message v1 for the (shuffle, deflate) subset the
    reader decodes: 8-byte header, then per filter id / namelen 0 /
    flags 0 (mandatory) / client-data values padded to even count."""
    body = struct.pack("<BB2x4x", 1, len(filters))
    for fid, cd in filters:
        body += struct.pack("<HHHH", fid, 0, 0, len(cd))
        body += b"".join(struct.pack("<I", v) for v in cd)
        if len(cd) % 2 == 1:
            body += b"\x00" * 4
    return body


_BT_CAP = 32  # entries per chunk B-tree node (well-formed at any count)


def _bt_node_size(ndim: int) -> int:
    key_size = 8 + 8 * (ndim + 1)
    return 24 + _BT_CAP * (key_size + 8) + key_size


def _bt_level_counts(n: int) -> list[int]:
    """Nodes per level, leaves first, down to a single root."""
    counts = []
    while True:
        n = max(1, -(-n // _BT_CAP))
        counts.append(n)
        if n == 1:
            return counts
        # next level indexes this one


def _btree_total_bytes(nchunks: int, ndim: int) -> int:
    return sum(_bt_level_counts(nchunks)) * _bt_node_size(ndim)


def _build_chunk_btree(sizes, ndim, cdims, addr_map, base_addr):
    """v1 raw-data chunk B-tree image: leaves hold (key, chunk addr)
    pairs sorted by chunk offset, internal levels index their first
    keys; node capacity ``_BT_CAP``, sibling-chained per level.
    Returns (image bytes laid out from ``base_addr``, root offset
    within the image)."""
    node_size = _bt_node_size(ndim)

    def key(nb: int, coords) -> bytes:
        return (
            struct.pack("<II", nb, 0)
            + b"".join(struct.pack("<Q", c) for c in coords)
            + struct.pack("<Q", 0)
        )

    # the trailing key of the LAST node of each level: one past the
    # final chunk (libhdf5 writes the dataset's chunk-aligned bound)
    last_coords = sizes[-1][0]
    max_key = key(0, tuple(c + d for c, d in zip(last_coords, cdims)))

    # entries per level: [(first_key, child_addr)]
    level = [(key(nb, coords), addr_map[coords][0]) for coords, nb in sizes]
    counts = _bt_level_counts(len(level))
    # node addresses: leaves first, root last
    offs = []
    off = 0
    for c in counts:
        offs.append([off + i * node_size for i in range(c)])
        off += c * node_size
    img = bytearray(off)
    for lvl, node_offs in enumerate(offs):
        groups = [
            level[i * _BT_CAP : (i + 1) * _BT_CAP]
            for i in range(len(node_offs))
        ]
        next_level = []
        for i, (noff, grp) in enumerate(zip(node_offs, groups)):
            left = base_addr + node_offs[i - 1] if i > 0 else _UNDEF
            right = (
                base_addr + node_offs[i + 1]
                if i + 1 < len(node_offs) else _UNDEF
            )
            node = struct.pack(
                "<4sBBHQQ", b"TREE", 1, lvl, len(grp), left, right
            )
            for k, child in grp:
                node += k + struct.pack("<Q", child)
            # trailing key: next sibling's first entry key, else max
            node += groups[i + 1][0][0] if i + 1 < len(groups) else max_key
            img[noff : noff + len(node)] = node
            next_level.append((grp[0][0], base_addr + noff))
        level = next_level
    root_off = offs[-1][0]
    return bytes(img), root_off


def _encode_chunk(block: np.ndarray, filters) -> bytes:
    """Apply the write-side filter pipeline in order (shuffle, then
    deflate) -- the exact inverse of _decode_chunk's reversed() walk.
    zlib.compress is deterministic for a fixed library, which is what
    lets pass 1 (sizing) and pass 2 (writing) agree byte-for-byte."""
    import zlib

    raw = np.ascontiguousarray(block).tobytes()
    for fid, cd in filters:
        if fid == 2:  # byte shuffle over the whole chunk
            ts = cd[0]
            arr = np.frombuffer(raw, dtype="u1")
            n_elem = len(raw) // ts
            raw = (
                arr[: n_elem * ts].reshape(n_elem, ts).T.tobytes()
                + bytes(arr[n_elem * ts :])
            )
        elif fid == 1:
            raw = zlib.compress(raw, cd[0])
        else:  # pragma: no cover - writer only emits 1/2
            raise NotImplementedError(f"write filter id {fid}")
    return raw


def _store_dtype(arr: Array) -> np.dtype:
    """The HDF5 dataset dtype of an array's value column: complex
    (STRUCT<re,im>) cells write the h5py compound {r,i} convention at
    16 bytes/cell; uint64 cells (decimal(20,0)) and long cells write
    native unsigned / signed 64-bit datasets (fill 0 like every int
    store, value-exact above 2**53); everything else stays the float64
    contract."""
    vtype = dict(arr.df.dtypes).get(VALUE_COL, "")
    if vtype.startswith("struct"):
        return np.dtype("<c16")
    return np.dtype(
        {"decimal(20,0)": "<u8", "bigint": "<i8"}.get(vtype.replace(" ", ""), "<f8")
    )


def _chunk_pass(arr: Array, cdims, filters, *, filename, addr_map):
    """One executor sweep over the chunk grid.  ``filename=None`` is
    pass 1: return metadata-sized [(coords, stored_nbytes)] rows for
    every non-empty chunk.  With a filename + addr map it is pass 2:
    re-encode each chunk (deterministic, see _encode_chunk) and pwrite
    it at its assigned address.

    Determinism guard limits: pass 2 refuses loudly when a chunk's
    encoded size drifts from pass 1 or when a chunk appears that pass
    1 never sized.  For UNFILTERED chunked writes every full chunk
    encodes to the same byte count, so the size check cannot detect
    pure VALUE drift from a nondeterministic source -- persist() the
    source if its values are not stable across jobs."""
    from pyspark.sql import functions as F

    shape = tuple(int(s) for s in arr.shape)
    ndim = len(shape)
    dtype = _store_dtype(arr)
    d = arr.df
    ccols = []
    for k in range(ndim):
        cc = f"__c{k}"
        d = d.withColumn(
            cc, (F.col(f"i{k}") / F.lit(cdims[k])).cast("long") * F.lit(cdims[k])
        )
        ccols.append(cc)

    def one_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        coords = tuple(int(pdf[c].iloc[0]) for c in ccols)
        # HDF5 stores FULL chunk extents (edge chunks padded with fill)
        block = _cells_block(
            pdf, coords, cdims, dtype,
            f"hdf5 chunk {coords} of an int64/uint64 HDF5 store",
        )
        payload = _encode_chunk(block, filters)
        if filename is None:
            return pd.DataFrame(
                {**{f"c{k}": [coords[k]] for k in range(ndim)},
                 "nbytes": [len(payload)]}
            )
        entry = addr_map.get(coords)
        if entry is None:
            # a chunk that exists only in the writing pass means the
            # source re-evaluated differently between jobs -- same
            # root cause as the size mismatch below, so raise the
            # same explanatory error instead of a bare KeyError
            raise ValueError(
                f"chunk {coords} appeared only in the writing pass "
                "(no address was laid out from pass 1): the source "
                "DataFrame is not deterministic across jobs; persist() "
                "it (or write uncompressed) before to_hdf5"
            )
        addr, alloc = entry
        if len(payload) != alloc:
            # a source that re-evaluates differently between the
            # sizing and writing passes would silently overrun the
            # next chunk's extent -- refuse with the cause instead
            raise ValueError(
                f"chunk {coords} re-encoded to {len(payload)} bytes but "
                f"{alloc} were allocated from pass 1: the source "
                "DataFrame is not deterministic across jobs; persist() "
                "it (or write uncompressed) before to_hdf5"
            )
        with open(filename, "r+b") as f:
            f.seek(addr)
            f.write(payload)
        return pd.DataFrame({"n": [len(payload)]})

    if filename is None:
        schema = ", ".join(f"c{k} long" for k in range(ndim)) + ", nbytes long"
        rows = d.groupBy(*ccols).applyInPandas(one_chunk, schema=schema).collect()
        return [
            (tuple(int(r[f"c{k}"]) for k in range(ndim)), int(r["nbytes"]))
            for r in rows
        ]
    d.groupBy(*ccols).applyInPandas(one_chunk, schema="n long").count()


def to_hdf5(
    a,
    filename: str,
    datapath: str | None = None,
    *,
    chunks=None,
    compression: str | None = None,
    compression_opts: int = 4,
    shuffle: bool = False,
) -> None:
    """Write Array(s) as HDF5 datasets (reference io/_store.py:331
    ``to_hdf5(filename, '/x', x)`` and its dict form).  The driver
    writes the metadata image and preallocates the file; every
    dataset's bytes then pwrite at computed offsets from executors in
    parallel.  Requires a filesystem shared by all executors (same
    contract as to_zarr / to_npy_stack).

    Layouts (round 11 -- parity with h5py's chunked/gzip default
    output, which the reference writes through h5py):

    - default: contiguous, parallel executor row-slab writes.
    - ``chunks=`` and/or ``compression='gzip'``: CHUNKED layout with a
      v1 chunk B-tree index, optional deflate (``compression_opts`` =
      zlib level) and byte-``shuffle`` filters -- exactly the filter
      set the spec-native reader decodes.  Only non-empty chunks are
      stored; absent chunks read back at the declared fill value.
      Two executor passes per dataset: pass 1 sizes each compressed
      chunk (deflate is deterministic for a fixed zlib, so sizes are
      exact), the driver lays out the B-tree + extents from those
      METADATA-SIZED (coords, nbytes) rows, pass 2 re-encodes and
      pwrites each chunk at its assigned address.  The B-tree itself
      is driver-written: one 16-byte key per stored chunk, so keep
      chunks >= ~10^6 cells at scale (the same driver-memory bound
      h5py's single-writer B-tree has).

    Options apply to every dataset of a dict write.  ``chunks`` may be
    a tuple (clipped per-dataset to its shape) and must match the
    dataset rank; ``compression`` accepts 'gzip'/'deflate'/'zlib'.

    ``to_hdf5(arr, 'f.h5', '/x')`` or ``to_hdf5({'/a/x': x, '/y': y},
    'f.h5')``."""
    if compression is not None and compression not in ("gzip", "deflate", "zlib"):
        raise NotImplementedError(
            f"compression {compression!r} (only deflate: 'gzip'/'deflate'/'zlib')"
        )
    chunked_write = chunks is not None or compression is not None or shuffle
    if isinstance(a, Array):
        if datapath is None:
            raise ValueError("to_hdf5(Array, filename, datapath) needs a path")
        items = {datapath: a}
    else:
        items = dict(a)
    if not items:
        raise ValueError("nothing to write")
    for p, arr in items.items():
        if any(s is None for s in arr.shape):
            raise ValueError(f"to_hdf5 needs fully known shapes ({p})")

    # group tree: name -> subtree dict | Array
    tree: dict = {}
    for p, arr in items.items():
        parts = [q for q in p.strip("/").split("/") if q]
        if not parts:
            raise ValueError(f"bad datapath {p!r}")
        node = tree
        for part in parts[:-1]:
            node = node.setdefault(part, {})
            if isinstance(node, Array):
                raise ValueError(f"{p!r}: path collides with a dataset")
        if parts[-1] in node:
            raise ValueError(f"duplicate datapath {p!r}")
        node[parts[-1]] = arr

    w = _W()
    w.buf += b"\x00" * 2048  # superblock region, rewritten at the end
    # ("contig", patch_at, arr) | ("chunked", patch_at, arr, cdims, filters)
    data_extents: list[tuple] = []

    def write_dataset(arr: Array) -> int:
        shape = tuple(int(s) for s in arr.shape)
        ndim = len(shape)
        dtype = _store_dtype(arr)
        isz = dtype.itemsize
        nbytes = int(np.prod(shape, dtype=np.int64)) * isz
        if dtype.kind == "c":
            fill = struct.pack("<dd", float("nan"), float("nan"))
            dt_msg = _dt_c16_message()
        elif dtype.kind == "u":
            fill = struct.pack("<Q", 0)
            dt_msg = _dt_u8_message()
        elif dtype.kind == "i":
            fill = struct.pack("<q", 0)
            dt_msg = _dt_i8_message()
        else:
            fill = struct.pack("<d", float("nan"))
            dt_msg = _dt_f8_message()
        msgs = [
            _msg_v1(
                0x0001,
                struct.pack("<BBBBI", 1, len(shape), 0, 0, 0)
                + b"".join(struct.pack("<Q", s) for s in shape),
            ),
            _msg_v1(0x0003, dt_msg),
            _msg_v1(
                0x0005,
                struct.pack("<BBBBI", 2, 2, 0, 1, isz) + fill,
            ),
        ]
        if chunked_write:
            if chunks is None:
                # h5py-ish default: ~1 MiB row-slabs, full tail dims
                row_elems = (
                    int(np.prod(shape[1:], dtype=np.int64)) if ndim > 1 else 1
                )
                r = max(1, min(shape[0] or 1, (1 << 20) // max(row_elems * isz, 1)))
                cdims = (r,) + tuple(shape[1:])
            else:
                ct = tuple(int(c) for c in chunks)
                if len(ct) != ndim:
                    raise ValueError(
                        f"chunks {ct} do not match dataset rank {ndim}"
                    )
                cdims = tuple(max(1, min(c, s or 1)) for c, s in zip(ct, shape))
            filters = []
            if shuffle:
                filters.append((2, (isz,)))
            if compression is not None:
                filters.append((1, (int(compression_opts),)))
            if filters:
                msgs.append(_msg_v1(0x000B, _filter_pipeline_v1(filters)))
            # layout v3 class 2 (chunked): btree address patched after
            # pass-1 sizes land; dims carry chunk shape + element size
            msgs.append(
                _msg_v1(
                    0x0008,
                    struct.pack("<BBB", 3, 2, ndim + 1)
                    + struct.pack("<Q", _UNDEF)
                    + struct.pack(f"<{ndim + 1}I", *cdims, isz),
                )
            )
            tag = ("chunked", cdims, filters)
            patch_skip = 3  # version, class, dimensionality bytes
        else:
            # layout v3 contiguous; address patched once extents land
            msgs.append(
                _msg_v1(0x0008, struct.pack("<BBQQ", 3, 1, _UNDEF, nbytes))
            )
            tag = ("contig",)
            patch_skip = 2  # version, class bytes
        oh = _oh_v1(msgs)
        addr = w.add(oh)
        # locate the layout message's address field inside the image:
        # oh prefix 16B, then msgs in order; compute offset of the Q
        off = 16
        for m in msgs[:-1]:
            off += len(m)
        off += 8 + patch_skip  # last msg header + pre-address bytes
        data_extents.append((tag[0], addr + off, arr) + tag[1:])
        return addr

    def write_group(node: dict) -> int:
        names = sorted(node)
        if len(names) > 1000:
            raise NotImplementedError(
                "writer emits one symbol-table node per group (<=1000 links)"
            )
        child_addr = {
            n: (write_group(node[n]) if isinstance(node[n], dict)
                else write_dataset(node[n]))
            for n in names
        }
        # local heap: empty string at 0, then NUL-terminated names
        hdata = bytearray(b"\x00" * 8)
        name_off = {}
        for n in names:
            name_off[n] = len(hdata)
            hdata += n.encode() + b"\x00"
            hdata += b"\x00" * ((-len(hdata)) % 8)
        heap_data_addr = w.add(bytes(hdata))
        heap = struct.pack("<4sB3sQQQ", b"HEAP", 0, b"\x00" * 3,
                           len(hdata), _UNDEF, heap_data_addr)  # no free blocks
        heap_addr = w.add(heap)
        snod = struct.pack("<4sBBH", b"SNOD", 1, 0, len(names))
        for n in names:
            snod += struct.pack("<QQII16x", name_off[n], child_addr[n], 0, 0)
        snod_addr = w.add(snod)
        btree = struct.pack("<4sBBHQQ", b"TREE", 0, 0, 1, _UNDEF, _UNDEF)
        btree += struct.pack("<Q", 0)  # key0: empty-string heap offset
        btree += struct.pack("<Q", snod_addr)
        btree += struct.pack("<Q", name_off[names[-1]] if names else 0)
        # pad the node to the capacity the superblock's internal K (16)
        # declares: 24B head + 2K children + 2K+1 keys
        cap = 24 + 8 * (4 * 16 + 1)
        btree += b"\x00" * (cap - len(btree))
        btree_addr = w.add(btree)
        oh = _oh_v1([_msg_v1(0x0011, struct.pack("<QQ", btree_addr, heap_addr))])
        return w.add(oh)

    root_addr = write_group(tree)

    # lay out data extents after all metadata
    w.align()
    meta_end = len(w.buf)
    pos = meta_end
    extents = []          # contiguous: (data_addr, arr)
    chunk_writes = []     # chunked: (arr, cdims, filters, {coords: addr})
    driver_blobs = []     # (addr, bytes): B-tree nodes, driver-written
    for ent in data_extents:
        kind_tag, patch_at, arr = ent[0], ent[1], ent[2]
        shape = tuple(int(s) for s in arr.shape)
        # per-dataset itemsize: complex datasets are 16 bytes/cell --
        # a flat 8 here would overlap the NEXT dataset's extent in a
        # multi-dataset file (round-11 audit catch)
        isz = _store_dtype(arr).itemsize
        if kind_tag == "contig":
            nbytes = int(np.prod(shape, dtype=np.int64)) * isz
            struct.pack_into("<Q", w.buf, patch_at, pos)
            extents.append((pos, arr))
            pos += nbytes
            pos += (-pos) % 8
            continue
        cdims, filters = ent[3], ent[4]
        # pass 1: per-chunk compressed sizes -- metadata-sized rows
        # (one (coords, nbytes) per NON-EMPTY chunk), collected like
        # every other model-parameter class
        sizes = _chunk_pass(arr, cdims, filters, filename=None, addr_map=None)
        if not sizes:
            continue  # all-fill dataset: B-tree address stays UNDEF
        sizes.sort(key=lambda t: t[0])
        ndim = len(shape)
        btree_base = pos
        pos += _btree_total_bytes(len(sizes), ndim)
        pos += (-pos) % 8
        addr_map = {}
        for coords, nb in sizes:
            addr_map[coords] = (pos, nb)
            pos += nb
        pos += (-pos) % 8
        nodes_bytes, root_off = _build_chunk_btree(
            sizes, ndim, cdims, addr_map, btree_base
        )
        struct.pack_into("<Q", w.buf, patch_at, btree_base + root_off)
        driver_blobs.append((btree_base, nodes_bytes))
        chunk_writes.append((arr, cdims, filters, addr_map))
    eof = pos

    # superblock v0 with root symbol table entry
    sb = _SIG + struct.pack(
        "<BBBBBBBBHHI", 0, 0, 0, 0, 0, 8, 8, 0, 512, 16, 0
    )
    sb += struct.pack("<QQQQ", 0, _UNDEF, eof, _UNDEF)
    sb += struct.pack("<QQII16x", 0, root_addr, 0, 0)
    w.buf[: len(sb)] = sb

    with open(filename, "wb") as f:
        f.write(bytes(w.buf))
        f.truncate(eof)
    if driver_blobs:
        with open(filename, "r+b") as f:
            for at, blob in driver_blobs:
                f.seek(at)
                f.write(blob)

    # parallel writes, one job per dataset
    for data_addr, arr in extents:
        _write_slabs(arr, filename, data_addr)
    for arr, cdims, filters, addr_map in chunk_writes:
        _chunk_pass(arr, cdims, filters, filename=filename, addr_map=addr_map)


def _write_slabs(arr: Array, filename: str, data_addr: int) -> None:
    from pyspark.sql import functions as F

    shape = tuple(int(s) for s in arr.shape)
    ndim = len(shape)
    vtype = dict(arr.df.dtypes).get(VALUE_COL, "double")
    dtype = _store_dtype(arr)
    isz = dtype.itemsize
    row_elems = int(np.prod(shape[1:], dtype=np.int64)) if ndim > 1 else 1
    rows_per_slab = max(1, _SLAB_BYTES // max(row_elems * isz, 1))
    nslabs = math.ceil(shape[0] / rows_per_slab)
    d = arr.df.withColumn(
        "__slab", (F.col("i0") / F.lit(rows_per_slab)).cast("long")
    )
    if dtype.kind in "fc":
        # float/complex slabs must ALL write (absent cells are NaN but
        # the preallocated file holds zeros): union one null-valued
        # marker row per slab so the kernel fires even for slabs with
        # no cells.  Int slabs skip this -- their fill IS the
        # preallocated zero bytes, and the marker's NULL would be
        # refused as a NULL cell
        marker = arr.spark.range(nslabs).select(
            *[(F.col("id") * rows_per_slab if k == 0 else F.lit(0)).alias(f"i{k}")
              for k in range(ndim)],
            F.lit(None).cast(vtype).alias(VALUE_COL),
            F.col("id").alias("__slab"),
        )
        d = d.unionByName(marker)
    tail = tuple(shape[1:])

    def write_slab(pdf: pd.DataFrame) -> pd.DataFrame:
        slab = int(pdf["__slab"].iloc[0])
        r0 = slab * rows_per_slab
        dims = (min(rows_per_slab, shape[0] - r0),) + tail
        block = _cells_block(
            pdf, (r0,) + (0,) * len(tail), dims, dtype,
            f"hdf5 slab at row {r0} of an int64/uint64 HDF5 store",
        )
        with open(filename, "r+b") as f:
            f.seek(data_addr + r0 * row_elems * isz)
            f.write(block.tobytes())
        return pd.DataFrame({"n": [int(block.size)]})

    d.groupBy("__slab").applyInPandas(write_slab, schema="n long").count()
