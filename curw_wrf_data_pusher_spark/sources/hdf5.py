"""Pure-numpy HDF5 reader — the netCDF-4 subset (SURVEY §2.1 S1).

The container has no h5py/netCDF4 C stack, but the HDF5 file format is
a fully public specification (HDF5 File Format Specification v3.0,
support.hdfgroup.org).  This module implements, from that spec, the
subset a netCDF-4-backed WRF file actually uses — closing the gap that
``sources/netcdf3.py`` closed for the classic data model (reference:
wrf_data_pusher.py:172-196 opens these files via the netCDF4 C
library; we decode the same bytes in pure Python):

- superblock versions 0/1 (offsets/lengths sized per file) and 2/3;
- object headers version 1 and version 2 (``OHDR``), with
  continuation blocks (v1 raw, v2 ``OCHK``);
- groups stored as symbol tables (v1 B-tree + ``SNOD`` + local heap,
  the "old-style" layout), as compact link messages (the "new-style"
  layout netCDF-4's link-creation-order tracking produces below ~8
  links), AND as dense link storage — the name-index version-2
  B-tree (depth ≤ 1, i.e. thousands of links — a full wrfout file's
  100+ variables) over a fractal heap (root single-direct-block and
  root-indirect-with-direct-rows layouts);
- datatypes: fixed-point (1/2/4/8-byte, signed/unsigned, LE/BE),
  IEEE float (4/8-byte, LE/BE), fixed-length strings, and
  variable-length strings (resolved through the global heap) in
  attributes;
- dataspaces v1/v2; fill-value messages v1/v2/v3;
- data layout message v3: compact, contiguous, and chunked with the
  v1 chunk B-tree index;
- filter pipeline v1/v2: deflate (zlib), shuffle, fletcher32;
- compact attribute messages v1/v2/v3 (netCDF attributes, including
  the ``description``/``units`` epoch text the WRF decode reads) AND
  dense attribute storage (Attribute Info message + type-8 v2 B-tree
  over a fractal heap — where netCDF-4 puts attributes past ~8 per
  object, i.e. every real wrfout variable's 10+ attrs).

The read surface matches ``netcdf3.NetCDF3Reader`` (the injected
``open_dataset`` contract of ``sources/netcdf.py``): ``.variables``
with numpy slicing, per-variable attributes as instance attributes,
``.shape``, ``_FillValue`` masking, ``.dimensions``, ``.close()``.

No code here derives from the HDF5 C library, h5py, or any other
reader — it is written against the published format specification.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .netcdf3 import _leading_range, _rest_key

_SIG = b"\x89HDF\r\n\x1a\n"

# message type ids (spec section IV.A.2)
_M_NIL = 0x0000
_M_DATASPACE = 0x0001
_M_LINK_INFO = 0x0002
_M_DATATYPE = 0x0003
_M_FILL_OLD = 0x0004
_M_FILL = 0x0005
_M_LINK = 0x0006
_M_LAYOUT = 0x0008
_M_GROUP_INFO = 0x000A
_M_FILTERS = 0x000B
_M_ATTR = 0x000C
_M_CONT = 0x0010
_M_ATTR_INFO = 0x0015
_M_SYMTAB = 0x0011

# filter ids
_F_DEFLATE = 1
_F_SHUFFLE = 2
_F_FLETCHER32 = 3


class _B:
    """Little-endian cursor over the file buffer with superblock-sized
    offset (``o``) / length (``l``) reads."""

    def __init__(self, buf, pos=0, osz=8, lsz=8):
        self.buf = buf
        self.pos = pos
        self.osz = osz
        self.lsz = lsz

    def read(self, n):
        b = self.buf[self.pos:self.pos + n]
        if len(b) != n:
            raise ValueError("truncated HDF5 structure")
        self.pos += n
        return b

    def u1(self):
        return self.read(1)[0]

    def u2(self):
        return struct.unpack("<H", self.read(2))[0]

    def u4(self):
        return struct.unpack("<I", self.read(4))[0]

    def u8(self):
        return struct.unpack("<Q", self.read(8))[0]

    def uN(self, n):
        return int.from_bytes(self.read(n), "little")

    def o(self):
        return self.uN(self.osz)

    def l(self):  # noqa: E743 — matches the spec's "Size of Lengths"
        return self.uN(self.lsz)


def _undef(v, size):
    return v == (1 << (8 * size)) - 1


class HDF5Reader:
    """Parse one HDF5 file from an in-memory byte string."""

    def __init__(self, content: bytes):
        if content[:8] != _SIG:
            raise ValueError("not an HDF5 file (bad signature)")
        self._buf = content
        self._parse_superblock()
        self.variables: dict[str, _H5Var] = {}
        self.dimensions: dict[str, int] = {}
        self._walk_group(self._root_addr, prefix="")
        # netCDF-4 dimensions are datasets tagged CLASS=DIMENSION_SCALE
        for name, v in self.variables.items():
            if v._attrs.get("CLASS") == "DIMENSION_SCALE" and v.shape:
                self.dimensions[name] = v.shape[0]

    # -- superblock ----------------------------------------------------
    def _parse_superblock(self):
        c = _B(self._buf, 8)
        ver = c.u1()
        if ver in (0, 1):
            c.read(1)  # free-space version
            c.read(1)  # root-group version
            c.read(1)  # reserved
            c.read(1)  # shared-header version
            c.osz = c.u1()
            c.lsz = c.u1()
            c.read(1)  # reserved
            c.u2()  # group leaf node k
            c.u2()  # group internal node k
            c.u4()  # consistency flags
            if ver == 1:
                c.u2()  # indexed-storage internal node k
                c.u2()  # reserved
            c.o()  # base address
            c.o()  # free-space address
            c.o()  # end-of-file address
            c.o()  # driver-info address
            # root group symbol table entry
            c.o()  # link name offset
            self._root_addr = c.o()
        elif ver in (2, 3):
            c.osz = c.u1()
            c.lsz = c.u1()
            c.u1()  # consistency flags
            c.o()  # base address
            c.o()  # superblock extension address
            c.o()  # end-of-file address
            self._root_addr = c.o()
        else:
            raise ValueError(f"unsupported HDF5 superblock version {ver}")
        self._osz, self._lsz = c.osz, c.lsz

    def _cur(self, pos):
        return _B(self._buf, pos, self._osz, self._lsz)

    # -- object headers ------------------------------------------------
    def _messages(self, addr):
        """All (type, body_bytes) messages of the object header at
        ``addr`` — v1 and v2 headers, continuation blocks followed."""
        buf = self._buf
        if buf[addr:addr + 4] == b"OHDR":
            return self._messages_v2(addr)
        return self._messages_v1(addr)

    def _messages_v1(self, addr):
        c = self._cur(addr)
        version = c.u1()
        if version != 1:
            raise ValueError(f"unsupported object header version {version}")
        c.read(1)
        nmsgs = c.u2()
        c.u4()  # reference count
        hdrsize = c.u4()
        c.read(4)  # pad to 8-byte alignment
        blocks = [(c.pos, hdrsize)]
        msgs = []
        bi = 0
        while bi < len(blocks):
            pos, size = blocks[bi]
            bi += 1
            end = pos + size
            while pos + 8 <= end and len(msgs) < nmsgs:
                mtype, msize, _flags = struct.unpack(
                    "<HHB", self._buf[pos:pos + 5]
                )
                body = self._buf[pos + 8:pos + 8 + msize]
                pos += 8 + msize
                if mtype == _M_CONT:
                    cc = _B(body, 0, self._osz, self._lsz)
                    blocks.append((cc.o(), cc.l()))
                    msgs.append((mtype, body))
                else:
                    msgs.append((mtype, body))
        return msgs

    def _messages_v2(self, addr):
        c = self._cur(addr + 4)
        version = c.u1()
        if version != 2:
            raise ValueError(f"unsupported OHDR version {version}")
        flags = c.u1()
        if flags & 0x20:
            c.read(16)  # 4 timestamps
        if flags & 0x10:
            c.u2()  # max compact attrs
            c.u2()  # min dense attrs
        size0 = c.uN(1 << (flags & 0x3))
        track_order = bool(flags & 0x04)
        msgs = []
        # chunk 0: messages then 4-byte checksum
        blocks = [(c.pos, size0, False)]
        bi = 0
        while bi < len(blocks):
            pos, size, has_sig = blocks[bi]
            bi += 1
            if has_sig:
                if self._buf[pos:pos + 4] != b"OCHK":
                    raise ValueError("bad OCHK continuation signature")
                pos += 4
                size -= 8  # signature + trailing checksum
            else:
                size -= 4  # trailing checksum
            end = pos + size
            hdr = 4 + (2 if track_order else 0)
            while pos + hdr <= end:
                mtype = self._buf[pos]
                msize = struct.unpack("<H", self._buf[pos + 1:pos + 3])[0]
                pos += hdr
                body = self._buf[pos:pos + msize]
                pos += msize
                if mtype == _M_CONT:
                    cc = _B(body, 0, self._osz, self._lsz)
                    blocks.append((cc.o(), cc.l(), True))
                msgs.append((mtype, body))
        return msgs

    # -- group traversal -----------------------------------------------
    def _walk_group(self, addr, prefix):
        links = []  # (name, object header address)
        msgs = self._messages(addr)
        for mtype, body in msgs:
            if mtype == _M_SYMTAB:
                c = _B(body, 0, self._osz, self._lsz)
                btree, heap = c.o(), c.o()
                links.extend(self._symtab_links(btree, heap))
            elif mtype == _M_LINK:
                got = self._parse_link(body)
                if got is not None:
                    links.append(got)
            elif mtype == _M_LINK_INFO:
                c = _B(body, 0, self._osz, self._lsz)
                c.u1()  # version
                lflags = c.u1()
                if lflags & 0x1:
                    c.u8()  # max creation index
                fheap = c.o()
                name_btree = c.o()
                if not _undef(fheap, self._osz):
                    # dense link storage (reached past ~8 links per
                    # group — e.g. a full wrfout file's 100+
                    # variables): enumerate the name-index v2 B-tree,
                    # fetch each link message from the fractal heap
                    for rec in self._btree_v2_records(name_btree):
                        got = self._parse_link(
                            self._fheap_object(fheap, rec[4:])
                        )
                        if got is not None:
                            links.append(got)
        for name, child in links:
            cmsgs = self._messages(child)
            types = {t for t, _ in cmsgs}
            full = prefix + name
            if _M_DATASPACE in types and _M_DATATYPE in types:
                var = self._make_var(cmsgs, full)
                if var is not None:
                    self.variables[full] = var
            elif _M_SYMTAB in types or _M_LINK in types or (
                _M_LINK_INFO in types
            ) or _M_GROUP_INFO in types:
                self._walk_group(child, prefix=full + "/")
            # else: unsupported object (named datatype &c.) — skip

    def _parse_link(self, body):
        c = _B(body, 0, self._osz, self._lsz)
        version = c.u1()
        if version != 1:
            raise ValueError(f"unsupported link message version {version}")
        flags = c.u1()
        ltype = 0
        if flags & 0x08:
            ltype = c.u1()
        if flags & 0x04:
            c.u8()  # creation order
        if flags & 0x10:
            c.u1()  # charset
        nlen = c.uN(1 << (flags & 0x3))
        name = c.read(nlen).decode("utf-8")
        if ltype != 0:  # soft/external links — not objects, skip
            return None
        return name, c.o()

    def _symtab_links(self, btree_addr, heap_addr):
        buf = self._buf
        if buf[heap_addr:heap_addr + 4] != b"HEAP":
            raise ValueError("bad local-heap signature")
        hc = self._cur(heap_addr + 4)
        hc.u1()  # version
        hc.read(3)
        hc.l()  # data size
        hc.l()  # free-list head
        heap_data = hc.o()

        def name_at(off):
            start = heap_data + off
            # .find, not .index: mmap buffers (read_wrf_grid's
            # range-read path) expose find() only
            end = buf.find(b"\x00", start)
            if end < 0:
                raise ValueError("unterminated link name in local heap")
            return buf[start:end].decode("utf-8")

        out = []

        def walk(addr):
            if buf[addr:addr + 4] != b"TREE":
                raise ValueError("bad group B-tree signature")
            c = self._cur(addr + 4)
            ntype = c.u1()
            if ntype != 0:
                raise ValueError("non-group node in group B-tree")
            level = c.u1()
            nused = c.u2()
            c.o()  # left sibling
            c.o()  # right sibling
            c.l()  # key 0
            for _ in range(nused):
                child = c.o()
                c.l()  # next key
                if level > 0:
                    walk(child)
                else:
                    # SNOD
                    if buf[child:child + 4] != b"SNOD":
                        raise ValueError("bad SNOD signature")
                    sc = self._cur(child + 4)
                    sc.u1()  # version
                    sc.read(1)
                    nsym = sc.u2()
                    for _ in range(nsym):
                        off = sc.o()
                        ohdr = sc.o()
                        sc.read(4 + 4 + 16)  # cache type, reserved, scratch
                        out.append((name_at(off), ohdr))

        walk(btree_addr)
        return out

    def _dense_attrs(self, body):
        """DENSE attribute storage (Attribute Info message, 0x0015):
        netCDF-4 moves an object's attributes into a fractal heap
        once they exceed ~8 (max_compact) — every real wrfout
        variable (10+ attrs) stores them this way.  Records of the
        attribute-name v2 B-tree (type 8) lead with the heap ID;
        each heap object is a serialized attribute message."""
        c = _B(body, 0, self._osz, self._lsz)
        c.u1()  # version
        aflags = c.u1()
        if aflags & 0x1:
            c.u2()  # max creation index
        fheap = c.o()
        name_btree = c.o()
        out = {}
        if _undef(fheap, self._osz) or _undef(name_btree, self._osz):
            return out
        for rec in self._btree_v2_records(name_btree):
            # type-8 record: heap ID (8) + message flags (1) +
            # creation order (4) + name hash (4)
            k, v = self._parse_attr(
                self._fheap_object(fheap, rec[:8])
            )
            out[k] = v
        return out

    # -- dense link storage: v2 B-tree + fractal heap --------------------
    def _btree_v2_records(self, addr):
        """RAW records of a version-2 B-tree, depth ≤ 1 (thousands of
        entries).  Callers slice the heap ID out per record type:
        type 5 (link-name index) = 4-byte hash THEN heap ID; type 8
        (attribute-name index) = heap ID FIRST, then flags/creation
        order/hash.  Deeper trees raise a clear scoped error."""
        buf = self._buf
        if buf[addr:addr + 4] != b"BTHD":
            raise ValueError("bad v2 B-tree header signature")
        c = self._cur(addr + 4)
        c.u1()  # version
        c.u1()  # tree type
        node_size = c.u4()
        rec_size = c.u2()
        depth = c.u2()
        c.u1()  # split percent
        c.u1()  # merge percent
        root = c.o()
        root_nrec = c.u2()
        c.l()  # total records
        if depth > 1:
            # capacity math for the scoped error, using the depth-1
            # pointer layout this reader implements (addr + nrec; no
            # total field at depth 1): node size 512 / record size 11
            # → 45 records per leaf, 24 per internal node → depth-1
            # capacity 25×45+24 = 1,149 links.  Depth 2 therefore
            # requires >1,100 links in ONE group, which no WRF-shaped
            # netCDF-4 file reaches (wrfout ≈ 150-360 variables).
            # Implementing deeper trees needs a C-library-verified
            # fixture for the internal pointer-field widths — see the
            # round-11 survey note in NEXT.md.
            max_leaf_cap = (node_size - 10) // rec_size
            ips = self._osz + max(
                1, (max_leaf_cap.bit_length() + 7) // 8
            )
            mn1 = (node_size - 10 - ips) // (rec_size + ips)
            cap = (mn1 + 1) * max_leaf_cap + mn1
            raise ValueError(
                "v2 B-tree deeper than 1 level is not supported by "
                "the pure-Python HDF5 reader (this node size/record "
                f"size reaches depth 2 only past ~{cap} links in one "
                "group — far beyond any WRF-shaped netCDF-4 file)"
            )
        # child-pointer nrec field width is derived from leaf capacity
        max_leaf = (node_size - 10) // rec_size
        nrec_sz = max(1, (max_leaf.bit_length() + 7) // 8)

        def leaf_records(laddr, nrec):
            if buf[laddr:laddr + 4] != b"BTLF":
                raise ValueError("bad BTLF signature")
            pos = laddr + 6  # sig + version + type
            out = []
            for _ in range(nrec):
                out.append(buf[pos:pos + rec_size])
                pos += rec_size
            return out

        if depth == 0:
            return leaf_records(root, root_nrec)
        # depth 1: root is BTIN.  Internal-node layout per the spec
        # (section III.A.2): ALL records first, THEN the N+1 child
        # node pointers — records are NOT interleaved with children.
        if buf[root:root + 4] != b"BTIN":
            raise ValueError("bad BTIN signature")
        pos = root + 6
        out = []
        for _ in range(root_nrec):
            out.append(buf[pos:pos + rec_size])  # internal records
            pos += rec_size
        for _ in range(root_nrec + 1):
            caddr = int.from_bytes(
                buf[pos:pos + self._osz], "little"
            )
            pos += self._osz
            cnrec = int.from_bytes(buf[pos:pos + nrec_sz], "little")
            pos += nrec_sz
            out.extend(leaf_records(caddr, cnrec))
        return out

    def _fheap_object(self, addr, hid):
        """One managed object's bytes from a fractal heap: root
        single-direct-block and root-indirect-with-direct-rows
        layouts (the shapes link storage produces)."""
        buf = self._buf
        if buf[addr:addr + 4] != b"FRHP":
            raise ValueError("bad fractal heap signature")
        c = self._cur(addr + 4)
        c.u1()  # version
        c.u2()  # heap id length
        io_len = c.u2()
        flags = c.u1()
        max_obj = c.u4()
        c.l()  # next huge id
        c.o()  # huge btree
        c.l()  # free space
        c.o()  # free-space manager
        c.l()  # managed space
        c.l()  # allocated space
        c.l()  # direct-block iterator offset
        c.l()  # managed object count
        c.l()  # huge size
        c.l()  # huge count
        c.l()  # tiny size
        c.l()  # tiny count
        width = c.u2()
        start = c.l()
        c.l()  # max direct block size
        max_heap_bits = c.u2()
        c.u2()  # starting rows
        root = c.o()
        cur_rows = c.u2()
        if io_len:
            raise ValueError("filtered fractal heaps are unsupported")
        off_sz = (max_heap_bits + 7) // 8
        len_sz = max(1, (int(max_obj).bit_length() + 7) // 8)
        hc = _B(bytes(hid))
        vt = hc.u1()
        if (vt >> 4) & 0x3 != 0:
            raise ValueError("non-managed fractal heap id")
        off = hc.uN(off_sz)
        length = hc.uN(len_sz)

        def row_block_size(r):
            return start if r < 2 else start << (r - 1)

        if cur_rows == 0:
            block_addr, block_off = root, 0
        else:
            if buf[root:root + 4] != b"FHIB":
                raise ValueError("bad indirect-block signature")
            row, acc = 0, 0
            while True:
                if row >= cur_rows:
                    raise ValueError(
                        "heap offset beyond the root indirect block's "
                        "direct rows (huge heaps unsupported)"
                    )
                span = row_block_size(row) * width
                if off < acc + span:
                    break
                acc += span
                row += 1
            col = (off - acc) // row_block_size(row)
            idx = row * width + col
            entry = root + 4 + 1 + self._osz + off_sz + idx * self._osz
            block_addr = int.from_bytes(
                buf[entry:entry + self._osz], "little"
            )
            block_off = acc + col * row_block_size(row)
        if buf[block_addr:block_addr + 4] != b"FHDB":
            raise ValueError("bad direct-block signature")
        at = block_addr + (off - block_off)
        return buf[at:at + length]

    # -- global heap (vlen data) -----------------------------------------
    def _gheap_object(self, addr, idx):
        buf = self._buf
        if buf[addr:addr + 4] != b"GCOL":
            raise ValueError("bad global-heap signature")
        c = self._cur(addr + 4)
        c.u1()  # version
        c.read(3)
        size = c.l()
        end = addr + size
        while c.pos + 8 + self._lsz <= end:
            oidx = c.u2()
            c.u2()  # reference count
            c.read(4)
            osz = c.l()
            data = buf[c.pos:c.pos + osz]
            if oidx == 0:
                break
            if oidx == idx:
                return data
            c.pos += (osz + 7) & ~7
        raise ValueError(f"global heap object {idx} not found")

    # -- message decoders ----------------------------------------------
    @staticmethod
    def _parse_dataspace(body):
        c = _B(body)
        version = c.u1()
        rank = c.u1()
        flags = c.u1()
        if version == 1:
            c.read(5)
        elif version == 2:
            c.u1()  # dataspace type
        else:
            raise ValueError(f"unsupported dataspace version {version}")
        dims = tuple(c.u8() for _ in range(rank))
        return dims

    @staticmethod
    def _parse_datatype(body):
        """Return np.dtype, ("str", n) for fixed-length strings, or
        None for unsupported classes (vlen/reference — attr skipped)."""
        c = _B(body)
        cv = c.u1()
        klass = cv & 0x0F
        bits = c.read(3)
        size = c.u4()
        if klass == 0:  # fixed-point
            order = ">" if (bits[0] & 0x01) else "<"
            signed = bool(bits[0] & 0x08)
            kind = "i" if signed else "u"
            return np.dtype(f"{order}{kind}{size}")
        if klass == 1:  # IEEE float
            order = ">" if (bits[0] & 0x01) else "<"
            return np.dtype(f"{order}f{size}")
        if klass == 3:  # fixed-length string
            return ("str", size)
        if klass == 9 and (bits[0] & 0x0F) == 1:  # vlen string
            return ("vlen_str",)
        return None

    @staticmethod
    def _parse_fill(body):
        c = _B(body)
        version = c.u1()
        if version in (1, 2):
            c.u1()  # space allocation time
            c.u1()  # fill write time
            defined = c.u1()
            if version == 1 or defined == 1:
                n = c.u4()
                return c.read(n) if n else None
            return None
        if version == 3:
            flags = c.u1()
            if flags & 0x20:
                n = c.u4()
                return c.read(n) if n else None
            return None
        raise ValueError(f"unsupported fill-value version {version}")

    def _parse_layout(self, body):
        c = _B(body, 0, self._osz, self._lsz)
        version = c.u1()
        if version != 3:
            raise ValueError(
                f"unsupported data-layout version {version} — the "
                "pure-Python reader supports layout message v3 "
                "(compact/contiguous/chunked + v1 chunk B-tree). "
                "Layout v4 (single-chunk/implicit/fixed-array/"
                "extensible-array/v2-B-tree chunk indexes) is only "
                "emitted under H5F_LIBVER >= 1.10 bounds; stock "
                "netCDF-4 writers use default (earliest) bounds and "
                "never produce it — see the round-11 survey note in "
                "NEXT.md"
            )
        klass = c.u1()
        if klass == 0:  # compact
            n = c.u2()
            return ("compact", c.read(n))
        if klass == 1:  # contiguous
            return ("contiguous", c.o(), c.l())
        if klass == 2:  # chunked, v1 B-tree index
            ndims = c.u1()  # dataset rank + 1
            btree = c.o()
            cdims = tuple(c.u4() for _ in range(ndims - 1))
            c.u4()  # element size (last "dimension")
            return ("chunked", btree, cdims)
        raise ValueError(f"unsupported layout class {klass}")

    @staticmethod
    def _parse_filters(body):
        c = _B(body)
        version = c.u1()
        nf = c.u1()
        filters = []
        if version == 1:
            c.read(2)
            c.read(4)
            for _ in range(nf):
                fid = c.u2()
                nlen = c.u2()
                c.u2()  # flags
                ncv = c.u2()
                if nlen:
                    pad = (nlen + 7) & ~7
                    c.read(pad)
                vals = [c.u4() for _ in range(ncv)]
                if ncv % 2:
                    c.u4()
                filters.append((fid, vals))
        elif version == 2:
            for _ in range(nf):
                fid = c.u2()
                nlen = c.u2() if fid >= 256 else 0
                c.u2()  # flags
                ncv = c.u2()
                if nlen:
                    c.read(nlen)
                vals = [c.u4() for _ in range(ncv)]
                filters.append((fid, vals))
        else:
            raise ValueError(f"unsupported filter-pipeline version {version}")
        return filters

    def _parse_attr(self, body):
        c = _B(body, 0, self._osz, self._lsz)
        version = c.u1()
        if version == 1:
            c.read(1)
            nsz, dtsz, dssz = c.u2(), c.u2(), c.u2()
            pad = True
        elif version in (2, 3):
            c.u1()  # flags (shared dt/ds unsupported below)
            nsz, dtsz, dssz = c.u2(), c.u2(), c.u2()
            if version == 3:
                c.u1()  # name charset
            pad = False
        else:
            raise ValueError(f"unsupported attribute version {version}")

        def take(n):
            b = c.read(n)
            if pad and n % 8:
                c.read(8 - n % 8)
            return b

        name = take(nsz).split(b"\x00")[0].decode("utf-8")
        dt = self._parse_datatype(take(dtsz))
        dims = self._parse_dataspace(take(dssz))
        if dt is None:
            return name, None  # reference/compound attr — kept as None
        n = 1
        for d in dims:
            n *= d
        if dt == ("vlen_str",):
            # each element: length (4B), global-heap address (O),
            # object index (4B) — resolved through the global heap
            vals = []
            for _ in range(n):
                ln = c.u4()
                gaddr = c.uN(self._osz)
                gidx = c.u4()
                raw = self._gheap_object(gaddr, gidx)[:ln]
                vals.append(raw.decode("utf-8", errors="replace"))
            return name, vals[0] if not dims else vals
        if isinstance(dt, tuple):  # fixed string
            raw = c.read(dt[1] * n)
            return name, raw.split(b"\x00")[0].decode(
                "utf-8", errors="replace"
            )
        raw = c.read(dt.itemsize * n)
        vals = np.frombuffer(raw, dtype=dt, count=n)
        if not dims:
            return name, vals[0]
        return name, vals.reshape(dims) if len(dims) > 1 else vals

    # -- datasets --------------------------------------------------------
    def _make_var(self, msgs, name):
        dims = ()
        dtype = None
        layout = None
        filters = []
        fill_raw = None
        attrs = {}
        for mtype, body in msgs:
            if mtype == _M_DATASPACE:
                dims = self._parse_dataspace(body)
            elif mtype == _M_DATATYPE:
                dtype = self._parse_datatype(body)
            elif mtype == _M_LAYOUT:
                layout = self._parse_layout(body)
            elif mtype == _M_FILTERS:
                filters = self._parse_filters(body)
            elif mtype == _M_FILL:
                fill_raw = self._parse_fill(body)
            elif mtype == _M_ATTR:
                k, v = self._parse_attr(body)
                attrs[k] = v
            elif mtype == _M_ATTR_INFO:
                attrs.update(self._dense_attrs(body))
        if dtype is None or isinstance(dtype, tuple):
            # non-numeric dataset (e.g. wrfout's char variable
            # ``Times(Time, DateStrLen)``) — skip it rather than
            # failing the whole file: the grid decode only needs the
            # numeric variables, and a reader that dies on ONE string
            # variable can't open any real wrfout
            return None
        return _H5Var(self, name, dims, dtype, layout, filters,
                      fill_raw, attrs)

    def close(self):
        pass


class _H5Var:
    """One dataset: lazily decoded numpy array + attributes surfaced
    as instance attributes (the ``netCDF4.Variable`` access pattern,
    mirroring ``netcdf3._ReadVar``)."""

    def __init__(self, reader, name, shape, dtype, layout, filters,
                 fill_raw, attrs):
        self._reader = reader
        self._name = name
        self._shape = shape
        self._dtype = dtype
        self._layout = layout
        self._filters = filters
        self._fill_raw = fill_raw
        self._data = None
        self.__dict__.update(attrs)
        self._attrs = attrs

    @property
    def shape(self):
        return self._shape

    @property
    def dtype(self):
        return self._dtype

    def _fill_scalar(self):
        fv = self._attrs.get("_FillValue")
        if fv is not None:
            return np.asarray(fv).reshape(-1)[0]
        if self._fill_raw:
            return np.frombuffer(self._fill_raw, dtype=self._dtype)[0]
        return None

    def _alloc(self, shape=None):
        shape = self._shape if shape is None else shape
        fv = self._fill_scalar()
        if fv is not None:
            return np.full(shape, fv, dtype=self._dtype)
        return np.zeros(shape, dtype=self._dtype)

    def _load(self):
        if self._data is not None:
            return self._data
        n0 = self._shape[0] if self._shape else 1
        self._data = self._load_range(0, n0)
        return self._data

    def _load_range(self, t0: int, t1: int):
        """Rows ``t0:t1`` along axis 0 without touching the rest of
        the dataset: chunked layouts SKIP (never inflate) chunks whose
        axis-0 extent misses the slab, and contiguous layouts read one
        shifted buffer range.  O(slab) decompress instead of
        O(variable) — the hyperslab pushdown the netCDF4 C library
        does natively (wrf_data_pusher.py:181-189)."""
        buf = self._reader._buf
        osz = self._reader._osz
        full = not self._shape or (t0 == 0 and t1 == self._shape[0])
        tail = self._shape[1:] if self._shape else ()
        per = 1
        for d in tail:
            per *= d
        shape = self._shape if full else (t1 - t0,) + tail
        n = 1
        for d in shape:
            n *= d
        kind = self._layout[0] if self._layout else None
        if kind == "compact":
            arr = np.frombuffer(
                self._layout[1], dtype=self._dtype,
                count=int(np.prod(self._shape, dtype=np.int64))
                if self._shape else 1,
            ).reshape(self._shape)
            if not full:
                arr = arr[t0:t1]
        elif kind == "contiguous":
            addr = self._layout[1]
            if _undef(addr, osz):  # never allocated → all fill
                arr = self._alloc(shape)
            else:
                arr = np.frombuffer(
                    buf, dtype=self._dtype, count=n,
                    offset=addr + (0 if full
                                   else t0 * per * self._dtype.itemsize),
                ).reshape(shape)
        elif kind == "chunked":
            arr = self._load_chunked(
                0 if full and self._shape else t0,
                self._shape[0] if full and self._shape else t1,
            )
        else:
            raise ValueError(f"dataset {self._name!r}: no data layout")
        return arr

    def _load_chunked(self, t0: int, t1: int):
        buf = self._reader._buf
        out = self._alloc((t1 - t0,) + self._shape[1:])
        btree, cdims = self._layout[1], self._layout[2]
        rank = len(self._shape)
        if _undef(btree, self._reader._osz):
            return out  # no chunks ever written

        def walk(addr):
            if buf[addr:addr + 4] != b"TREE":
                raise ValueError("bad chunk B-tree signature")
            c = self._reader._cur(addr + 4)
            ntype = c.u1()
            if ntype != 1:
                raise ValueError("non-chunk node in chunk B-tree")
            level = c.u1()
            nused = c.u2()
            c.o()  # left sibling
            c.o()  # right sibling
            for _ in range(nused):
                nbytes = c.u4()
                fmask = c.u4()
                offs = tuple(c.u8() for _ in range(rank + 1))[:rank]
                child = c.o()
                if level > 0:
                    walk(child)
                elif offs[0] < t1 and offs[0] + cdims[0] > t0:
                    # only intersecting chunks are inflated; the rest
                    # are never even sliced out of the buffer
                    self._place_chunk(out, child, nbytes, fmask,
                                      offs, cdims, t0, t1)
            # trailing key ignored

        walk(btree)
        return out

    def _place_chunk(self, out, addr, nbytes, fmask, offs, cdims,
                     t0, t1):
        raw = self._reader._buf[addr:addr + nbytes]
        itemsize = self._dtype.itemsize
        # filters run last-to-first on read; bit i of the filter mask
        # set means filter i was SKIPPED when the chunk was written
        for i in range(len(self._filters) - 1, -1, -1):
            if fmask & (1 << i):
                continue
            fid, _vals = self._filters[i]
            if fid == _F_DEFLATE:
                raw = zlib.decompress(raw)
            elif fid == _F_SHUFFLE:
                m = len(raw) // itemsize
                raw = (
                    np.frombuffer(raw, dtype="u1")
                    .reshape(itemsize, m).T.tobytes()
                )
            elif fid == _F_FLETCHER32:
                raw = raw[:-4]
            else:
                raise ValueError(
                    f"dataset {self._name!r}: unsupported HDF5 filter "
                    f"id {fid}"
                )
        n = 1
        for d in cdims:
            n *= d
        chunk = np.frombuffer(raw, dtype=self._dtype, count=n).reshape(
            cdims
        )
        # clip edge-overhanging chunks; axis 0 additionally clips to
        # the requested [t0, t1) slab and shifts into slab coordinates
        sl_out, sl_in = [], []
        for ax, (off, cd, full) in enumerate(
            zip(offs, cdims, self._shape)
        ):
            lo, hi = off, min(off + cd, full)
            if ax == 0:
                lo, hi = max(lo, t0), min(hi, t1)
                sl_out.append(slice(lo - t0, hi - t0))
            else:
                sl_out.append(slice(lo, hi))
            sl_in.append(slice(lo - off, hi - off))
        out[tuple(sl_out)] = chunk[tuple(sl_in)]

    def _mask(self, got):
        fv = self._fill_scalar()
        if fv is not None and np.issubdtype(self._dtype, np.floating):
            if np.isnan(fv):
                return np.ma.masked_invalid(got)
            return np.ma.masked_equal(got, fv)
        return got

    def __getitem__(self, key):
        # hyperslab fast path (mirrors netcdf3._ReadVar.__getitem__):
        # a leading int/step-1-slice key decodes only rows t0:t1 —
        # for the (1, ny, nx)-chunked WRF layout that means exactly
        # the slab's chunks are inflated
        if self._data is None and self._shape:
            lead = _leading_range(key, self._shape[0])
            if lead is not None:
                t0, t1, as_int, rest = lead
                slab = self._load_range(t0, t1)
                return self._mask(slab[_rest_key(as_int, rest)])
        return self._mask(self._load()[key])

    def __array__(self, dtype=None):
        a = self._load()
        return a.astype(dtype) if dtype is not None else a


def open_hdf5(content: bytes) -> HDF5Reader:
    """``bytes -> dataset`` adapter matching ``netcdf3.open_classic``."""
    return HDF5Reader(content)


# ---------------------------------------------------------------------------
# Minimal writer — enough to build REAL HDF5 bytes for the reader's
# tests and for optional HDF5 export: superblock v0, v1 object
# headers, an old-style root group (v1 B-tree + SNOD + local heap),
# contiguous or chunked(+shuffle+deflate) datasets, v1 attributes.
# Written from the same public format specification as the reader.

_UNDEF8 = (1 << 64) - 1


def _pad8(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 8)


def _dt_message(dtype_or_str) -> bytes:
    if isinstance(dtype_or_str, tuple):  # ("str", n) fixed-length
        n = dtype_or_str[1]
        return struct.pack("<B3sI", 0x13, b"\x00\x00\x00", n)
    dt = np.dtype(dtype_or_str)
    if dt.kind == "f":
        if dt.itemsize == 8:
            props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
            bits = bytes([0x20, 63, 0])
        elif dt.itemsize == 4:
            props = struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
            bits = bytes([0x20, 31, 0])
        else:
            raise ValueError(f"unsupported float size {dt.itemsize}")
        return struct.pack("<B3sI", 0x11, bits, dt.itemsize) + props
    if dt.kind in ("i", "u"):
        bits = bytes([0x08 if dt.kind == "i" else 0x00, 0, 0])
        props = struct.pack("<HH", 0, 8 * dt.itemsize)
        return struct.pack("<B3sI", 0x10, bits, dt.itemsize) + props
    raise ValueError(f"unsupported dtype {dt}")


def _ds_message(shape) -> bytes:
    head = struct.pack("<BBB5s", 1, len(shape), 0, b"\x00" * 5)
    return head + b"".join(struct.pack("<Q", d) for d in shape)


def _attr_message(name: str, value) -> bytes:
    nb = name.encode("utf-8") + b"\x00"
    if isinstance(value, str):
        vb = value.encode("utf-8") + b"\x00"
        dt = _dt_message(("str", len(vb)))
        ds = _ds_message(())
        data = vb
    else:
        arr = np.atleast_1d(np.asarray(value))
        if arr.dtype.kind == "f":
            arr = arr.astype("<f8")
        elif arr.dtype.kind in ("i", "u"):
            # HDF5 has native 64-bit integers — widen instead of the
            # silent int32 wrap the classic writer must range-check
            fits32 = arr.size == 0 or (
                arr.max() <= 2**31 - 1 and arr.min() >= -(2**31)
            )
            if arr.dtype.kind == "i":
                arr = arr.astype("<i4" if fits32 else "<i8")
            else:
                arr = arr.astype(
                    "<u4" if arr.size == 0 or arr.max() < 2**32
                    else "<u8"
                )
        dt = _dt_message(arr.dtype)
        ds = _ds_message(() if arr.size == 1 else arr.shape)
        data = arr.tobytes()
    body = struct.pack("<BBHHH", 1, 0, len(nb), len(dt), len(ds))
    body += _pad8(nb) + _pad8(dt) + _pad8(ds) + data
    return body


def _object_header_v1(messages) -> bytes:
    """messages: list of (type, body).  Bodies are padded to 8."""
    parts = []
    for mtype, body in messages:
        body = _pad8(body)
        parts.append(struct.pack("<HHB3s", mtype, len(body), 0,
                                 b"\x00" * 3) + body)
    blob = b"".join(parts)
    head = struct.pack("<BBHII4s", 1, 0, len(messages), 1, len(blob),
                       b"\x00" * 4)
    return head + blob


class HDF5Writer:
    """Write a flat HDF5 file: named datasets with attributes.

    Not a general-purpose writer — it produces the minimal correct
    layout (one root group, old-style symbol-table links) used to
    build real test bytes for :class:`HDF5Reader` and to export
    WRF-shaped grids when the C stack is absent."""

    def __init__(self, path: str):
        self._path = path
        self._sets = []  # (name, array, attrs, chunks, gzip, shuffle)

    def create_dataset(self, name, data, attrs=None, chunks=None,
                       gzip=None, shuffle=False):
        arr = np.ascontiguousarray(data)
        if arr.dtype.kind == "f" and arr.dtype.byteorder == ">":
            arr = arr.astype(arr.dtype.newbyteorder("<"))
        self._sets.append(
            (name, arr, dict(attrs or {}), chunks, gzip, shuffle)
        )

    def close(self):
        out = bytearray(b"\x00" * 96)  # superblock patched last
        ohdrs = {}
        for name, arr, attrs, chunks, gzip_lvl, shuffle in self._sets:
            dt = arr.dtype.newbyteorder("<") if arr.dtype.byteorder == ">" \
                else arr.dtype
            arr = arr.astype(dt)
            msgs = [
                (_M_DATASPACE, _ds_message(arr.shape)),
                (_M_DATATYPE, _dt_message(arr.dtype)),
                (_M_FILL, struct.pack("<BBBB", 2, 2, 0, 0)),
            ]
            if chunks is None:
                addr = len(out)
                out += arr.tobytes()
                body = struct.pack("<BB", 3, 1) + struct.pack(
                    "<QQ", addr, arr.nbytes
                )
                msgs.append((_M_LAYOUT, body))
            else:
                filters = []
                if shuffle:
                    filters.append((_F_SHUFFLE, [arr.dtype.itemsize]))
                if gzip_lvl is not None:
                    filters.append((_F_DEFLATE, [gzip_lvl]))
                entries = []
                rank = len(arr.shape)
                grid = [range(0, s, c) for s, c in zip(arr.shape, chunks)]
                import itertools

                for offs in itertools.product(*grid):
                    sl = tuple(
                        slice(o, min(o + c, s))
                        for o, c, s in zip(offs, chunks, arr.shape)
                    )
                    block = np.zeros(chunks, dtype=arr.dtype)
                    block[tuple(slice(0, x.stop - x.start) for x in sl)] \
                        = arr[sl]
                    raw = block.tobytes()
                    for fid, vals in filters:
                        if fid == _F_SHUFFLE:
                            m = len(raw) // arr.dtype.itemsize
                            raw = (
                                np.frombuffer(raw, dtype="u1")
                                .reshape(m, arr.dtype.itemsize)
                                .T.tobytes()
                            )
                        elif fid == _F_DEFLATE:
                            raw = zlib.compress(raw, vals[0])
                    caddr = len(out)
                    out += raw
                    entries.append((len(raw), offs, caddr))
                # single level-0 chunk B-tree node
                baddr = len(out)
                node = bytearray(b"TREE")
                node += struct.pack("<BBH", 1, 0, len(entries))
                node += struct.pack("<QQ", _UNDEF8, _UNDEF8)
                for nbytes, offs, caddr in entries:
                    node += struct.pack("<II", nbytes, 0)
                    for o in offs:
                        node += struct.pack("<Q", o)
                    node += struct.pack("<Q", 0)  # element-size dim
                    node += struct.pack("<Q", caddr)
                # trailing key (one past the end)
                node += struct.pack("<II", 0, 0)
                for s in arr.shape:
                    node += struct.pack("<Q", s)
                node += struct.pack("<Q", 0)
                out += node
                body = struct.pack("<BBB", 3, 2, rank + 1)
                body += struct.pack("<Q", baddr)
                body += b"".join(struct.pack("<I", c) for c in chunks)
                body += struct.pack("<I", arr.dtype.itemsize)
                msgs.append((_M_LAYOUT, body))
                if filters:
                    fbody = struct.pack("<BB2s4s", 1, len(filters),
                                        b"\x00" * 2, b"\x00" * 4)
                    for fid, vals in filters:
                        fbody += struct.pack("<HHHH", fid, 0, 1,
                                             len(vals))
                        fbody += b"".join(
                            struct.pack("<I", v) for v in vals
                        )
                        if len(vals) % 2:
                            fbody += b"\x00" * 4
                    msgs.append((_M_FILTERS, fbody))
            for k, v in attrs.items():
                msgs.append((_M_ATTR, _attr_message(k, v)))
            ohdrs[name] = len(out)
            out += _object_header_v1(msgs)

        # local heap: offset 0 = empty string, names from 8
        names = sorted(ohdrs)
        heap_data = bytearray(b"\x00" * 8)
        offsets = {}
        for n in names:
            offsets[n] = len(heap_data)
            heap_data += n.encode("utf-8") + b"\x00"
        heap_data = bytearray(_pad8(bytes(heap_data)))
        heap_addr = len(out)
        heap_data_addr = heap_addr + 32
        out += b"HEAP" + struct.pack("<B3sQQQ", 0, b"\x00" * 3,
                                     len(heap_data), _UNDEF8,
                                     heap_data_addr)
        out += heap_data
        # SNOD with all entries (name-ordered)
        snod_addr = len(out)
        snod = bytearray(b"SNOD")
        snod += struct.pack("<BBH", 1, 0, len(names))
        for n in names:
            snod += struct.pack("<QQ", offsets[n], ohdrs[n])
            snod += struct.pack("<II", 0, 0) + b"\x00" * 16
        out += snod
        # group B-tree: one level-0 node pointing at the SNOD
        btree_addr = len(out)
        bt = bytearray(b"TREE")
        bt += struct.pack("<BBH", 0, 0, 1)
        bt += struct.pack("<QQ", _UNDEF8, _UNDEF8)
        bt += struct.pack("<Q", 0)                    # key 0
        bt += struct.pack("<Q", snod_addr)            # child
        bt += struct.pack("<Q", offsets[names[-1]])   # key 1
        out += bt
        # root group object header: symbol table message
        root_addr = len(out)
        out += _object_header_v1(
            [(_M_SYMTAB, struct.pack("<QQ", btree_addr, heap_addr))]
        )
        # superblock v0
        sb = bytearray(_SIG)
        sb += struct.pack("<BBBBBBBB", 0, 0, 0, 0, 0, 8, 8, 0)
        sb += struct.pack("<HHI", 4, 16, 0)
        sb += struct.pack("<QQQQ", 0, _UNDEF8, len(out), _UNDEF8)
        sb += struct.pack("<QQ", 0, root_addr)        # root STE
        sb += struct.pack("<II", 0, 0) + b"\x00" * 16
        assert len(sb) == 96, len(sb)
        out[:96] = sb
        with open(self._path, "wb") as f:
            f.write(bytes(out))


class _NC4WriteVar:
    """Write-side variable: collects data + attributes before close
    (mirrors ``netcdf3._WriteVar``)."""

    def __init__(self):
        object.__setattr__(self, "attrs", {})
        object.__setattr__(self, "data", None)

    def __setitem__(self, idx, value):
        object.__setattr__(self, "data", np.asarray(value))

    def __setattr__(self, k, v):
        self.attrs[k] = v


class NC4Writer:
    """``netCDF4.Dataset(path, "w")``-shaped writer emitting HDF5
    bytes — the netCDF-4 twin of ``netcdf3.NetCDF3Writer``, so
    ``write_netcdf_grid(..., create_dataset=create_nc4)`` exports
    real HDF5-backed ``.nc`` files that ``read_wrf_grid`` re-ingests
    through the pure-Python HDF5 reader.  Multi-dimensional variables
    above 1 KiB are chunked per leading-dimension slab with
    shuffle+deflate (the netCDF-4 library's usual storage for grid
    variables); the rest are contiguous."""

    def __init__(self, path: str):
        self._w = HDF5Writer(path)
        self._dims: dict[str, int] = {}
        self._vars: list[tuple[str, tuple[str, ...], _NC4WriteVar]] = []

    def createDimension(self, name: str, size: int | None):
        self._dims[name] = size

    def createVariable(self, name, dtype, dims, fill_value=None):
        v = _NC4WriteVar()
        if fill_value is not None:
            v.attrs["_FillValue"] = fill_value
        self._vars.append((name, tuple(dims), v))
        return v

    def close(self):
        for name, dims, wv in self._vars:
            if wv.data is None:
                raise ValueError(f"variable {name!r} written without data")
            arr = np.ascontiguousarray(wv.data)
            if arr.ndim >= 2 and arr.nbytes > 1024:
                chunks = (1,) + arr.shape[1:]
                self._w.create_dataset(
                    name, arr, attrs=wv.attrs, chunks=chunks,
                    gzip=4, shuffle=True,
                )
            else:
                self._w.create_dataset(name, arr, attrs=wv.attrs)
        self._w.close()


def create_nc4(out_path: str) -> NC4Writer:
    """``path -> dataset`` adapter matching write_netcdf_grid's
    ``create_dataset`` injection point (HDF5/netCDF-4 flavor)."""
    return NC4Writer(out_path)
