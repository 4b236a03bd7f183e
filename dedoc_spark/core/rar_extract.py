"""Native RAR archive member listing (stored members only).

The reference explodes rar archives with the ``rarfile`` package, which
shells out to the proprietary ``unrar`` binary (archive_reader.py:18-55
routes .rar through the same attachment channel as zip/tar).  Neither is
available here, and the RAR *compression* algorithms are proprietary —
but the ARCHIVE CONTAINER format is publicly documented (RAR4:
technote / rarfile docs; RAR5: the published rar5 file-format spec), and
members with compression method "store" are raw bytes.

This module walks both container formats with pure Python:

* fully-STORED archives (common when the payload is already compressed —
  media, office zips) extract natively, joining the same archive
  explosion channel as zip/7z;
* any COMPRESSED member raises the typed ``needs_unpacker:rar`` error
  naming the member and method, which the channel turns into the typed
  error row — the pre-existing behavior for all rars, now scoped to the
  genuinely proprietary part.

RAR4 block layout (after the 7-byte signature ``Rar!\\x1a\\x07\\x00``):
HEAD_CRC(2) HEAD_TYPE(1) HEAD_FLAGS(2) HEAD_SIZE(2), file blocks
(type 0x74) continue PACK_SIZE(4) UNP_SIZE(4) HOST_OS(1) FILE_CRC(4)
FTIME(4) UNP_VER(1) METHOD(1) NAME_SIZE(2) ATTR(4) [+HIGH sizes when
flags&0x100] then the name and PACK_SIZE data bytes.  Method 0x30 =
store.

RAR5 block layout (after the 8-byte signature ``Rar!\\x1a\\x07\\x01\\x00``):
CRC32(4) vint(header_size) then header: vint(type) vint(flags)
[vint(extra_size) when flags&1] [vint(data_size) when flags&2]; file
headers (type 2) continue vint(file_flags) vint(unpacked_size)
vint(attributes) [mtime(4) when file_flags&2] [crc32(4) when
file_flags&4] vint(compression_info) vint(host_os) vint(name_len) name.
Compression method = (compression_info >> 7) & 7; 0 = store.
"""

from __future__ import annotations

import struct
from typing import List, Tuple

RAR4_SIG = b"Rar!\x1a\x07\x00"
RAR5_SIG = b"Rar!\x1a\x07\x01\x00"


def _rar4_members(payload: bytes, max_members: int) -> List[Tuple[str, bytes]]:
    out: List[Tuple[str, bytes]] = []
    pos = len(RAR4_SIG)
    n = len(payload)
    while pos + 7 <= n and len(out) < max_members:
        head_type = payload[pos + 2]
        head_flags, head_size = struct.unpack_from("<HH", payload, pos + 3)
        if head_size < 7:
            raise ValueError("broken rar4 block header")
        data_size = 0
        if head_type == 0x74:  # file header
            if pos + 32 > n:
                raise ValueError("truncated rar4 file header")
            pack_size, unp_size = struct.unpack_from("<II", payload, pos + 7)
            method = payload[pos + 25]
            name_size = struct.unpack_from("<H", payload, pos + 26)[0]
            name_off = pos + 32
            if head_flags & 0x100:  # LHD_LARGE: 64-bit sizes
                high_pack, high_unp = struct.unpack_from("<II", payload, name_off)
                pack_size += high_pack << 32
                unp_size += high_unp << 32
                name_off += 8
            raw_name = payload[name_off : name_off + name_size]
            if head_flags & 0x200 and b"\x00" in raw_name:
                # LHD_UNICODE: ascii part before NUL + encoded remainder —
                # keep the ascii part (full decode needs the rar name codec)
                raw_name = raw_name.split(b"\x00", 1)[0]
            name = raw_name.decode("utf-8", errors="replace").replace("\\", "/")
            data_start = pos + head_size
            data = payload[data_start : data_start + pack_size]
            is_dir = (head_flags & 0xE0) == 0xE0
            if not is_dir:
                if method != 0x30:
                    raise ValueError(
                        f"needs_unpacker:rar compressed member {name} "
                        f"(method {method - 0x30}, proprietary)"
                    )
                if len(data) != unp_size:
                    raise ValueError(f"truncated rar4 member {name}")
                out.append((name.rsplit("/", 1)[-1], bytes(data)))
            data_size = pack_size
        elif head_flags & 0x8000:  # LONG_BLOCK: ADD_SIZE field present
            if pos + 11 > n:
                break
            data_size = struct.unpack_from("<I", payload, pos + 7)[0]
        if head_type == 0x7B:  # archive end
            break
        pos += head_size + data_size
    return out


def _vint(payload: bytes, pos: int) -> Tuple[int, int]:
    """RAR5 variable-length integer: 7 bits per byte, high bit = continue."""
    value = 0
    shift = 0
    while True:
        if pos >= len(payload):
            raise ValueError("truncated rar5 vint")
        b = payload[pos]
        pos += 1
        value |= (b & 0x7F) << shift
        if not b & 0x80:
            return value, pos
        shift += 7
        if shift > 70:
            raise ValueError("oversized rar5 vint")


def _rar5_members(payload: bytes, max_members: int) -> List[Tuple[str, bytes]]:
    out: List[Tuple[str, bytes]] = []
    pos = len(RAR5_SIG)
    n = len(payload)
    while pos + 6 <= n and len(out) < max_members:
        pos_crc = pos
        header_size, pos = _vint(payload, pos_crc + 4)
        header_start = pos
        htype, p = _vint(payload, header_start)
        hflags, p = _vint(payload, p)
        extra_size = data_size = 0
        if hflags & 0x01:
            extra_size, p = _vint(payload, p)
        if hflags & 0x02:
            data_size, p = _vint(payload, p)
        if htype == 5:  # end of archive
            break
        if htype == 2:  # file header
            file_flags, p = _vint(payload, p)
            unp_size, p = _vint(payload, p)
            _attrs, p = _vint(payload, p)
            if file_flags & 0x02:
                p += 4  # mtime
            if file_flags & 0x04:
                p += 4  # data crc32
            comp_info, p = _vint(payload, p)
            _host_os, p = _vint(payload, p)
            name_len, p = _vint(payload, p)
            name = payload[p : p + name_len].decode("utf-8", errors="replace")
            is_dir = bool(file_flags & 0x01)
            method = (comp_info >> 7) & 0x07
            data_start = header_start + header_size
            if not is_dir:
                if method != 0:
                    raise ValueError(
                        f"needs_unpacker:rar compressed member {name} "
                        f"(method {method}, proprietary)"
                    )
                data = payload[data_start : data_start + data_size]
                if len(data) != unp_size:
                    raise ValueError(f"truncated rar5 member {name}")
                out.append((name.rsplit("/", 1)[-1], bytes(data)))
        pos = header_start + header_size + data_size
    return out


def list_members(payload: bytes, max_members: int = 1000) -> List[Tuple[str, bytes]]:
    """(name, bytes) for every stored member; raises the typed
    needs_unpacker error on the first compressed member."""
    if payload.startswith(RAR5_SIG):
        return _rar5_members(payload, max_members)
    if payload.startswith(RAR4_SIG):
        return _rar4_members(payload, max_members)
    raise ValueError("not a rar archive")
