"""A small msgpack encoder/decoder for the benchmark's edge frames and its
spool checks, written from the public msgpack specification
(https://github.com/msgpack/msgpack/blob/master/spec.md) and kept apart
from the program's own codec, so a shared bug cannot hide in both.

Covers the types fluent-forward traffic uses: nil, bool, int, str, bin,
array, map, and ext (the fluentd EventTime is fixext8 type 0).
"""

from __future__ import annotations

import struct


class Ext:
    __slots__ = ("code", "data")

    def __init__(self, code: int, data: bytes):
        self.code, self.data = code, data

    def __eq__(self, other):
        return isinstance(other, Ext) and (self.code, self.data) == (other.code, other.data)

    def __hash__(self):
        return hash((self.code, self.data))


def event_time(sec: int, nsec: int) -> Ext:
    return Ext(0, struct.pack(">II", sec, nsec))


def pack(v) -> bytes:
    out: list[bytes] = []
    _pack(v, out)
    return b"".join(out)


def _len_header(n: int, fix: int, fix_max: int, codes: tuple) -> bytes:
    if n < fix_max:
        return bytes([fix | n])
    c16, c32 = codes
    return struct.pack(">BH", c16, n) if n <= 0xFFFF else struct.pack(">BI", c32, n)


def _pack(v, out: list) -> None:
    if v is None:
        out.append(b"\xc0")
    elif v is True:
        out.append(b"\xc3")
    elif v is False:
        out.append(b"\xc2")
    elif isinstance(v, int):
        if 0 <= v < 0x80:
            out.append(bytes([v]))
        elif -32 <= v < 0:
            out.append(struct.pack("b", v))
        elif 0 <= v <= 0xFFFFFFFF:
            out.append(struct.pack(">BI", 0xCE, v))
        elif v >= 0:
            out.append(struct.pack(">BQ", 0xCF, v))
        else:
            out.append(struct.pack(">Bq", 0xD3, v))
    elif isinstance(v, str):
        b = v.encode("utf-8")
        n = len(b)
        if n < 32:
            out.append(bytes([0xA0 | n]))
        elif n <= 0xFF:
            out.append(struct.pack(">BB", 0xD9, n))
        elif n <= 0xFFFF:
            out.append(struct.pack(">BH", 0xDA, n))
        else:
            out.append(struct.pack(">BI", 0xDB, n))
        out.append(b)
    elif isinstance(v, (bytes, bytearray)):
        n = len(v)
        if n <= 0xFF:
            out.append(struct.pack(">BB", 0xC4, n))
        elif n <= 0xFFFF:
            out.append(struct.pack(">BH", 0xC5, n))
        else:
            out.append(struct.pack(">BI", 0xC6, n))
        out.append(bytes(v))
    elif isinstance(v, (list, tuple)):
        out.append(_len_header(len(v), 0x90, 16, (0xDC, 0xDD)))
        for x in v:
            _pack(x, out)
    elif isinstance(v, dict):
        out.append(_len_header(len(v), 0x80, 16, (0xDE, 0xDF)))
        for k, x in v.items():
            _pack(k, out)
            _pack(x, out)
    elif isinstance(v, Ext):
        if len(v.data) != 8:
            raise ValueError("only fixext8 is needed here")
        out.append(struct.pack(">Bb", 0xD7, v.code) + v.data)
    else:
        raise TypeError(f"cannot pack {type(v).__name__}")


class Truncated(ValueError):
    """The buffer ends inside a value."""


_CONST = {0xC0: None, 0xC2: False, 0xC3: True}
_NUM = {0xCC: ">B", 0xCD: ">H", 0xCE: ">I", 0xCF: ">Q", 0xD0: ">b", 0xD1: ">h",
        0xD2: ">i", 0xD3: ">q", 0xCA: ">f", 0xCB: ">d"}
# str, bin, array and map headers with an explicit length
_LEN = {0xD9: ">B", 0xDA: ">H", 0xDB: ">I", 0xC4: ">B", 0xC5: ">H", 0xC6: ">I",
        0xDC: ">H", 0xDD: ">I", 0xDE: ">H", 0xDF: ">I"}
_FIXEXT = {0xD4: 1, 0xD5: 2, 0xD6: 4, 0xD7: 8, 0xD8: 16}


def unpack_from(b: bytes, i: int = 0):
    """Decode one value at offset i -> (value, next offset)."""
    if i >= len(b):
        raise Truncated(i)
    c = b[i]
    i += 1
    if c < 0x80:
        return c, i
    if c >= 0xE0:
        return c - 0x100, i
    if 0xA0 <= c <= 0xBF:
        return _str(b, i, c & 0x1F)
    if 0x90 <= c <= 0x9F:
        return _array(b, i, c & 0x0F)
    if 0x80 <= c <= 0x8F:
        return _map(b, i, c & 0x0F)
    if c in _CONST:
        return _CONST[c], i
    if c in _NUM:
        fmt = _NUM[c]
        size = struct.calcsize(fmt)
        _need(b, i, size)
        return struct.unpack_from(fmt, b, i)[0], i + size
    if c in _LEN:
        fmt = _LEN[c]
        size = struct.calcsize(fmt)
        _need(b, i, size)
        n = struct.unpack_from(fmt, b, i)[0]
        i += size
        if c in (0xD9, 0xDA, 0xDB):
            return _str(b, i, n)
        if c in (0xC4, 0xC5, 0xC6):
            _need(b, i, n)
            return bytes(b[i:i + n]), i + n
        if c in (0xDC, 0xDD):
            return _array(b, i, n)
        return _map(b, i, n)
    if c in _FIXEXT:
        n = _FIXEXT[c]
        _need(b, i, 1 + n)
        return Ext(struct.unpack_from("b", b, i)[0], bytes(b[i + 1:i + 1 + n])), i + 1 + n
    raise ValueError(f"unsupported msgpack byte 0x{c:02x}")


def _need(b, i, n):
    if i + n > len(b):
        raise Truncated(i)


def _str(b, i, n):
    _need(b, i, n)
    return bytes(b[i:i + n]).decode("utf-8"), i + n


def _array(b, i, n):
    out = []
    for _ in range(n):
        v, i = unpack_from(b, i)
        out.append(v)
    return out, i


def _map(b, i, n):
    out = {}
    for _ in range(n):
        k, i = unpack_from(b, i)
        v, i = unpack_from(b, i)
        out[k] = v
    return out, i


def unpack_all(b: bytes) -> list:
    """Every value of a concatenation (a spool file or PackedForward bin)."""
    out, i = [], 0
    while i < len(b):
        v, i = unpack_from(b, i)
        out.append(v)
    return out
