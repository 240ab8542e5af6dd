"""Fluent-forward spool-file source: ingest the reference's wire format
at rest.

A PackedForward blob is a plain concatenation of msgpack entries, each a
fixarray(2) of [time, record-map] (reference: defaultreader/reader.go:51-77
loops message.DecodeEntry until EOF; message/entry.go:11-35 pins the
[time, map] shape). Time is either an integer epoch-seconds or the
fluentd EventTime msgpack ext(0) — 8 bytes, big-endian u32 seconds +
u32 nanoseconds (reference: message/time.go:31-53). The whole blob may
be gzip-compressed (reader.go:53-59, `option.Compressed == "gzip"`).

This module gives the engine the one interop a migrating fluentd user
actually needs: point Spark at a directory of spool files and get the
turns/events schema back.

Spark shape: `spark.read.format("binaryFile")` lists and reads whole
files, then `mapInArrow` decodes entries straight into Arrow columns.
binaryFile splits like any file source: each file counts its size plus
`spark.sql.files.openCostInBytes` (4 MB by default), and a split holds
about the total over the core count, so a spool of many small files
lands in about one task per core, not one task per file, and one large
file next to small ones makes the tasks uneven (measured: 17 spool files
of 3.72 MB in 3 tasks, one holding 2.96 MB). Decoding is the
per-payload imperative work the reference does per TCP frame; here it
runs once per file inside the scan's tasks, and everything downstream
is declarative.

The msgpack subset codec below is implemented from the public msgpack
spec (https://github.com/msgpack/msgpack/blob/master/spec.md) — only
the types fluent-forward entries use.

EventTime fidelity: timestamps land as TIMESTAMP_NTZ (µs) plus an
`ts_nsec` column carrying the full 0..999_999_999 nanoseconds-in-second,
so the ext(0) sec+nsec pair round-trips LOSSLESSLY (sec = epoch seconds
of ts, nsec = ts_nsec) — round 1's documented ns->µs truncation gap.
"""

from __future__ import annotations

import gzip as _gzip
import os
import struct
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

# ---------------------------------------------------------------- encoder
# (fixture/spool writer — the client side of the format)


def _enc_int(n: int) -> bytes:
    if 0 <= n < 0x80:
        return struct.pack("B", n)
    if -32 <= n < 0:
        return struct.pack("b", n)
    if 0 <= n <= 0xFF:
        return b"\xcc" + struct.pack("B", n)
    if 0 <= n <= 0xFFFF:
        return b"\xcd" + struct.pack(">H", n)
    if 0 <= n <= 0xFFFFFFFF:
        return b"\xce" + struct.pack(">I", n)
    if n >= 0:
        return b"\xcf" + struct.pack(">Q", n)
    if n >= -(1 << 7):
        return b"\xd0" + struct.pack(">b", n)
    if n >= -(1 << 15):
        return b"\xd1" + struct.pack(">h", n)
    if n >= -(1 << 31):
        return b"\xd2" + struct.pack(">i", n)
    return b"\xd3" + struct.pack(">q", n)


def _enc_str(s: str) -> bytes:
    b = s.encode("utf-8")
    n = len(b)
    if n < 32:
        return struct.pack("B", 0xA0 | n) + b
    if n <= 0xFF:
        return b"\xd9" + struct.pack("B", n) + b
    if n <= 0xFFFF:
        return b"\xda" + struct.pack(">H", n) + b
    return b"\xdb" + struct.pack(">I", n) + b


def _enc_map_header(n: int) -> bytes:
    if n < 16:
        return struct.pack("B", 0x80 | n)
    if n <= 0xFFFF:
        return b"\xde" + struct.pack(">H", n)
    return b"\xdf" + struct.pack(">I", n)


def encode_event_time(sec: int, nsec: int) -> bytes:
    """fluentd EventTime: fixext8, ext type 0, BE u32 sec + BE u32 nsec
    (message/time.go:50-52 decodes exactly these 8 bytes)."""
    return b"\xd7\x00" + struct.pack(">II", sec, nsec)


def encode_entry(ts, record: dict) -> bytes:
    """One entry: fixarray(2) [time, record]. `ts` is an int (epoch sec)
    or a (sec, nsec) tuple (EventTime ext). Record values: str or int."""
    out = [b"\x92"]  # fixarray of 2
    if isinstance(ts, tuple):
        out.append(encode_event_time(*ts))
    else:
        out.append(_enc_int(int(ts)))
    out.append(_enc_map_header(len(record)))
    for k, v in record.items():
        out.append(_enc_str(str(k)))
        if isinstance(v, bool):
            out.append(b"\xc3" if v else b"\xc2")
        elif isinstance(v, int):
            out.append(_enc_int(v))
        elif isinstance(v, float):
            out.append(b"\xcb" + struct.pack(">d", v))
        elif v is None:
            out.append(b"\xc0")
        else:
            out.append(_enc_str(str(v)))
    return b"".join(out)


def write_spool_file(
    path: str, entries: list[tuple], compress: bool = False
) -> str:
    """Write a PackedForward-style spool file (concatenated entries).
    The tag rides in the filename — `<tag>.msgpack[.gz]` — matching the
    per-tag chunk files a fluentd file buffer rotates out."""
    blob = b"".join(encode_entry(ts, rec) for ts, rec in entries)
    if compress:
        # deterministic bytes: no mtime in the gzip header
        blob = _gzip.compress(blob, mtime=0)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "wb") as f:
        f.write(blob)
    return path


# ---------------------------------------------------------------- decoder


class MsgpackError(ValueError):
    pass


def _decode_value(b: bytes, i: int):
    """Decode one msgpack value at offset i -> (value, next_offset)."""
    c = b[i]
    i += 1
    if c < 0x80:  # positive fixint
        return c, i
    if c >= 0xE0:  # negative fixint
        return c - 0x100, i
    if 0xA0 <= c <= 0xBF:  # fixstr
        n = c & 0x1F
        return b[i : i + n].decode("utf-8"), i + n
    if 0x80 <= c <= 0x8F:  # fixmap
        return _decode_map(b, i, c & 0x0F)
    if 0x90 <= c <= 0x9F:  # fixarray
        return _decode_array(b, i, c & 0x0F)
    if c == 0xC0:
        return None, i
    if c == 0xC2:
        return False, i
    if c == 0xC3:
        return True, i
    if c == 0xCC:
        return b[i], i + 1
    if c == 0xCD:
        return struct.unpack_from(">H", b, i)[0], i + 2
    if c == 0xCE:
        return struct.unpack_from(">I", b, i)[0], i + 4
    if c == 0xCF:
        return struct.unpack_from(">Q", b, i)[0], i + 8
    if c == 0xD0:
        return struct.unpack_from(">b", b, i)[0], i + 1
    if c == 0xD1:
        return struct.unpack_from(">h", b, i)[0], i + 2
    if c == 0xD2:
        return struct.unpack_from(">i", b, i)[0], i + 4
    if c == 0xD3:
        return struct.unpack_from(">q", b, i)[0], i + 8
    if c == 0xCA:
        return struct.unpack_from(">f", b, i)[0], i + 4
    if c == 0xCB:
        return struct.unpack_from(">d", b, i)[0], i + 8
    if c == 0xD9:
        n = b[i]
        return b[i + 1 : i + 1 + n].decode("utf-8"), i + 1 + n
    if c == 0xDA:
        n = struct.unpack_from(">H", b, i)[0]
        return b[i + 2 : i + 2 + n].decode("utf-8"), i + 2 + n
    if c == 0xDB:
        n = struct.unpack_from(">I", b, i)[0]
        return b[i + 4 : i + 4 + n].decode("utf-8"), i + 4 + n
    if c == 0xC4:  # bin8
        n = b[i]
        return bytes(b[i + 1 : i + 1 + n]), i + 1 + n
    if c == 0xC5:
        n = struct.unpack_from(">H", b, i)[0]
        return bytes(b[i + 2 : i + 2 + n]), i + 2 + n
    if c == 0xC6:
        n = struct.unpack_from(">I", b, i)[0]
        return bytes(b[i + 4 : i + 4 + n]), i + 4 + n
    if c == 0xDC:  # array16
        n = struct.unpack_from(">H", b, i)[0]
        return _decode_array(b, i + 2, n)
    if c == 0xDD:
        n = struct.unpack_from(">I", b, i)[0]
        return _decode_array(b, i + 4, n)
    if c == 0xDE:  # map16
        n = struct.unpack_from(">H", b, i)[0]
        return _decode_map(b, i + 2, n)
    if c == 0xDF:
        n = struct.unpack_from(">I", b, i)[0]
        return _decode_map(b, i + 4, n)
    if c == 0xD7:  # fixext8 — the EventTime carrier
        ext_type = struct.unpack_from(">b", b, i)[0]
        data = bytes(b[i + 1 : i + 9])
        return ("__ext__", ext_type, data), i + 9
    if c == 0xC7:  # ext8
        n = b[i]
        ext_type = struct.unpack_from(">b", b, i + 1)[0]
        data = bytes(b[i + 2 : i + 2 + n])
        return ("__ext__", ext_type, data), i + 2 + n
    raise MsgpackError(f"unsupported msgpack code 0x{c:02x} at offset {i - 1}")


def _decode_array(b: bytes, i: int, n: int):
    out = []
    for _ in range(n):
        v, i = _decode_value(b, i)
        out.append(v)
    return out, i


def _decode_map(b: bytes, i: int, n: int):
    out = {}
    for _ in range(n):
        k, i = _decode_value(b, i)
        v, i = _decode_value(b, i)
        out[k] = v
    return out, i


def decode_time(v) -> tuple[int, int]:
    """-> (sec, nsec). Integer epoch or EventTime ext(0) sec+nsec, the
    two encodings message/time.go accepts."""
    if isinstance(v, int):
        return v, 0
    if isinstance(v, tuple) and v and v[0] == "__ext__":
        _, ext_type, data = v
        if ext_type != 0:
            raise MsgpackError(f"unknown ext id {ext_type}")
        if len(data) != 8:
            raise MsgpackError(f"unknown ext id size {len(data)}")
        sec, nsec = struct.unpack(">II", data)
        return sec, nsec
    raise MsgpackError(f"unknown time type {type(v).__name__}")


def decode_spool_blob(blob: bytes) -> Iterator[tuple[int, int, dict]]:
    """Yield (sec, nsec, record) per entry until the blob is exhausted —
    the batch twin of the reader.go:62-71 DecodeEntry-until-EOF loop.
    Transparently gunzips (CompressedPackedForward)."""
    if blob[:2] == b"\x1f\x8b":
        blob = _gzip.decompress(blob)
    i, n = 0, len(blob)
    while i < n:
        entry, i = _decode_value(blob, i)
        if not isinstance(entry, list) or len(entry) != 2:
            raise MsgpackError("entry is not a [time, record] pair")
        sec, nsec = decode_time(entry[0])
        record = entry[1]
        if not isinstance(record, dict):
            raise MsgpackError("entry record is not a map")
        yield sec, nsec, record


# ------------------------------------------------------------ spark source

SPOOL_SCHEMA = (
    "tag string, ts timestamp_ntz, ts_nsec int, record map<string,string>"
)


def _tag_from_path(path: str) -> str:
    name = os.path.basename(path)
    for suffix in (".gz", ".msgpack"):
        if name.endswith(suffix):
            name = name[: -len(suffix)]
    return name


# the seconds TIMESTAMP_NTZ holds: 0001-01-01T00:00:00 .. 9999-12-31T23:59:59
_SEC_MIN, _SEC_MAX = -62_135_596_800, 253_402_300_799


def decode_spool_batch(paths, blobs) -> pa.RecordBatch:
    """Decode spool files into one Arrow batch of SPOOL_SCHEMA rows.

    Columns are built directly: `ts` is one int64 expression over the
    entries' epoch seconds and nanoseconds, and `record` a MapArray from
    offsets plus flat key and value lists. Values become `str(v)` (None
    stays null); keys become `str(k)`, a repeated key keeping its last
    value. A time outside TIMESTAMP_NTZ's range, or nanoseconds past
    999,999,999, raises MsgpackError instead of wrapping around.
    """
    tags, secs, nsecs, keys, values, offsets = [], [], [], [], [], [0]
    for path, blob in zip(paths, blobs):
        n_before = len(secs)
        for sec, nsec, record in decode_spool_blob(blob):
            if not all(k.__class__ is str for k in record):
                record = {str(k): v for k, v in record.items()}
            secs.append(sec)
            nsecs.append(nsec)
            keys.extend(record)
            values.extend(record.values())
            offsets.append(len(keys))
        tags.extend([_tag_from_path(path)] * (len(secs) - n_before))
    values = [v if v.__class__ is str or v is None else str(v) for v in values]
    try:
        sec = np.array(secs, dtype=np.int64)
    except OverflowError:
        raise MsgpackError("entry time does not fit in int64 seconds") from None
    nsec = np.array(nsecs, dtype=np.int64)
    if len(sec) and (
        sec.min() < _SEC_MIN or sec.max() > _SEC_MAX or nsec.max() > 999_999_999
    ):
        raise MsgpackError("entry time outside 0001-01-01 .. 9999-12-31")
    record = pa.MapArray.from_arrays(
        pa.array(offsets, pa.int32()),
        pa.array(keys, pa.string()),
        pa.array(values, pa.string()),
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(tags, pa.string()),
            pa.array(sec * 1_000_000 + nsec // 1000, pa.timestamp("us")),
            pa.array(nsec, pa.int32()),
            record,
        ],
        names=["tag", "ts", "ts_nsec", "record"],
    )


def decode_files_df(files):
    """(path, content) DataFrame -> decoded spool rows via mapInArrow.

    Shared by the batch reader and the streaming tail — the decode is a
    narrow Arrow-batched operator either way, one output batch per input
    batch (`decode_spool_batch`). Record values are stringified into a
    map<string,string> column; ts is TIMESTAMP_NTZ µs with the
    nanosecond remainder carried losslessly in ts_nsec.
    """

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield decode_spool_batch(
                batch.column("path").to_pylist(), batch.column("content").to_pylist()
            )

    return files.mapInArrow(decode, schema=SPOOL_SCHEMA)


def read_spool_files(spark, path_glob: str):
    """DataFrame over a directory/glob of fluent spool files.

    binaryFile scan -> mapInArrow decode (`decode_files_df`). Files are
    packed into about one task per core, not one task per file (see the
    module docstring)."""
    files = (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select("path", "content")
    )
    return decode_files_df(files)
