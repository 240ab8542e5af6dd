"""Live fluent-forward ingestion edge — the reference's TCP face
(accept loop server/server.go:58-116, session state machine
message/session.go:15-122, HELO/PING/PONG message/helo.go / ping.go /
pong.go, UDP heartbeat server/server.go:60-86) reimplemented from the
PUBLIC fluentd Forward Protocol v1 specification
(https://github.com/fluent/fluentd/wiki/Forward-Protocol-Specification-v1)
— NOT translated from the Go.

Role in the architecture: the INGEST EDGE DAEMON. Spark is not a TCP
endpoint — a fleet of these daemons terminates fluent-forward clients
and lands per-tag SPOOL SEGMENTS (the exact format
sources/fluentfile.py reads), and the engine runs batch or streaming
over those files (streaming/stream_pipeline.py::stream_spool_routed
tails the same directories). That keeps the 100 TB data path
declarative while real fluentd/fluent-bit agents can point at this
server unchanged.

Implements, per the spec:

* all four event modes — Message `[tag, time, record]`, Forward
  `[tag, [[time, record], ...]]`, PackedForward `[tag, bin]` (binary of
  concatenated entries), CompressedPackedForward (same, gzipped —
  detected by magic, `compressed: "gzip"` option);
* `option.chunk` acknowledgements: reply `{"ack": <chunk>}` after the
  segment write completes (at-least-once handoff — the client retries
  unacked chunks; replay lands in a new segment and the engine's
  exact-dedup/idempotence layers own the rest);
* the shared-key handshake: server sends
  `["HELO", {"nonce", "auth", "keepalive"}]`; client answers
  `["PING", hostname, salt, sha512_hex(salt + hostname + nonce + key),
  username, password_digest]`; server verifies and replies
  `["PONG", ok, reason, server_hostname,
  sha512_hex(salt + server_hostname + nonce + key)]`;
* the UDP heartbeat: echo a null byte back to any datagram;
* TLS transport (the reference's server/tls.go face): pass an
  `ssl.SSLContext` to ForwardServer/ForwardClient — asyncio wraps the
  stream; the protocol above is unchanged (tested with a self-signed
  cert in tests/test_forward_server.py).

Timestamps accept both integer epoch seconds and the EventTime ext(0)
sec+nsec encoding and round-trip LOSSLESSLY into the spool (the segment
stores the original entry bytes for packed modes, and re-encodes via
encode_entry for Message/Forward).

Framing: a FrameScanner finds where each frame ends by reading only
msgpack headers and length fields, resuming across reads, and each frame
is decoded once, when complete, from its own bytes (`read_frame`). A
frame that spans N reads therefore costs one scan plus one decode, not N
decodes from its first byte.
"""

from __future__ import annotations

import asyncio
import collections
import gzip as _gzip
import hashlib
import hmac
import os
import secrets
import struct

from fluent_server_spark.sources.fluentfile import (
    MsgpackError,
    _decode_value,
    _enc_int,
    _enc_map_header,
    _enc_str,
    encode_entry,
)

# lead byte -> size of a whole value that has no length field and no
# items (fixints, nil/bool, fixstr, fixed-width numbers, fixext, empty
# fixmap/fixarray); 0 = the lead byte starts a length-prefixed value, a
# container with items, or is the never-used 0xc1
_FIXED_SIZE = bytearray(256)
for _c in [*range(0x00, 0x80), *range(0xE0, 0x100), 0x80, 0x90, 0xC0, 0xC2, 0xC3]:
    _FIXED_SIZE[_c] = 1
for _c in range(0xA0, 0xC0):
    _FIXED_SIZE[_c] = 1 + (_c & 0x1F)
for _c, _n in {0xCC: 2, 0xD0: 2, 0xCD: 3, 0xD1: 3, 0xCA: 5, 0xCE: 5, 0xD2: 5,
               0xCB: 9, 0xCF: 9, 0xD3: 9, 0xD4: 3, 0xD5: 4, 0xD6: 6,
               0xD7: 10, 0xD8: 18}.items():
    _FIXED_SIZE[_c] = _n
del _c, _n
# lead byte -> (big-endian length field width, items per length unit,
# gap): items per unit is 1 for arrays, 2 for maps and 0 for str/bin/ext,
# whose length counts payload bytes; gap is the ext type byte that sits
# between an ext's length field and its payload
_LENGTH_FIELD = {
    0xC4: (1, 0, 0), 0xC5: (2, 0, 0), 0xC6: (4, 0, 0),  # bin 8/16/32
    0xD9: (1, 0, 0), 0xDA: (2, 0, 0), 0xDB: (4, 0, 0),  # str 8/16/32
    0xC7: (1, 0, 1), 0xC8: (2, 0, 1), 0xC9: (4, 0, 1),  # ext 8/16/32
    0xDC: (2, 1, 0), 0xDD: (4, 1, 0),  # array 16/32
    0xDE: (2, 2, 0), 0xDF: (4, 2, 0),  # map 16/32
}


class FrameOverflow(Exception):
    """More than `max_buffer` bytes arrived without completing a frame."""


class FrameScanner:
    """Splits a byte stream that arrives in pieces into whole top-level
    msgpack values ("frames"), handing each one's bytes out once in
    `ready`.

    The scan resumes where the previous `feed` stopped. It reads only
    lead bytes and length fields, jumps over str/bin/ext payloads, and
    keeps one count per open container (items still to come), so the
    bytes it examines over a frame's whole arrival stay about one per
    value however many reads the frame spans (`examined` counts them).
    Nesting deeper than MAX_DEPTH raises MsgpackError before the stack
    grows past it; so does a lead byte msgpack never uses.
    """

    MAX_DEPTH = 64

    def __init__(self) -> None:
        self._buf = bytearray()
        # next lead byte to read; runs past the buffer's end while a
        # payload it already jumped over is still arriving
        self._pos = 0
        self._stack: list[int] = []
        self._end: int | None = None  # end of a frame whose tail is in flight
        self.ready: collections.deque[bytes] = collections.deque()
        self.examined = 0

    @property
    def buffered(self) -> int:
        """Bytes held that belong to no complete frame yet."""
        return len(self._buf)

    def feed(self, data: bytes) -> None:
        buf, stack = self._buf, self._stack
        buf += data
        pos, n, examined = self._pos, len(buf), 0
        ends = [] if self._end is None else [self._end]
        while pos < n:
            c = buf[pos]
            size = _FIXED_SIZE[c]
            if size:
                examined += 1
                pos += size
            elif 0x80 <= c <= 0x9F:  # fixmap / fixarray with items
                examined += 1
                pos += 1
                self._push((c & 0x0F) * (2 if c < 0x90 else 1))
                continue
            else:
                spec = _LENGTH_FIELD.get(c)
                if spec is None:
                    raise MsgpackError(f"unsupported msgpack code 0x{c:02x}")
                width, per_unit, gap = spec
                head = pos + 1 + width
                if head > n:  # the length field itself is split: re-read it
                    examined += n - pos
                    break
                examined += 1 + width
                length = int.from_bytes(buf[pos + 1 : head], "big")
                if per_unit and length:
                    pos = head
                    self._push(length * per_unit)
                    continue
                pos = head + gap + length
            # a value ended at `pos`: close each container it completes
            while stack:
                stack[-1] -= 1
                if stack[-1]:
                    break
                stack.pop()
            else:
                ends.append(pos)
        self._pos = pos
        self.examined += examined
        start = 0
        for end in ends:
            if end > n:  # only the last frame can still be arriving
                break
            self.ready.append(bytes(buf[start:end]))
            start = end
        self._end = end - start if ends and end > n else None
        if start:
            del buf[:start]
            self._pos -= start

    def _push(self, items: int) -> None:
        if len(self._stack) >= self.MAX_DEPTH:
            raise MsgpackError(f"frame nests deeper than {self.MAX_DEPTH}")
        self._stack.append(items)


async def read_frame(reader, frames: FrameScanner, max_buffer: int | None = None):
    """The next frame from `reader`, decoded once from its own bytes.

    Raises ConnectionError when the peer closes first, FrameOverflow when
    more than `max_buffer` bytes wait without completing a frame, and
    MsgpackError when the frame is malformed (bad structure, unsupported
    code or invalid UTF-8)."""
    while not frames.ready:
        if max_buffer is not None and frames.buffered > max_buffer:
            raise FrameOverflow(f"{frames.buffered} bytes without a whole frame")
        chunk = await reader.read(65536)
        if not chunk:
            raise ConnectionError("peer closed")
        frames.feed(chunk)
    try:
        return _decode_value(frames.ready.popleft(), 0)[0]
    except UnicodeDecodeError as e:
        raise MsgpackError(f"invalid UTF-8 in frame: {e}") from None


def _enc_map(d: dict) -> bytes:
    out = [_enc_map_header(len(d))]
    for k, v in d.items():
        out.append(_enc_str(str(k)))
        if isinstance(v, bool):
            out.append(b"\xc3" if v else b"\xc2")
        elif isinstance(v, bytes):
            out.append(b"\xc4" + struct.pack("B", len(v)) + v)
        elif isinstance(v, int):
            out.append(_enc_int(v))
        elif isinstance(v, float):
            out.append(b"\xcb" + struct.pack(">d", v))
        elif v is None:
            out.append(b"\xc0")
        else:
            out.append(_enc_str(str(v)))
    return b"".join(out)


def _enc_array(items: list[bytes]) -> bytes:
    if len(items) < 16:
        return struct.pack("B", 0x90 | len(items)) + b"".join(items)
    return b"\xdc" + struct.pack(">H", len(items)) + b"".join(items)


def _sha512_hex(*parts) -> str:
    h = hashlib.sha512()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode("utf-8"))
    return h.hexdigest()


class ForwardServer:
    """asyncio fluent-forward server writing per-tag spool segments.

    Segments live under `{spool_dir}/{segment:06d}/{tag}.msgpack`; the
    per-segment subdirectory keeps `_tag_from_path` exact and gives the
    streaming tail whole-file units — `rotate()` seals the current
    segment (a file-buffer flush), after which its files never grow.
    """

    def __init__(
        self,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        shared_key: str | None = None,
        server_hostname: str = "fss-edge",
        heartbeat: bool = False,
        nonce: bytes | None = None,
        ssl_context=None,
        hidden_active: bool = False,
        max_buffer: int = 64 << 20,
    ) -> None:
        self.spool_dir = spool_dir
        self.host, self._req_port = host, port
        self.shared_key = shared_key
        self.server_hostname = server_hostname
        self.heartbeat = heartbeat
        self.hidden_active = hidden_active
        self.max_buffer = max_buffer
        self._nonce = nonce or secrets.token_bytes(16)
        self._auth_salt = secrets.token_bytes(16)
        self._server = None
        self._udp = None
        self._segment = 0
        self._ssl = ssl_context
        self._lock = asyncio.Lock()
        self._conn_tasks: set = set()
        self._conn_writers: set = set()
        self.stats = {
            "connections": 0,
            "entries": 0,
            "acks": 0,
            "rejected": 0,
            "overflowed": 0,
            "malformed": 0,
        }

    # ------------------------------------------------------------ lifecycle
    async def start(self) -> None:
        # crash recovery: a daemon that died WITHOUT a final rotate
        # (SIGKILL / OOM / power loss) leaves an `_open_NNNNNN` working
        # dir whose entries were already ACKed to clients — and the
        # underscore prefix hides it from every batch scan and streaming
        # tail forever. Seal those leftovers (rename to the visible name)
        # before serving: safe under the same single-writer-per-spool
        # assumption _next_segment() already makes, and the new process
        # numbers PAST them so it never appends to a sealed segment.
        self._seal_leftovers()
        # resume segment numbering PAST anything already on disk: a
        # daemon restarted on the same spool must never append to (or
        # seal-rename onto) a segment an earlier process wrote — files a
        # stream already consumed are only read once, so appending to
        # them silently loses the appended entries downstream
        self._segment = self._next_segment()
        self._server = await asyncio.start_server(
            self._handle, self.host, self._req_port, ssl=self._ssl
        )
        if self.heartbeat:
            loop = asyncio.get_running_loop()
            self._udp, _ = await loop.create_datagram_endpoint(
                lambda: _HeartbeatProtocol(), local_addr=(self.host, self.port)
            )

    @property
    def port(self) -> int:
        return self._server.sockets[0].getsockname()[1]

    async def stop(self) -> None:
        if self._udp is not None:
            self._udp.close()
        self._server.close()
        await self._server.wait_closed()
        # wait_closed() only waits for in-flight connection handlers on
        # Python >= 3.12.1 (gh-104344); on older runtimes a handler could
        # append+ACK a frame AFTER stop() returns, landing entries in a
        # fresh _open_ dir that the drain's final rotate never seals.
        # Close the live transports (readers see EOF, handlers exit their
        # loop) and await the handler tasks explicitly, so stop()
        # returning guarantees no further appends on every version.
        for w in list(self._conn_writers):
            w.close()
        if self._conn_tasks:
            await asyncio.gather(*list(self._conn_tasks), return_exceptions=True)

    def _seal_leftovers(self) -> None:
        import re as _re

        if not os.path.isdir(self.spool_dir):
            return
        for name in sorted(os.listdir(self.spool_dir)):
            m = _re.fullmatch(r"_open_(\d{6})", name)
            if not m:
                continue
            dst = os.path.join(self.spool_dir, m.group(1))
            if os.path.exists(dst):
                # impossible under single-writer (rotate renames, never
                # copies) — refuse rather than clobber sealed data
                raise RuntimeError(
                    f"spool has both {name} and {m.group(1)}: "
                    "two writers on one spool?"
                )
            os.rename(os.path.join(self.spool_dir, name), dst)

    def _next_segment(self) -> int:
        import re as _re

        if not os.path.isdir(self.spool_dir):
            return 0
        mx = -1
        for name in os.listdir(self.spool_dir):
            m = _re.fullmatch(r"(?:_open_)?(\d{6})", name)
            if m:
                mx = max(mx, int(m.group(1)))
        return mx + 1

    def rotate(self) -> int:
        """Seal the current segment; subsequent writes open a new one.
        Returns the sealed segment id.

        With `hidden_active`, sealing RENAMES the segment directory from
        its underscore-prefixed working name to the visible one — Spark's
        file listing skips `_`-prefixed paths, so batch scans and the
        streaming tail only ever see sealed, immutable files (a growing
        file would otherwise be read once by the file stream and its
        later bytes silently lost). Call from the server's event loop
        (the CLI does) so the rename never races an in-flight append."""
        sealed, self._segment = self._segment, self._segment + 1
        if self.hidden_active:
            wip = os.path.join(self.spool_dir, f"_open_{sealed:06d}")
            if os.path.isdir(wip):
                os.rename(wip, os.path.join(self.spool_dir, f"{sealed:06d}"))
        return sealed

    # -------------------------------------------------------------- spool io
    def _segment_path(self, tag: str) -> str:
        name = (
            f"_open_{self._segment:06d}"
            if self.hidden_active
            else f"{self._segment:06d}"
        )
        d = os.path.join(self.spool_dir, name)
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{tag}.msgpack")

    async def _append(self, tag: str, blob: bytes, n_entries: int) -> None:
        async with self._lock:
            with open(self._segment_path(tag), "ab") as f:
                f.write(blob)
        self.stats["entries"] += n_entries

    # ------------------------------------------------------------ handshake
    async def _handshake(self, reader, writer, frames: FrameScanner) -> bool:
        """Run the HELO/PING/PONG exchange. Event frames a client pipelined
        behind its PING (sent without waiting for PONG) stay in `frames`
        for the session loop."""
        helo = _enc_array(
            [
                _enc_str("HELO"),
                _enc_map(
                    {"nonce": self._nonce, "auth": self._auth_salt, "keepalive": True}
                ),
            ]
        )
        writer.write(helo)
        await writer.drain()
        ping = await read_frame(reader, frames, self.max_buffer)
        ok, reason = False, ""
        if (
            isinstance(ping, list)
            and len(ping) >= 4
            and ping[0] == "PING"
        ):
            _, hostname, salt, digest = ping[:4]
            salt_b = salt if isinstance(salt, bytes) else str(salt).encode()
            want = _sha512_hex(salt_b, hostname, self._nonce, self.shared_key)
            ok = isinstance(digest, str) and hmac.compare_digest(digest, want)
            reason = "" if ok else "shared_key digest mismatch"
        else:
            reason = "malformed PING"
        pong_digest = _sha512_hex(
            salt_b if ok else b"", self.server_hostname, self._nonce, self.shared_key
        )
        pong = _enc_array(
            [
                _enc_str("PONG"),
                b"\xc3" if ok else b"\xc2",
                _enc_str(reason),
                _enc_str(self.server_hostname),
                _enc_str(pong_digest),
            ]
        )
        writer.write(pong)
        await writer.drain()
        if not ok:
            self.stats["rejected"] += 1
        return ok

    # ------------------------------------------------------------- sessions
    async def _handle(self, reader, writer) -> None:
        self.stats["connections"] += 1
        task = asyncio.current_task()
        self._conn_tasks.add(task)
        self._conn_writers.add(writer)
        frames = FrameScanner()
        try:
            if self.shared_key is not None and not await self._handshake(
                reader, writer, frames
            ):
                return
            while True:
                frame = await read_frame(reader, frames, self.max_buffer)
                await self._dispatch(frame, writer)
        except ConnectionError:
            pass  # the peer closed or reset the connection
        except FrameOverflow:
            # memory backstop: a client streaming bytes that never
            # complete a frame (garbage, or a single frame larger than
            # max_buffer) is dropped, the server keeps serving
            self.stats["overflowed"] += 1
        except MsgpackError:
            self.stats["malformed"] += 1
        finally:
            self._conn_tasks.discard(task)
            self._conn_writers.discard(writer)
            writer.close()
            try:
                await writer.wait_closed()
            except BaseException:
                # includes CancelledError from server stop racing the
                # close waiter — the connection is gone either way
                pass

    async def _dispatch(self, frame, writer) -> None:
        if not isinstance(frame, list) or len(frame) < 2 or not isinstance(frame[0], str):
            raise MsgpackError("frame is not [tag, entries, ...]")
        tag = frame[0]
        option = None
        if isinstance(frame[1], (bytes, bytearray)):
            # PackedForward / CompressedPackedForward: the binary IS the
            # spool format (concatenated entries) — land it verbatim
            # (gunzip first: segments are raw concatenations)
            blob = bytes(frame[1])
            if len(frame) > 2 and isinstance(frame[2], dict):
                option = frame[2]
            if blob[:2] == b"\x1f\x8b":
                blob = _gzip.decompress(blob)
            n = sum(1 for _ in _iter_entries(blob))
            await self._append(tag, blob, n)
        elif isinstance(frame[1], list):
            # Forward mode: [[time, record], ...]
            entries = frame[1]
            if len(frame) > 2 and isinstance(frame[2], dict):
                option = frame[2]
            blob = b"".join(
                encode_entry(_ts_of(e[0]), e[1]) for e in entries
            )
            await self._append(tag, blob, len(entries))
        else:
            # Message mode: [tag, time, record, option?]
            if len(frame) > 3 and isinstance(frame[3], dict):
                option = frame[3]
            blob = encode_entry(_ts_of(frame[1]), frame[2])
            await self._append(tag, blob, 1)
        if option and option.get("chunk") is not None:
            chunk = option["chunk"]
            if isinstance(chunk, bytes):
                chunk = chunk.decode("utf-8", "surrogateescape")
            writer.write(_enc_map({"ack": chunk}))
            await writer.drain()
            self.stats["acks"] += 1


def _ts_of(v):
    """Normalize a decoded time value to encode_entry's accepted forms."""
    if isinstance(v, tuple) and v and v[0] == "__ext__":
        sec, nsec = struct.unpack(">II", v[2])
        return (sec, nsec)
    return int(v)


def _iter_entries(blob: bytes):
    i, n = 0, len(blob)
    while i < n:
        entry, i = _decode_value(blob, i)
        yield entry


class _HeartbeatProtocol(asyncio.DatagramProtocol):
    """UDP heartbeat responder: any datagram gets a null byte back (the
    spec's keepalive probe; reference analogue server/server.go:60-86)."""

    def connection_made(self, transport):
        self.transport = transport

    def datagram_received(self, data, addr):
        self.transport.sendto(b"\x00", addr)


# ---------------------------------------------------------------- client


class ForwardClient:
    """Minimal fluent-forward client (handshake + all four event modes) —
    for tests and as the reference implementation of the client side of
    the same public spec."""

    def __init__(self, host: str, port: int, shared_key: str | None = None,
                 hostname: str = "fss-client", ssl_context=None) -> None:
        self.host, self.port = host, port
        self.shared_key, self.hostname = shared_key, hostname
        self._ssl = ssl_context
        self._r = self._w = self._frames = None

    async def connect(self) -> bool:
        self._r, self._w = await asyncio.open_connection(
            self.host, self.port, ssl=self._ssl
        )
        self._frames = FrameScanner()
        if self.shared_key is None:
            return True
        helo = await read_frame(self._r, self._frames)
        if not (isinstance(helo, list) and helo[0] == "HELO"):
            return False
        nonce = helo[1]["nonce"]
        salt = secrets.token_bytes(16)
        digest = _sha512_hex(salt, self.hostname, nonce, self.shared_key)
        ping = _enc_array(
            [
                _enc_str("PING"),
                _enc_str(self.hostname),
                b"\xc4" + struct.pack("B", len(salt)) + salt,
                _enc_str(digest),
                _enc_str(""),
                _enc_str(""),
            ]
        )
        self._w.write(ping)
        await self._w.drain()
        pong = await read_frame(self._r, self._frames)
        return bool(isinstance(pong, list) and pong[0] == "PONG" and pong[1])

    async def send_raw(self, payload: bytes, await_ack: bool = False):
        self._w.write(payload)
        await self._w.drain()
        if await_ack:
            return await read_frame(self._r, self._frames)
        return None

    async def close(self) -> None:
        self._w.close()
        try:
            await self._w.wait_closed()
        except Exception:
            pass
