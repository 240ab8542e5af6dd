"""Live fluent-forward edge: wire protocol round-trips into spool
segments the Spark source reads back — all four event modes, chunk
acks, the shared-key handshake, and the UDP heartbeat (implemented from
the public Forward Protocol v1 spec)."""

from __future__ import annotations

import asyncio
import socket
import struct

import pytest
from pyspark.sql import functions as F

from fluent_server_spark.sources.fluentfile import (
    _enc_int,
    _enc_map_header,
    _enc_str,
    encode_entry,
    encode_event_time,
    write_spool_file,
)
from fluent_server_spark.sources.forward_server import (
    ForwardClient,
    ForwardServer,
    _enc_array,
    _enc_map,
)

T0 = 1_700_000_000


def _message_frame(tag, ts, record, option=None):
    items = [_enc_str(tag), _enc_int(ts) if isinstance(ts, int) else ts,
             _enc_map(record)]
    if option is not None:
        items.append(_enc_map(option))
    return _enc_array(items)


def _forward_frame(tag, entries, option=None):
    items = [_enc_str(tag), _enc_array([encode_entry(t, r) for t, r in entries])]
    if option is not None:
        items.append(_enc_map(option))
    return _enc_array(items)


def _packed_frame(tag, entries, option=None, compress=False):
    import gzip

    blob = b"".join(encode_entry(t, r) for t, r in entries)
    if compress:
        blob = gzip.compress(blob, mtime=0)
    if len(blob) <= 0xFF:
        binv = b"\xc4" + struct.pack("B", len(blob)) + blob
    else:
        binv = b"\xc5" + struct.pack(">H", len(blob)) + blob
    items = [_enc_str(tag), binv]
    if option is not None:
        items.append(_enc_map(option))
    return _enc_array(items)


def _forward_frame_eventtime(tag, sec, nsec, record):
    entry = _enc_array([encode_event_time(sec, nsec), _enc_map(record)])
    return _enc_array([_enc_str(tag), _enc_array([entry])])


def test_all_event_modes_land_in_spool_and_ack(spark, tmp_path):
    async def scenario():
        srv = ForwardServer(str(tmp_path / "spool"))
        await srv.start()
        try:
            cli = ForwardClient("127.0.0.1", srv.port)
            assert await cli.connect()
            # Message mode
            await cli.send_raw(_message_frame("app.web", T0, {"level": "INFO", "n": 1}))
            # Forward mode (batch of 3) with chunk ack
            ack = await cli.send_raw(
                _forward_frame(
                    "app.web",
                    [(T0 + i, {"level": "WARN", "n": 10 + i}) for i in range(3)],
                    option={"chunk": "c-1"},
                ),
                await_ack=True,
            )
            assert ack == {"ack": "c-1"}
            # PackedForward with ack
            ack2 = await cli.send_raw(
                _packed_frame(
                    "db.core",
                    [(T0 + 50, {"level": "ERROR", "n": 5}),
                     ((T0 + 51), {"level": "ERROR", "n": 6})],
                    option={"chunk": "c-2", "size": 2},
                ),
                await_ack=True,
            )
            assert ack2 == {"ack": "c-2"}
            # CompressedPackedForward
            await cli.send_raw(
                _packed_frame(
                    "db.core", [(T0 + 60, {"level": "INFO", "n": 7})], compress=True
                )
            )
            # EventTime nanoseconds round-trip
            await cli.send_raw(
                _forward_frame_eventtime("app.api", T0 + 70, 999_999_123,
                                         {"level": "INFO", "n": 8})
            )
            await cli.close()
            await asyncio.sleep(0.1)
        finally:
            await srv.stop()
        return srv.stats

    stats = asyncio.run(scenario())
    assert stats["entries"] == 8 and stats["acks"] == 2

    from fluent_server_spark.sources.fluentfile import read_spool_files

    df = read_spool_files(spark, str(tmp_path / "spool" / "*"))
    rows = df.collect()
    assert len(rows) == 8
    by_tag = {}
    for r in rows:
        by_tag.setdefault(r["tag"], []).append(r)
    assert {t: len(v) for t, v in by_tag.items()} == {
        "app.web": 4, "db.core": 3, "app.api": 1,
    }
    api = by_tag["app.api"][0]
    assert api["ts_nsec"] == 999_999_123  # lossless EventTime carry
    assert api["record"]["n"] == "8"


def test_shared_key_handshake_accepts_and_rejects(spark, tmp_path):
    async def scenario():
        srv = ForwardServer(str(tmp_path / "spool"), shared_key="s3cret")
        await srv.start()
        try:
            good = ForwardClient("127.0.0.1", srv.port, shared_key="s3cret")
            assert await good.connect() is True
            await good.send_raw(_message_frame("t.ok", T0, {"n": 1}))
            await good.close()

            bad = ForwardClient("127.0.0.1", srv.port, shared_key="wrong")
            assert await bad.connect() is False
            await bad.close()
            await asyncio.sleep(0.1)
        finally:
            await srv.stop()
        return srv.stats

    stats = asyncio.run(scenario())
    assert stats["entries"] == 1 and stats["rejected"] == 1


def test_non_ascii_frame_split_mid_utf8_char(spark, tmp_path):
    """A frame whose multi-byte UTF-8 text straddles the read boundary
    must be treated as incomplete (wait for more bytes), not kill the
    connection with UnicodeDecodeError."""

    async def scenario():
        srv = ForwardServer(str(tmp_path / "spool"))
        await srv.start()
        try:
            cli = ForwardClient("127.0.0.1", srv.port)
            assert await cli.connect()
            frame = _message_frame("app.i18n", T0, {"msg": "héllo wörld — ünïcode"})
            # split INSIDE the 2-byte 'é' (0xC3 0xA9) so the first read's
            # partial slice is undecodable
            cut = frame.index(b"\xc3\xa9") + 1
            cli._w.write(frame[:cut])
            await cli._w.drain()
            await asyncio.sleep(0.15)  # force a separate server read
            await cli.send_raw(frame[cut:])
            # follow with an acked frame to prove the session survived
            ack = await cli.send_raw(
                _message_frame("app.i18n", T0 + 1, {"n": 2}, option={"chunk": "c9"}),
                await_ack=True,
            )
            assert ack == {"ack": "c9"}
            await cli.close()
            await asyncio.sleep(0.1)
        finally:
            await srv.stop()
        return srv.stats

    stats = asyncio.run(scenario())
    assert stats["entries"] == 2

    from fluent_server_spark.sources.fluentfile import read_spool_files

    rows = read_spool_files(spark, str(tmp_path / "spool" / "*")).collect()
    recs = {r["record"].get("msg") for r in rows}
    assert "héllo wörld — ünïcode" in recs


def test_events_pipelined_behind_ping_not_dropped(spark, tmp_path):
    """A client that pipelines event frames behind PING without waiting
    for PONG must not lose them (the handshake's read may pull them into
    its buffer; the session loop has to inherit the leftover)."""
    from fluent_server_spark.sources.forward_server import (
        FrameScanner,
        _sha512_hex,
        read_frame,
    )

    async def scenario():
        srv = ForwardServer(str(tmp_path / "spool"), shared_key="s3cret")
        await srv.start()
        try:
            r, w = await asyncio.open_connection("127.0.0.1", srv.port)
            helo = await read_frame(r, FrameScanner())
            assert helo[0] == "HELO"
            import secrets as _secrets

            salt = _secrets.token_bytes(16)
            digest = _sha512_hex(salt, "pipeliner", helo[1]["nonce"], "s3cret")
            ping = _enc_array(
                [
                    _enc_str("PING"),
                    _enc_str("pipeliner"),
                    b"\xc4" + struct.pack("B", len(salt)) + salt,
                    _enc_str(digest),
                    _enc_str(""),
                    _enc_str(""),
                ]
            )
            # PING and two event frames in ONE write — they arrive in the
            # same server read, so the handshake decodes PING and is left
            # holding the events
            w.write(ping + _message_frame("pipe.a", T0, {"n": 1})
                    + _message_frame("pipe.a", T0 + 1, {"n": 2}))
            await w.drain()
            w.write_eof()
            await r.read()  # PONG (and connection close)
            w.close()
            await asyncio.sleep(0.2)
        finally:
            await srv.stop()
        return srv.stats

    stats = asyncio.run(scenario())
    assert stats["entries"] == 2, f"pipelined events dropped: {stats}"


def test_restarted_server_never_reuses_segments(spark, tmp_path):
    """A daemon restarted on the same spool dir must resume segment
    numbering PAST what's on disk — appending to a segment an earlier
    process wrote would silently lose those entries to any stream that
    already consumed the file (files are read once), and the
    hidden-active seal rename would crash on the existing dir."""

    async def run_one(gen, hidden):
        srv = ForwardServer(str(tmp_path / "spool"), hidden_active=hidden)
        await srv.start()
        try:
            cli = ForwardClient("127.0.0.1", srv.port)
            await cli.connect()
            await cli.send_raw(_message_frame("t.a", T0 + gen, {"gen": gen}))
            await cli.close()
            await asyncio.sleep(0.1)
        finally:
            await srv.stop()
            srv.rotate()
        return srv

    asyncio.run(run_one(0, False))
    asyncio.run(run_one(1, False))
    asyncio.run(run_one(2, True))  # hidden-active restart seals cleanly

    segs = sorted(p.name for p in (tmp_path / "spool").iterdir())
    assert segs == ["000000", "000001", "000002"], segs

    from fluent_server_spark.sources.fluentfile import read_spool_files

    rows = read_spool_files(spark, str(tmp_path / "spool" / "*")).collect()
    assert sorted(r["record"]["gen"] for r in rows) == ["0", "1", "2"]


def test_concurrent_clients_interleave_without_loss(spark, tmp_path):
    """Many simultaneous connections, each pipelining acked frames while
    rotations happen mid-stream: every entry must land exactly once and
    per-tag counts must be exact (the _append lock + per-tag files are
    the serialization points)."""
    N_CLIENTS, FRAMES, BATCH = 6, 5, 20

    async def one_client(port, cid):
        cli = ForwardClient("127.0.0.1", port)
        assert await cli.connect()
        for f in range(FRAMES):
            entries = [
                (T0 + cid * 10_000 + f * 100 + i, {"c": cid, "f": f, "i": i})
                for i in range(BATCH)
            ]
            ack = await cli.send_raw(
                _forward_frame(f"tag.{cid}", entries,
                               option={"chunk": f"{cid}-{f}"}),
                await_ack=True,
            )
            assert ack == {"ack": f"{cid}-{f}"}
            await asyncio.sleep(0.01)
        await cli.close()

    async def scenario():
        srv = ForwardServer(str(tmp_path / "spool"))
        await srv.start()
        try:
            async def rotator():
                for _ in range(4):
                    await asyncio.sleep(0.05)
                    srv.rotate()

            await asyncio.gather(
                rotator(), *[one_client(srv.port, c) for c in range(N_CLIENTS)]
            )
            await asyncio.sleep(0.1)
        finally:
            await srv.stop()
        return srv.stats

    stats = asyncio.run(scenario())
    total = N_CLIENTS * FRAMES * BATCH
    assert stats["entries"] == total
    assert stats["acks"] == N_CLIENTS * FRAMES

    from fluent_server_spark.sources.fluentfile import read_spool_files

    rows = read_spool_files(spark, str(tmp_path / "spool" / "*")).collect()
    assert len(rows) == total
    by_tag = {}
    for r in rows:
        by_tag[r["tag"]] = by_tag.get(r["tag"], 0) + 1
    assert by_tag == {f"tag.{c}": FRAMES * BATCH for c in range(N_CLIENTS)}
    # exactly-once at the record level, not just counts
    keys = {(r["tag"], r["record"]["c"], r["record"]["f"], r["record"]["i"]) for r in rows}
    assert len(keys) == total


def test_undecodable_flood_drops_connection_not_server(tmp_path):
    """A client streaming bytes that never decode into a frame must be
    dropped at max_buffer (memory backstop), while the server keeps
    serving new connections."""

    srv_stats = {}

    async def outer():
        srv = ForwardServer(str(tmp_path / "spool"), max_buffer=4096)
        await srv.start()
        try:
            r, w = await asyncio.open_connection("127.0.0.1", srv.port)
            # 0xc5 = bin16 header claiming 65535 bytes; the stream then
            # carries garbage well past the 4 KiB cap without ever
            # completing a frame
            w.write(b"\xc5\xff\xff" + b"\x00" * 8192)
            await w.drain()
            await r.read()  # server closes on us
            w.close()
            # the server must still accept and serve a healthy client
            cli = ForwardClient("127.0.0.1", srv.port)
            assert await cli.connect()
            ack = await cli.send_raw(
                _message_frame("ok.tag", T0, {"n": 1}, option={"chunk": "h"}),
                await_ack=True,
            )
            await cli.close()
            await asyncio.sleep(0.1)
            srv_stats.update(srv.stats)
            return ack
        finally:
            await srv.stop()

    assert asyncio.run(outer()) == {"ack": "h"}
    assert srv_stats["overflowed"] == 1 and srv_stats["entries"] == 1


def _big_forward_entries(n=8500):
    return [((T0 + i, i * 7919 % 10**9), {"msg": f"entry {i} " + "x" * 100, "n": i})
            for i in range(n)]


async def _send_in_pieces(port, payload, piece):
    """Write `payload` in `piece`-byte writes (yielding between them so
    the server reads them apart), then return (every frame the server
    sent back, count of trailing bytes that form no frame). The server
    closes once it sees our EOF, so the reply is complete."""
    from fluent_server_spark.sources.fluentfile import _decode_value
    from fluent_server_spark.sources.forward_server import FrameScanner

    r, w = await asyncio.open_connection("127.0.0.1", port)
    try:
        for i in range(0, len(payload), piece):
            w.write(payload[i : i + piece])
            await w.drain()
            await asyncio.sleep(0.002)
        w.write_eof()
        reply = await asyncio.wait_for(r.read(), timeout=30)
    except (BrokenPipeError, ConnectionResetError):
        reply = b""  # the server dropped us mid-send
    w.close()
    frames = FrameScanner()
    frames.feed(reply)
    return [_decode_value(f, 0)[0] for f in frames.ready], frames.buffered


def _serve(tmp_path, name, payload, piece, **kw):
    async def scenario():
        srv = ForwardServer(str(tmp_path / name), **kw)
        await srv.start()
        try:
            replies = await _send_in_pieces(srv.port, payload, piece)
            await asyncio.sleep(0.05)
        finally:
            await srv.stop()
        return replies, srv.stats

    return asyncio.run(scenario())


def _spool_bytes(tmp_path, name, tag):
    with open(tmp_path / name / "000000" / f"{tag}.msgpack", "rb") as f:
        return f.read()


def test_large_forward_frame_in_64k_reads_acks_once_and_lands_identical(tmp_path):
    """A >1 MB Forward-mode chunk spanning many 64 KiB reads is decoded
    once and acked once, and lands the same bytes as a single write."""
    entries = _big_forward_entries()
    frame = _forward_frame("big.fwd", entries, option={"chunk": "big"})
    assert len(frame) >= 1 << 20
    (acks, tail), stats = _serve(tmp_path, "pieces", frame, 65536)
    assert acks == [{"ack": "big"}] and tail == 0
    assert stats["acks"] == 1 and stats["entries"] == len(entries)
    (acks1, _), _ = _serve(tmp_path, "whole", frame, len(frame))
    assert acks1 == [{"ack": "big"}]
    landed = _spool_bytes(tmp_path, "pieces", "big.fwd")
    assert landed == _spool_bytes(tmp_path, "whole", "big.fwd")
    assert landed == b"".join(encode_entry(t, r) for t, r in entries)


def test_frame_dribbled_one_byte_at_a_time_acks_once(tmp_path):
    """Every byte boundary is a read boundary, so splits fall inside the
    array32 header, the str8 length, the EventTime ext and a multi-byte
    UTF-8 character; the frame is still seen once, whole."""
    from fluent_server_spark.sources.forward_server import FrameScanner

    record = {"msg": "grüße " + "y" * 40, "n": 1}  # > 31 bytes: str8
    entry = _enc_array([encode_event_time(T0, 123_456_789), _enc_map(record)])
    frame = _enc_array([
        _enc_str("drib.tag"),
        b"\xdd" + struct.pack(">I", 1) + entry,  # array32 of one entry
        _enc_map({"chunk": "d1"}),
    ])
    for marker in (b"\xdd\x00\x00\x00\x01", b"\xd9", b"\xd7\x00", "ü".encode()):
        assert marker in frame

    frames = FrameScanner()
    for i in range(len(frame)):
        assert not frames.ready
        frames.feed(frame[i : i + 1])
    assert list(frames.ready) == [frame] and frames.buffered == 0

    (acks, tail), stats = _serve(tmp_path, "spool", frame, 1)
    assert acks == [{"ack": "d1"}] and tail == 0
    assert stats["entries"] == 1 and stats["acks"] == 1
    assert _spool_bytes(tmp_path, "spool", "drib.tag") == encode_entry(
        (T0, 123_456_789), record
    )


def test_two_frames_in_one_write_both_handled(tmp_path):
    both = (_message_frame("two.a", T0, {"n": 1}, option={"chunk": "a"})
            + _message_frame("two.a", T0 + 1, {"n": 2}, option={"chunk": "b"}))
    (acks, tail), stats = _serve(tmp_path, "spool", both, len(both))
    assert acks == [{"ack": "a"}, {"ack": "b"}] and tail == 0
    assert stats["entries"] == 2


def test_overflow_mid_frame_drops_connection(tmp_path):
    """max_buffer still bounds a frame the scanner is inside of (open
    containers on its stack), not only an unfinished payload."""
    head = b"\x93" + _enc_str("of.tag") + b"\xdd" + struct.pack(">I", 100_000)
    body = b"".join(encode_entry(T0, {"msg": "z" * 50}) for _ in range(200))
    (acks, _), stats = _serve(tmp_path, "spool", head + body, 1024, max_buffer=4096)
    assert acks == []
    assert stats["overflowed"] == 1 and stats["entries"] == 0


@pytest.mark.parametrize(
    "bad",
    [
        # Message mode whose record value is not UTF-8
        b"\x94" + _enc_str("bad.tag") + _enc_int(T0) + b"\x81\xa1k\xa2\xff\xfe"
        + _enc_map({"chunk": "x"}),
        _enc_array([_enc_str("tag.only")]),  # no entries at all
    ],
    ids=["invalid_utf8", "tag_only"],
)
def test_malformed_frame_drops_connection_at_once(tmp_path, bad):
    """A complete frame that can never be handled (a str that is not
    UTF-8, a frame without entries) drops the connection as soon as the
    frame is whole, not after max_buffer more bytes, and counts as
    malformed."""

    async def scenario():
        srv = ForwardServer(str(tmp_path / "spool"))
        await srv.start()
        try:
            r, w = await asyncio.open_connection("127.0.0.1", srv.port)
            w.write(bad)
            await w.drain()
            # no EOF from us: only the server can end this read
            rest = await asyncio.wait_for(r.read(), timeout=10)
            w.close()
            await asyncio.sleep(0.05)
        finally:
            await srv.stop()
        return rest, srv.stats

    rest, stats = asyncio.run(scenario())
    assert rest == b""
    assert stats["malformed"] == 1 and stats["entries"] == 0


def test_deep_nesting_rejected_with_bounded_stack(tmp_path):
    from fluent_server_spark.sources.fluentfile import MsgpackError
    from fluent_server_spark.sources.forward_server import FrameScanner

    frames = FrameScanner()
    with pytest.raises(MsgpackError, match="nests deeper"):
        frames.feed(b"\x91" * 10_000)
    assert len(frames._stack) == FrameScanner.MAX_DEPTH

    (acks, _), stats = _serve(tmp_path, "spool", b"\x91" * 10_000, 65536)
    assert acks == [] and stats["malformed"] == 1


def test_scanner_work_is_linear_in_frame_length():
    """Work count, not timing: over a frame arriving in N reads the
    scanner examines at most 2x the frame's bytes (re-decoding from the
    first byte after every read would examine about N/2 times them)."""
    from fluent_server_spark.sources.forward_server import FrameScanner

    frame = _forward_frame("w.tag", _big_forward_entries(), option={"chunk": "w"})
    frames = FrameScanner()
    reads = 0
    for i in range(0, len(frame), 65536):
        frames.feed(frame[i : i + 65536])
        reads += 1
    assert reads >= 16
    assert list(frames.ready) == [frame]
    assert frames.examined <= 2 * len(frame)


def test_udp_heartbeat_echoes():
    async def scenario():
        srv = ForwardServer("/tmp/unused-spool", heartbeat=True)
        await srv.start()
        try:
            port = srv.port
            loop = asyncio.get_running_loop()

            s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            s.setblocking(False)
            s.sendto(b"\x00", ("127.0.0.1", port))
            data = await asyncio.wait_for(loop.sock_recv(s, 16), timeout=5)
            s.close()
            return data
        finally:
            await srv.stop()

    assert asyncio.run(scenario()) == b"\x00"


def test_segment_rotation_keeps_tags_and_files_immutable(tmp_path):
    async def scenario():
        srv = ForwardServer(str(tmp_path / "spool"))
        await srv.start()
        try:
            cli = ForwardClient("127.0.0.1", srv.port)
            await cli.connect()
            await cli.send_raw(_message_frame("a.b", T0, {"n": 1}),)
            # ack barrier so the segment write precedes rotate()
            await cli.send_raw(
                _message_frame("a.b", T0 + 1, {"n": 2}, option={"chunk": "c"}),
                await_ack=True,
            )
            sealed = srv.rotate()
            await cli.send_raw(
                _message_frame("a.b", T0 + 2, {"n": 3}, option={"chunk": "c2"}),
                await_ack=True,
            )
            await cli.close()
            return sealed
        finally:
            await srv.stop()

    sealed = asyncio.run(scenario())
    import os

    root = tmp_path / "spool"
    assert sorted(os.listdir(root)) == [f"{sealed:06d}", f"{sealed + 1:06d}"]
    assert os.listdir(root / f"{sealed:06d}") == ["a.b.msgpack"]

    from fluent_server_spark.sources.fluentfile import decode_spool_blob

    with open(root / f"{sealed:06d}" / "a.b.msgpack", "rb") as f:
        first = list(decode_spool_blob(f.read()))
    with open(root / f"{sealed + 1:06d}" / "a.b.msgpack", "rb") as f:
        second = list(decode_spool_blob(f.read()))
    assert [r["n"] for _, _, r in first] == [1, 2]
    assert [r["n"] for _, _, r in second] == [3]


def test_tls_transport_round_trip(tmp_path):
    """TLS face (reference server/tls.go): a self-signed server cert,
    TLS-wrapped client, same protocol, events land in the spool."""
    import ssl
    import subprocess

    cert, key = str(tmp_path / "c.pem"), str(tmp_path / "k.pem")
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-keyout", key,
         "-out", cert, "-days", "1", "-nodes", "-subj", "/CN=localhost"],
        check=True, capture_output=True,
    )
    srv_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    srv_ctx.load_cert_chain(cert, key)
    cli_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
    cli_ctx.load_verify_locations(cert)
    cli_ctx.check_hostname = False

    async def scenario():
        srv = ForwardServer(str(tmp_path / "spool"), ssl_context=srv_ctx)
        await srv.start()
        try:
            cli = ForwardClient("127.0.0.1", srv.port, ssl_context=cli_ctx)
            assert await cli.connect()
            ack = await cli.send_raw(
                _message_frame("tls.tag", T0, {"n": 1}, option={"chunk": "c"}),
                await_ack=True,
            )
            assert ack == {"ack": "c"}
            await cli.close()
        finally:
            await srv.stop()
        return srv.stats

    stats = asyncio.run(scenario())
    assert stats["entries"] == 1 and stats["acks"] == 1


def test_wire_to_engine_end_to_end(spark, tmp_path, turns_pdf):
    """The full migration path a fluentd user runs: forward-protocol
    client -> TCP edge daemon -> sealed spool segments -> the streaming
    parse/enrich/route pipeline — routed per-sink counts equal routing
    the same turns directly in batch."""
    from fluent_server_spark.data.synth import ROUTE_RULE_ROWS, lookup_df
    from fluent_server_spark.functions.parse import parse_turns
    from fluent_server_spark.operators.enrich import enrich_turns
    from fluent_server_spark.operators.route import route_turns, rules_from_rows
    from fluent_server_spark.streaming.stream_pipeline import stream_spool_routed

    sample = turns_pdf.head(300)

    async def scenario():
        srv = ForwardServer(str(tmp_path / "spool"))
        await srv.start()
        try:
            cli = ForwardClient("127.0.0.1", srv.port)
            await cli.connect()
            # each conversation turn travels as a forward-mode entry
            entries = [
                (
                    int(row.ts.timestamp()),
                    {
                        "conv_id": row.conv_id,
                        "turn_idx": int(row.turn_idx),
                        "role": row.role,
                        "text": row.text,
                        "tool": row.tool,
                    },
                )
                for row in sample.itertuples()
            ]
            half = len(entries) // 2
            await cli.send_raw(
                _forward_frame("transcripts", entries[:half], option={"chunk": "a"}),
                await_ack=True,
            )
            srv.rotate()  # sealed segment -> visible to the file stream
            await cli.send_raw(
                _forward_frame("transcripts", entries[half:], option={"chunk": "b"}),
                await_ack=True,
            )
            srv.rotate()
            await cli.close()
        finally:
            await srv.stop()

    asyncio.run(scenario())

    routed = stream_spool_routed(spark, str(tmp_path / "spool" / "*"))
    q = (
        routed.select("conv_id", "turn_idx", "sink")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wire_e2e")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["sink"],): r["n"]
        for r in spark.sql(
            "SELECT sink, count(*) AS n FROM wire_e2e GROUP BY sink"
        ).collect()
    }

    direct = route_turns(
        enrich_turns(
            parse_turns(spark.createDataFrame(sample)), lookup_df(spark)
        ),
        rules_from_rows(ROUTE_RULE_ROWS),
    )
    want = {
        (r["sink"],): r["n"]
        for r in direct.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and sum(got.values()) == len(sample)


def test_cli_live_edge_end_to_end(spark, tmp_path, turns_pdf):
    """ONE CLI invocation (--live-edge) runs daemon + streaming spool
    tail + parquet sinks; counts for wire-fed turns must equal routing
    the same turns directly in batch (the documented drain story: stop
    listener -> final rotate -> processAllAvailable -> report)."""
    import json
    import os
    import subprocess
    import sys

    from fluent_server_spark.data.synth import ROUTE_RULE_ROWS, lookup_df
    from fluent_server_spark.functions.parse import parse_turns
    from fluent_server_spark.operators.enrich import enrich_turns
    from fluent_server_spark.operators.route import route_turns, rules_from_rows

    sample = turns_pdf.head(200)
    spool, sinks, ck = (str(tmp_path / x) for x in ("spool", "sinks", "ck"))
    env = {**os.environ, "PYTHONPATH": "/root/repo"}
    proc = subprocess.Popen(
        [sys.executable, "-m", "fluent_server_spark",
         "--live-edge", spool, "--sinks", sinks, "--checkpoint", ck,
         "--host", "127.0.0.1", "--port", "0", "--cpus", "4",
         "--rotate-seconds", "1.0", "--max-seconds", "35"],
        stdout=subprocess.PIPE, text=True, cwd="/root/repo", env=env,
    )
    try:
        banner = json.loads(proc.stdout.readline())
        port = banner["live_edge"]["port"]
        entries = [
            (
                int(row.ts.timestamp()),
                {
                    "conv_id": row.conv_id,
                    "turn_idx": int(row.turn_idx),
                    "role": row.role,
                    "text": row.text,
                    "tool": row.tool,
                },
            )
            for row in sample.itertuples()
        ]

        async def send():
            cli = ForwardClient("127.0.0.1", port)
            await cli.connect()
            half = len(entries) // 2
            a1 = await cli.send_raw(
                _forward_frame("transcripts", entries[:half],
                               option={"chunk": "a"}),
                await_ack=True,
            )
            a2 = await cli.send_raw(
                _forward_frame("transcripts", entries[half:],
                               option={"chunk": "b"}),
                await_ack=True,
            )
            await cli.close()
            return a1, a2

        assert asyncio.run(send()) == ({"ack": "a"}, {"ack": "b"})
        out, _ = proc.communicate(timeout=240)
        assert proc.returncode == 0
        final = json.loads(out.strip().splitlines()[-1])
        assert final["stats"]["entries"] == len(sample)
        got = final["sink_counts"]
    finally:
        if proc.poll() is None:
            proc.kill()

    direct = route_turns(
        enrich_turns(parse_turns(spark.createDataFrame(sample)), lookup_df(spark)),
        rules_from_rows(ROUTE_RULE_ROWS),
    )
    want = {
        r["sink"]: r["n"]
        for r in direct.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and sum(got.values()) == len(sample)


def test_cli_forward_server_mode(tmp_path):
    """`python -m fluent_server_spark --forward-server DIR --max-seconds N`
    runs the daemon (no Spark), accepts events, and exits cleanly."""
    import json
    import subprocess
    import sys
    import time

    proc = subprocess.Popen(
        [sys.executable, "-m", "fluent_server_spark",
         "--forward-server", str(tmp_path / "spool"),
         "--host", "127.0.0.1", "--port", "0", "--max-seconds", "4"],
        stdout=subprocess.PIPE, text=True, cwd="/root/repo",
    )
    try:
        banner = json.loads(proc.stdout.readline())
        port = banner["forward_server"]["port"]

        async def send():
            cli = ForwardClient("127.0.0.1", port)
            await cli.connect()
            ack = await cli.send_raw(
                _message_frame("cli.tag", T0, {"n": 1}, option={"chunk": "c"}),
                await_ack=True,
            )
            await cli.close()
            return ack

        assert asyncio.run(send()) == {"ack": "c"}
        out, _ = proc.communicate(timeout=30)
        stats = json.loads(out.strip().splitlines()[-1])["stats"]
        assert stats["entries"] == 1
        assert proc.returncode == 0
    finally:
        if proc.poll() is None:
            proc.kill()
    spools = list((tmp_path / "spool").rglob("cli.tag.msgpack"))
    assert len(spools) == 1


def test_crash_leftover_open_segment_sealed_on_restart(spark, tmp_path):
    """A hidden_active daemon that dies WITHOUT a final rotate (SIGKILL/
    OOM/power loss) leaves an `_open_NNNNNN` working dir whose entries
    were already ACKed to clients — and the underscore prefix hides it
    from every batch scan and streaming tail forever. start() must seal
    the leftover (no acked data lost) and number past it."""

    async def crash_run():
        srv = ForwardServer(str(tmp_path / "spool"), hidden_active=True)
        await srv.start()
        try:
            cli = ForwardClient("127.0.0.1", srv.port)
            await cli.connect()
            ack = await cli.send_raw(
                _message_frame("t.a", T0, {"gen": 0}, option={"chunk": "x"}),
                await_ack=True,
            )
            assert ack == {"ack": "x"}
            await cli.close()
        finally:
            await srv.stop()  # NO rotate — simulates dying mid-epoch

    asyncio.run(crash_run())
    assert [p.name for p in (tmp_path / "spool").iterdir()] == ["_open_000000"]

    async def restart_run():
        srv = ForwardServer(str(tmp_path / "spool"), hidden_active=True)
        await srv.start()
        try:
            assert srv._segment == 1  # numbered past the sealed leftover
            cli = ForwardClient("127.0.0.1", srv.port)
            await cli.connect()
            await cli.send_raw(_message_frame("t.a", T0 + 1, {"gen": 1}))
            await cli.close()
            await asyncio.sleep(0.1)
        finally:
            await srv.stop()
            srv.rotate()

    asyncio.run(restart_run())
    segs = sorted(p.name for p in (tmp_path / "spool").iterdir())
    assert segs == ["000000", "000001"], segs

    from fluent_server_spark.sources.fluentfile import read_spool_files

    rows = read_spool_files(spark, str(tmp_path / "spool" / "*")).collect()
    assert sorted(r["record"]["gen"] for r in rows) == ["0", "1"]


def test_stop_terminates_idle_inflight_connections(tmp_path):
    """stop() must not rely on wait_closed() waiting for in-flight
    handlers (only true on Python >= 3.12.1, gh-104344): it closes live
    transports and awaits the handler tasks explicitly, so stop()
    returning guarantees no further appends on every runtime."""

    async def scenario():
        srv = ForwardServer(str(tmp_path / "spool"))
        await srv.start()
        r, w = await asyncio.open_connection("127.0.0.1", srv.port)
        await asyncio.sleep(0.05)  # let the handler task start
        assert len(srv._conn_tasks) == 1
        await asyncio.wait_for(srv.stop(), timeout=5)  # idle client must not hang it
        assert not srv._conn_tasks and not srv._conn_writers
        assert await r.read() == b""  # server hung up; client sees EOF
        w.close()

    asyncio.run(scenario())


def test_cli_live_edge_kill9_crash_recovery(spark, tmp_path, turns_pdf):
    """The end-to-end exactly-once claim under a hard crash: the whole
    live-edge process tree is SIGKILLed mid-epoch with acked chunks in
    flight, then restarted on the same spool/checkpoint/sinks. No acked
    entry may be lost (start() seals the leftover `_open_` segment) and
    no segment may be double-ingested (stream checkpoint skips files the
    first life already read; the file-sink manifest governs reads)."""
    import json
    import os
    import signal as _signal
    import subprocess
    import sys

    from fluent_server_spark.data.synth import ROUTE_RULE_ROWS, lookup_df
    from fluent_server_spark.functions.parse import parse_turns
    from fluent_server_spark.operators.enrich import enrich_turns
    from fluent_server_spark.operators.route import route_turns, rules_from_rows

    sample = turns_pdf.head(200)
    spool, sinks, ck = (str(tmp_path / x) for x in ("spool", "sinks", "ck"))
    env = {**os.environ, "PYTHONPATH": "/root/repo"}

    def argv(max_seconds):
        return [sys.executable, "-m", "fluent_server_spark",
                "--live-edge", spool, "--sinks", sinks, "--checkpoint", ck,
                "--host", "127.0.0.1", "--port", "0", "--cpus", "4",
                "--rotate-seconds", "1.0", "--max-seconds", str(max_seconds)]

    entries = [
        (
            int(row.ts.timestamp()),
            {
                "conv_id": row.conv_id,
                "turn_idx": int(row.turn_idx),
                "role": row.role,
                "text": row.text,
                "tool": row.tool,
            },
        )
        for row in sample.itertuples()
    ]

    # life 1: acked chunk a (sealed by the rotate timer, likely committed
    # by the stream), acked chunk b (still in an _open_ working dir) —
    # then SIGKILL the whole process group (python driver + JVM), so
    # nothing drains and no final rotate runs
    proc = subprocess.Popen(
        argv(300), stdout=subprocess.PIPE, text=True, cwd="/root/repo",
        env=env, start_new_session=True,
    )
    try:
        banner = json.loads(proc.stdout.readline())
        port = banner["live_edge"]["port"]

        async def send():
            cli = ForwardClient("127.0.0.1", port)
            await cli.connect()
            half = len(entries) // 2
            a1 = await cli.send_raw(
                _forward_frame("transcripts", entries[:half],
                               option={"chunk": "a"}),
                await_ack=True,
            )
            # let the rotate timer seal chunk a's segment so the kill
            # exercises BOTH paths: replay-skip for a sealed (possibly
            # committed) segment, leftover-seal for the open one
            await asyncio.sleep(2.5)
            a2 = await cli.send_raw(
                _forward_frame("transcripts", entries[half:],
                               option={"chunk": "b"}),
                await_ack=True,
            )
            return a1, a2

        assert asyncio.run(send()) == ({"ack": "a"}, {"ack": "b"})
    finally:
        os.killpg(os.getpgid(proc.pid), _signal.SIGKILL)
        proc.wait(timeout=30)

    segs = sorted(p.name for p in (tmp_path / "spool").iterdir())
    assert segs, "chunks were acked, so spool segments must exist"

    # life 2: same spool/sinks/checkpoint, no new data, bounded run —
    # the restart must seal leftovers, drain everything, and report
    # counts equal to routing the same turns directly in batch
    proc2 = subprocess.Popen(
        argv(20), stdout=subprocess.PIPE, text=True, cwd="/root/repo", env=env,
    )
    try:
        json.loads(proc2.stdout.readline())  # banner
        out, _ = proc2.communicate(timeout=240)
        assert proc2.returncode == 0
        final = json.loads(out.strip().splitlines()[-1])
        got = final["sink_counts"]
    finally:
        if proc2.poll() is None:
            proc2.kill()

    assert not any(
        p.name.startswith("_open_") for p in (tmp_path / "spool").iterdir()
    ), "restart must have sealed every leftover working dir"

    direct = route_turns(
        enrich_turns(parse_turns(spark.createDataFrame(sample)), lookup_df(spark)),
        rules_from_rows(ROUTE_RULE_ROWS),
    )
    want = {
        r["sink"]: r["n"]
        for r in direct.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and sum(got.values()) == len(sample)


def test_cli_live_edge_dedup_on_ingest(spark, tmp_path, turns_pdf):
    """--live-edge --dedup-index: the full deployment composition —
    daemon + streaming route + minhash dedup against a persisted corpus
    index + sinks, one CLI invocation. Turns whose text near-dups the
    standing corpus land in sink_duplicates; everything else routes
    normally; nothing is lost. Expected flags come from running the
    SAME batch operator on the same turns (stream == batch, the
    repo-wide equality stance)."""
    import json
    import os
    import subprocess
    import sys

    from fluent_server_spark.operators.dedup import (
        minhash_lsh_pairs_against,
        write_minhash_index,
    )

    sample = turns_pdf.head(120)
    # standing corpus: the texts of the first 30 turns (plus filler) —
    # any sent turn re-using one of those texts is a near-dup by design
    corpus_rows = [
        (i, t) for i, t in enumerate(sample.head(30)["text"].tolist())
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    idx = str(tmp_path / "corpus_idx")
    write_minhash_index(corpus, idx)

    spool, sinks, ck = (str(tmp_path / x) for x in ("spool", "sinks", "ck"))
    env = {**os.environ, "PYTHONPATH": "/root/repo"}
    proc = subprocess.Popen(
        [sys.executable, "-m", "fluent_server_spark",
         "--live-edge", spool, "--sinks", sinks, "--checkpoint", ck,
         "--dedup-index", idx, "--dedup-threshold", "0.5",
         "--host", "127.0.0.1", "--port", "0", "--cpus", "4",
         "--rotate-seconds", "1.0", "--max-seconds", "40"],
        stdout=subprocess.PIPE, text=True, cwd="/root/repo", env=env,
    )
    try:
        banner = json.loads(proc.stdout.readline())
        port = banner["live_edge"]["port"]
        entries = [
            (
                int(row.ts.timestamp()),
                {
                    "conv_id": row.conv_id,
                    "turn_idx": int(row.turn_idx),
                    "role": row.role,
                    "text": row.text,
                    "tool": row.tool,
                },
            )
            for row in sample.itertuples()
        ]

        async def send():
            cli = ForwardClient("127.0.0.1", port)
            await cli.connect()
            ack = await cli.send_raw(
                _forward_frame("transcripts", entries, option={"chunk": "c"}),
                await_ack=True,
            )
            await cli.close()
            return ack

        assert asyncio.run(send()) == {"ack": "c"}
        out, _ = proc.communicate(timeout=240)
        assert proc.returncode == 0
        final = json.loads(out.strip().splitlines()[-1])
        got = final["sink_counts"]
    finally:
        if proc.poll() is None:
            proc.kill()

    # expected: batch replay of the identical dedup decision
    keyed = spark.createDataFrame(sample).select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias(
            "doc_id"
        ),
        "text",
    )
    dup_keys = {
        r["new_id"]
        for r in minhash_lsh_pairs_against(
            keyed, corpus_index=idx, threshold=0.5
        ).collect()
    }
    assert len(dup_keys) >= 30  # the 30 re-used texts must all flag
    assert got.get("sink_duplicates", 0) == len(dup_keys)
    assert sum(got.values()) == len(sample)  # nothing lost, nothing duped


def test_cli_live_edge_dedup_kill9_exactly_once(spark, tmp_path, turns_pdf):
    """Hard-crash exactly-once for the dedup-ingest composition: SIGKILL
    the --dedup-index live edge mid-epoch with acked chunks in flight,
    restart on the same spool/checkpoint/sinks — the replayed epoch
    OVERWRITES its own dir (never appends), leftover segments seal, and
    final counts equal the batch decision on the same turns."""
    import json
    import os
    import signal as _signal
    import subprocess
    import sys

    from fluent_server_spark.operators.dedup import (
        minhash_lsh_pairs_against,
        write_minhash_index,
    )

    sample = turns_pdf.head(160)
    corpus_rows = [(i, t) for i, t in enumerate(sample.head(25)["text"].tolist())]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    idx = str(tmp_path / "corpus_idx")
    write_minhash_index(corpus, idx)

    spool, sinks, ck = (str(tmp_path / x) for x in ("spool", "sinks", "ck"))
    env = {**os.environ, "PYTHONPATH": "/root/repo"}

    def argv(max_seconds):
        return [sys.executable, "-m", "fluent_server_spark",
                "--live-edge", spool, "--sinks", sinks, "--checkpoint", ck,
                "--dedup-index", idx, "--dedup-threshold", "0.5",
                "--host", "127.0.0.1", "--port", "0", "--cpus", "4",
                "--rotate-seconds", "1.0", "--max-seconds", str(max_seconds)]

    entries = [
        (
            int(row.ts.timestamp()),
            {
                "conv_id": row.conv_id,
                "turn_idx": int(row.turn_idx),
                "role": row.role,
                "text": row.text,
                "tool": row.tool,
            },
        )
        for row in sample.itertuples()
    ]

    proc = subprocess.Popen(
        argv(300), stdout=subprocess.PIPE, text=True, cwd="/root/repo",
        env=env, start_new_session=True,
    )
    try:
        banner = json.loads(proc.stdout.readline())
        port = banner["live_edge"]["port"]

        async def send():
            cli = ForwardClient("127.0.0.1", port)
            await cli.connect()
            half = len(entries) // 2
            a1 = await cli.send_raw(
                _forward_frame("transcripts", entries[:half],
                               option={"chunk": "a"}),
                await_ack=True,
            )
            await asyncio.sleep(2.5)  # rotate timer seals chunk a
            a2 = await cli.send_raw(
                _forward_frame("transcripts", entries[half:],
                               option={"chunk": "b"}),
                await_ack=True,
            )
            return a1, a2

        assert asyncio.run(send()) == ({"ack": "a"}, {"ack": "b"})
    finally:
        os.killpg(os.getpgid(proc.pid), _signal.SIGKILL)
        proc.wait(timeout=30)

    proc2 = subprocess.Popen(
        argv(25), stdout=subprocess.PIPE, text=True, cwd="/root/repo", env=env,
    )
    try:
        json.loads(proc2.stdout.readline())  # banner
        out, _ = proc2.communicate(timeout=240)
        assert proc2.returncode == 0
        final = json.loads(out.strip().splitlines()[-1])
        got = final["sink_counts"]
    finally:
        if proc2.poll() is None:
            proc2.kill()

    keyed = spark.createDataFrame(sample).select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias(
            "doc_id"
        ),
        "text",
    )
    dup_keys = {
        r["new_id"]
        for r in minhash_lsh_pairs_against(
            keyed, corpus_index=idx, threshold=0.5
        ).collect()
    }
    assert got.get("sink_duplicates", 0) == len(dup_keys)
    assert sum(got.values()) == len(sample)


def test_cli_live_edge_curate_stream(spark, tmp_path, turns_pdf):
    """ONE CLI invocation, wire -> curated parquet (--live-edge
    --curate-stream): forward daemon + streaming route + landed sinks,
    then the streaming curate chain drains those sinks against frozen
    corpus artifacts. The curated survivor TEXT set must equal the
    batch composition (route + the same turn->doc transform +
    curate_batch over the same turns and artifacts): fingerprint-set
    equality is batching-invariant — each distinct text survives the
    exact-dedup stage exactly once however the epochs split, and the
    near-dup + quality-band stages are per-doc stateless."""
    import json
    import os
    import subprocess
    import sys

    import pandas as pd

    from fluent_server_spark.data.synth import (
        QUARANTINE_SINK,
        ROUTE_RULE_ROWS,
        lookup_df,
    )
    from fluent_server_spark.functions.parse import parse_turns
    from fluent_server_spark.functions.text import md5_fingerprint
    from fluent_server_spark.operators.enrich import enrich_turns
    from fluent_server_spark.operators.route import route_turns, rules_from_rows
    from fluent_server_spark.streaming.curate_stream import (
        curate_batch,
        freeze_curate_model,
        read_curated,
    )

    sample = turns_pdf.head(120)
    # reference corpus: a DISJOINT slice of turn texts, so the frozen
    # band is trained on the same text family the wire delivers
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(turns_pdf.iloc[300:420]["text"])],
        "doc_id long, text string",
    )
    corpus_path = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(corpus_path)

    spool, sinks, ck, cur = (
        str(tmp_path / x) for x in ("spool", "sinks", "ck", "curated")
    )
    env = {**os.environ, "PYTHONPATH": "/root/repo"}
    proc = subprocess.Popen(
        [sys.executable, "-m", "fluent_server_spark",
         "--live-edge", spool, "--sinks", sinks, "--checkpoint", ck,
         "--curate-stream", cur, "--curate-corpus", corpus_path,
         "--dedup-threshold", "0.9",
         "--host", "127.0.0.1", "--port", "0", "--cpus", "4",
         "--rotate-seconds", "1.0", "--max-seconds", "30"],
        stdout=subprocess.PIPE, text=True, cwd="/root/repo", env=env,
    )
    try:
        banner = json.loads(proc.stdout.readline())
        port = banner["live_edge"]["port"]
        entries = [
            (
                int(row.ts.timestamp()),
                {
                    "conv_id": row.conv_id,
                    "turn_idx": int(row.turn_idx),
                    "role": row.role,
                    "text": row.text,
                    "tool": row.tool,
                },
            )
            for row in sample.itertuples()
        ]

        async def send():
            cli = ForwardClient("127.0.0.1", port)
            await cli.connect()
            a1 = await cli.send_raw(
                _forward_frame("transcripts", entries, option={"chunk": "a"}),
                await_ack=True,
            )
            # chunk b RESENDS the first 30 entries — wire-level exact
            # duplicates the curate chain (not the router) must collapse
            a2 = await cli.send_raw(
                _forward_frame("transcripts", entries[:30],
                               option={"chunk": "b"}),
                await_ack=True,
            )
            await cli.close()
            return a1, a2

        assert asyncio.run(send()) == ({"ack": "a"}, {"ack": "b"})
        out, _ = proc.communicate(timeout=420)
        assert proc.returncode == 0
        final = json.loads(out.strip().splitlines()[-1])
        man = final["curate_stream"]
        landed_nonq = sum(
            n for s, n in final["sink_counts"].items() if s != QUARANTINE_SINK
        )
        # curate input counts candidates (quarantine excluded, resent
        # byte-identical rows collapsed per epoch); the per-epoch
        # distinct() cannot collapse copies the drain split ACROSS
        # epochs, so the sum is bounded by [global distinct, landed]
        assert man["stages"]["input"] <= landed_nonq
        assert man["survivors"] >= 1
    finally:
        if proc.poll() is None:
            proc.kill()

    # batch oracle: the same turns (including the 30 resent), the same
    # turn->doc transform as the CLI, the same frozen artifacts
    wire_pdf = pd.concat([sample, sample.head(30)], ignore_index=True)
    routed = route_turns(
        enrich_turns(
            parse_turns(spark.createDataFrame(wire_pdf)), lookup_df(spark)
        ),
        rules_from_rows(ROUTE_RULE_ROWS),
    )
    docs = (
        routed.filter(F.col("sink") != QUARANTINE_SINK)
        .distinct()  # the CLI's value-level collapse of wire resends
        .withColumn("doc_id", F.xxhash64("conv_id", "turn_idx"))
    )
    model, lo, hi = freeze_curate_model(corpus)
    survivors, stages = curate_batch(
        docs, corpus_index=f"{cur}/index", model=model, lo=lo, hi=hi,
        threshold=0.9,
    )
    want_fps = {
        r["fp"]
        for r in survivors.select(
            md5_fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    got_fps = {
        r["fp"]
        for r in read_curated(spark, f"{cur}/curated")
        .select(md5_fingerprint(F.col("text")).alias("fp"))
        .collect()
    }
    assert got_fps == want_fps
    assert man["survivors"] == len(got_fps)
    assert man["stages"]["input"] >= docs.count()
