"""Fluent spool-file source: byte-level codec pins + Spark round-trip.

The byte fixtures mirror the reference's decode contract
(message/entry.go:11-35 [time, map] fixarray; message/time.go:31-53
EventTime ext(0) BE sec+nsec; defaultreader/reader.go:51-77 concatenated
entries, optional gzip)."""

from __future__ import annotations

import gzip

import pytest

from fluent_server_spark.sources.fluentfile import (
    _enc_int,
    decode_spool_blob,
    encode_entry,
    encode_event_time,
    read_spool_files,
    write_spool_file,
)


def test_event_time_bytes_literal():
    # fixext8, type 0, BE u32 sec, BE u32 nsec — the exact layout
    # message/time.go:50-52 reads back
    assert encode_event_time(1, 2) == bytes(
        [0xD7, 0x00, 0, 0, 0, 1, 0, 0, 0, 2]
    )


def test_entry_roundtrip_bytes_literal():
    # [1234567890, {"k": "v"}] — hand-assembled per the msgpack spec
    blob = encode_entry(1234567890, {"k": "v"})
    assert blob == bytes([0x92, 0xCE, 0x49, 0x96, 0x02, 0xD2, 0x81, 0xA1])\
        + b"k" + bytes([0xA1]) + b"v"
    [(sec, nsec, rec)] = list(decode_spool_blob(blob))
    assert (sec, nsec, rec) == (1234567890, 0, {"k": "v"})


def test_eventtime_nanosecond_fidelity():
    blob = encode_entry((1700000000, 987654321), {"a": 1})
    [(sec, nsec, rec)] = list(decode_spool_blob(blob))
    assert (sec, nsec) == (1700000000, 987654321)  # lossless ns
    assert rec == {"a": 1}


def test_concatenated_and_gzip_blobs(tmp_path):
    entries = [
        (1700000000, {"level": "INFO", "n": 1}),
        ((1700000001, 500), {"level": "WARN", "msg": "x y z"}),
        (1700000002, {"level": "ERROR", "ok": False, "nil": None}),
    ]
    raw = write_spool_file(str(tmp_path / "app.web.msgpack"), entries)
    gz = write_spool_file(
        str(tmp_path / "app.web2.msgpack.gz"), entries, compress=True
    )
    got_raw = list(decode_spool_blob(open(raw, "rb").read()))
    got_gz = list(decode_spool_blob(open(gz, "rb").read()))
    assert got_raw == got_gz
    assert got_raw[1][1] == 500 and got_raw[1][2]["msg"] == "x y z"
    # deterministic gzip bytes (mtime pinned) — fixture stability
    assert open(gz, "rb").read() == gzip.compress(open(raw, "rb").read(), mtime=0)


def test_spark_read_spool_files(spark, tmp_path):
    t0 = 1_700_000_000
    write_spool_file(
        str(tmp_path / "svc.alpha.msgpack"),
        [((t0 + i, 123456789 + i), {"level": "INFO", "i": i}) for i in range(5)],
    )
    write_spool_file(
        str(tmp_path / "svc.beta.msgpack.gz"),
        [(t0 + 100 + i, {"level": "WARN", "i": i}) for i in range(3)],
        compress=True,
    )
    open(tmp_path / "svc.empty.msgpack", "wb").close()  # zero rows
    df = read_spool_files(spark, str(tmp_path)).orderBy("tag", "ts")
    rows = df.collect()
    assert len(rows) == 8
    alpha = [r for r in rows if r.tag == "svc.alpha"]
    beta = [r for r in rows if r.tag == "svc.beta"]
    assert len(alpha) == 5 and len(beta) == 3
    # ns fidelity: ts truncates to µs, ts_nsec carries the full value
    assert alpha[0].ts_nsec == 123456789
    assert alpha[0].ts.microsecond == 123456
    assert int(alpha[0].ts.timestamp()) == t0
    assert alpha[0].record["level"] == "INFO" and alpha[0].record["i"] == "0"
    assert beta[2].record == {"level": "WARN", "i": "2"}


def test_bad_blob_raises(tmp_path):
    from fluent_server_spark.sources.fluentfile import MsgpackError

    with pytest.raises(MsgpackError):
        list(decode_spool_blob(bytes([0x91, 0x01])))  # fixarray(1), not an entry
    with pytest.raises(MsgpackError):
        list(decode_spool_blob(bytes([0xC1])))  # reserved code


def test_fluent_file_source_feeds_pipeline_schema(spark, tmp_path):
    """registry 'fluent-file' source: spool entries -> canonical turns
    schema, ready for the full parse->route pipeline."""
    from fluent_server_spark.sources.registry import load_turns

    entries = [
        (
            (1_700_000_000 + i, 42),
            {
                "conv_id": f"c{i % 2}",
                "turn_idx": i,
                "role": "assistant",
                "text": f'level=INFO component=planner msg="s{i}" dur_ms={i} tokens=1',
                "tool": "search",
            },
        )
        for i in range(6)
    ]
    write_spool_file(str(tmp_path / "conv.alpha.msgpack"), entries)
    turns = load_turns(spark, "fluent-file", str(tmp_path))
    assert [f.name for f in turns.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    rows = turns.orderBy("turn_idx").collect()
    assert len(rows) == 6 and rows[3].conv_id == "c1" and rows[3].turn_idx == 3

    from fluent_server_spark.functions.parse import parse_turns

    parsed = parse_turns(turns).select("parsed.*").collect()
    assert all(r.parse_ok for r in parsed)


def test_committed_spool_fixture_matches_regenerated(tmp_path):
    """The committed fixture bytes (fluent_server_spark/data/spool_fixture,
    read by the driver query with ZERO runtime writes) must equal a fresh
    deterministic regeneration — codec drift cannot silently stale them."""
    import os

    from fluent_server_spark.queries.spool import FIXTURE_DIR, materialize_fixture

    names = materialize_fixture(str(tmp_path))
    assert sorted(names) == sorted(os.listdir(FIXTURE_DIR))
    for name in names:
        with open(os.path.join(FIXTURE_DIR, name), "rb") as f:
            committed = f.read()
        with open(tmp_path / name, "rb") as f:
            regenerated = f.read()
        assert committed == regenerated, f"fixture drift in {name}"


# ------------------------------------------------ Arrow decode parity
# decode_spool_batch builds Arrow columns directly; the reference below is
# the per-row decode it replaced (pd.Timestamp + Timedelta and a str()'d
# dict per entry), kept here so the two must agree row for row.

T0 = 1_700_000_000


def _reference_rows(path, blob):
    import pandas as pd

    from fluent_server_spark.sources.fluentfile import _tag_from_path

    return [
        {
            "tag": _tag_from_path(path),
            "ts": pd.Timestamp(sec, unit="s") + pd.Timedelta(nsec // 1000, unit="us"),
            "ts_nsec": nsec,
            "record": list(
                {str(k): (None if v is None else str(v)) for k, v in rec.items()}.items()
            ),
        }
        for sec, nsec, rec in decode_spool_blob(blob)
    ]


def _assert_parity(files):
    from fluent_server_spark.sources.fluentfile import decode_spool_batch

    paths = [p for p, _ in files]
    blobs = [b for _, b in files]
    got = decode_spool_batch(paths, blobs).to_pylist()
    want = [row for p, b in files for row in _reference_rows(p, b)]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["ts"] == w["ts"].to_pydatetime()
        assert (g["tag"], g["ts_nsec"], g["record"]) == (w["tag"], w["ts_nsec"], w["record"])
    return got


def test_arrow_decode_matches_per_row_reference_for_every_value_type():
    values = {
        "none": None, "t": True, "f": False, "zero": 0, "neg": -33,
        "neg64": -(1 << 40), "u64": (1 << 64) - 1, "pi": 3.141592653589793,
        "big": 1e20, "tiny": -2.5e-300, "nan": float("nan"), "inf": float("inf"),
        "s": "plain", "u": "grüße — ünïcode", "empty": "", "long": "x" * 70_000,
    }
    blob = b"".join(
        encode_entry(ts, values)
        for ts in (T0, (T0 + 1, 999_999_999), (T0 + 2, 1), 0, -5, (1 << 32) - 1)
    )
    got = _assert_parity([("/spool/000001/app.all.msgpack", blob)])
    rec = dict(got[0]["record"])
    assert rec["none"] is None and rec["t"] == "True" and rec["u64"] == str((1 << 64) - 1)
    assert rec["nan"] == "nan" and rec["big"] == "1e+20"


def test_arrow_decode_repeated_and_non_str_keys_keep_last_value():
    # map of 3 pairs: "a" -> 1, "a" -> 2, int key 7 -> "x"; then an entry
    # whose int key 1 and str key "1" collide once stringified
    e1 = b"\x92" + _enc_int(T0) + b"\x83" + b"\xa1a\x01" + b"\xa1a\x02" + b"\x07\xa1x"
    e2 = b"\x92" + _enc_int(T0) + b"\x82" + b"\x01\xa1p" + b"\xa11\xa1q"
    got = _assert_parity([("dup.msgpack", e1 + e2)])
    assert got[0]["record"] == [("a", "2"), ("7", "x")]
    assert got[1]["record"] == [("1", "q")]


def test_arrow_decode_empty_files_give_zero_rows():
    got = _assert_parity([("a.msgpack", b""), ("b.msgpack.gz", gzip.compress(b"", mtime=0))])
    assert got == []


@pytest.mark.parametrize(
    "ts", [1 << 40, -(1 << 40), (1 << 64) - 1, (T0, 1_000_000_000)]
)
def test_arrow_decode_out_of_range_time_fails_loudly(ts):
    from fluent_server_spark.sources.fluentfile import MsgpackError, decode_spool_batch

    blob = encode_entry(T0, {"ok": 1}) + encode_entry(ts, {"bad": 1})
    with pytest.raises(MsgpackError, match="time"):
        decode_spool_batch(["t.msgpack"], [blob])


def test_arrow_decode_gzip_and_eventtime_nanoseconds_round_trip():
    entries = [((T0 + i, 999_999_999 - i), {"i": i}) for i in range(3)] + [(T0 + 9, {"i": 9})]
    raw = b"".join(encode_entry(t, r) for t, r in entries)
    got = _assert_parity(
        [("svc.raw.msgpack", raw), ("svc.gz.msgpack.gz", gzip.compress(raw, mtime=0))]
    )
    assert [r["tag"] for r in got] == ["svc.raw"] * 4 + ["svc.gz"] * 4
    assert [r["ts_nsec"] for r in got[:4]] == [999_999_999, 999_999_998, 999_999_997, 0]
    assert [{**r, "tag": "svc.raw"} for r in got[4:]] == got[:4]
