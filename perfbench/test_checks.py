"""The benchmark's checkers accept intact output and report damaged output.

    python3 -m pytest perfbench/test_checks.py -q

Each test builds the output a correct pass would leave (from the
generators' own expectations, without Spark), checks that it passes, then
damages it the way a faulty program could and checks that it is reported.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import gen
import msgpack_lite as mp


@pytest.fixture()
def con():
    c = duckdb.connect()
    yield c
    c.close()


def _write_sinks(root, df):
    """Hive layout sink=<s>/bucket=<b>/part.parquet, two buckets per sink."""
    for (sink, bucket), part in df.groupby([df.expected_sink, df.turn_idx % 2]):
        d = os.path.join(root, f"sink={sink}", f"bucket={bucket}")
        os.makedirs(d)
        pq.write_table(pa.Table.from_pandas(part[["conv_id", "turn_idx"]], preserve_index=False),
                       os.path.join(d, "part-0.parquet"))


def test_sinks_dropped_file_and_misrouted_rows(tmp_path, con):
    df = gen.turns(3, 3000, 40)
    root = str(tmp_path / "sinks")
    _write_sinks(root, df)
    problems, per_sink = checks.check_sinks(con, root, df)
    assert problems == []
    assert sum(n for n, _ in per_sink.values()) == len(df)
    assert per_sink["sink_quarantine"][0] == int(df.malformed.sum())

    os.remove(os.path.join(root, "sink=sink_user", "bucket=0", "part-0.parquet"))
    problems, _ = checks.check_sinks(con, root, df)
    assert any("rows, input had" in p for p in problems)
    assert any("off their labelled sink" in p for p in problems)

    # malformed rows landing in a regular sink instead of quarantine
    bad = df.copy()
    bad.loc[bad.malformed, "expected_sink"] = "sink_default"
    root2 = str(tmp_path / "sinks2")
    _write_sinks(root2, bad)
    problems, _ = checks.check_sinks(con, root2, df)
    assert any("planted malformed" in p for p in problems)


def test_checkpoint_counts_must_match_read_back(tmp_path):
    per_sink = {"sink_user": (10, 3), "sink_default": (5, 2)}
    path = tmp_path / "ckpt.jsonl"
    rec = {"run_id": "r1", "n_rows": 15, "sink_counts": {"sink_user": 10, "sink_default": 5,
                                                          "sink_errors": 0}}
    path.write_text(json.dumps(rec) + "\n")
    assert checks.check_checkpoint(str(path), "r1", per_sink) == []
    rec["n_rows"], rec["sink_counts"]["sink_user"] = 14, 9
    path.write_text(json.dumps(rec) + "\n")
    assert len(checks.check_checkpoint(str(path), "r1", per_sink)) == 2
    assert checks.check_checkpoint(str(path), "r2", per_sink) != []


def _spool(tmp_path, chunks, name="land"):
    seg = tmp_path / name / "000000"
    seg.mkdir(parents=True)
    for tag, entries in chunks:
        with open(seg / f"{tag}.msgpack", "ab") as f:
            f.write(b"".join(mp.pack(e) for e in entries))
    return str(tmp_path / name)


def test_spool_duplicated_and_missing_chunk(tmp_path):
    df = gen.turns(4, 600, 10)
    recs = [{"conv_id": c, "turn_idx": int(t), "text": x} for c, t, x in zip(df.conv_id, df.turn_idx, df.text)]
    chunks = [(f"agent0.app{j % 3}", [[mp.event_time(1_704_067_200 + i, 7), recs[i]]
                                      for i in range(j * 100, j * 100 + 100)]) for j in range(6)]
    sent = checks.sent_entries(chunks)
    assert checks.check_spool(_spool(tmp_path, chunks, "ok"), sent) == []
    dup = checks.check_spool(_spool(tmp_path, chunks + [chunks[2]], "dup"), sent)
    assert any("landed twice" in p for p in dup)
    gone = checks.check_spool(_spool(tmp_path, chunks[:-1], "gone"), sent)
    assert any("missing from the spool" in p for p in gone)


def test_acks_report_unacked_and_wrong_ids():
    ok = {"chunks": 5, "acked": 5, "bad_ack": 0, "errors": []}
    assert checks.check_acks(ok) == []
    assert len(checks.check_acks({"chunks": 5, "acked": 3, "bad_ack": 2, "errors": []})) == 2
    # a connection that timed out waiting for its ack
    lost = checks.check_acks({"chunks": 5, "acked": 4, "bad_ack": 0,
                              "errors": ["TimeoutError: "]})
    assert any("acked with their id" in p for p in lost)
    assert any("connection ended" in p for p in lost)


def _keepers(plants):
    return [min(g) for g in plants["singles"]] + [min(c) for c in plants["clusters"]]


def test_neardup_wrongly_merged_cluster():
    plants = gen.docs(5, 300)
    keep = _keepers(plants)
    assert checks.check_neardup(keep, plants) == []
    assert checks.check_exact(len(plants["singles"]) + sum(map(len, plants["clusters"])), plants) == []
    # a distinct single merged away into a cluster
    merged = [i for i in keep if i != min(plants["singles"][0])]
    assert any("singles groups" in p for p in checks.check_neardup(merged, plants))
    # a cluster that kept two members
    split = keep + [max(plants["clusters"][0])]
    assert any("clusters groups" in p for p in checks.check_neardup(split, plants))
    assert checks.check_exact(len(keep), plants) != []


def test_band_and_splits(tmp_path, con):
    plants = gen.docs(6, 400)
    kept = _keepers(plants)
    nll = checks.unigram_nll(plants["words"], kept)
    lo, hi = np.quantile(list(nll.values()), [0.1, 0.9])
    band = [i for i in kept if lo <= nll[i] <= hi]
    assert checks.check_band(band, kept, plants["words"]) == []
    lowest = min(kept, key=nll.get)
    assert any("outside the quantile band" in p
               for p in checks.check_band(band + [lowest], kept, plants["words"]))
    assert any("were dropped" in p for p in checks.check_band(band[: len(band) // 2], kept,
                                                              plants["words"]))

    rng = np.random.default_rng(0)
    names = rng.choice(["train", "val", "test"], len(band), p=[0.9, 0.05, 0.05])
    for name in ("train", "val", "test"):
        d = tmp_path / "out" / f"split={name}"
        d.mkdir(parents=True)
        ids = [i for i, s in zip(band, names) if s == name]
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), d / "part-0.parquet")
    problems, ids = checks.check_splits(con, str(tmp_path / "out"), band)
    assert problems == [] and Counter(ids) == Counter(band)
    # a band survivor missing from the splits, and a split doc the band dropped
    problems, _ = checks.check_splits(con, str(tmp_path / "out"), band[1:] + [lowest])
    assert any("in no split" in p for p in problems)
    assert any("were not band survivors" in p for p in problems)
    # the same doc written to two splits
    pq.write_table(pa.table({"doc_id": pa.array(band[:3], pa.int64())}),
                   tmp_path / "out" / "split=val" / "part-1.parquet")
    problems, _ = checks.check_splits(con, str(tmp_path / "out"), band)
    assert any("more than one split" in p for p in problems)
