"""Output checkers. Each takes what a pass left on storage (read back with
DuckDB or the benchmark's own msgpack decoder) plus the generator's
expectations, and returns a list of problems; an empty list means the
output is correct. Nothing here compares against a saved copy of earlier
output: every expectation is a property or an independent computation.
"""

from __future__ import annotations

import glob
import gzip
import json
import math
import os
from collections import Counter

import duckdb
import numpy as np
import pandas as pd

import msgpack_lite as mp


def _parquet(root: str) -> str:
    return os.path.join(root, "**", "*.parquet")


def check_sinks(con: duckdb.DuckDBPyConnection, sinks_dir: str, expected: pd.DataFrame) -> tuple[list, dict]:
    """Sinks vs the generator's labels: every input row read back exactly
    once, in its labelled sink. Returns (problems, {sink: (rows, convs)})."""
    if not glob.glob(_parquet(sinks_dir), recursive=True):
        return [f"no sink files under {sinks_dir}"], {}
    con.register("exp", expected[["conv_id", "turn_idx", "expected_sink"]])
    con.execute(
        "CREATE OR REPLACE TEMP VIEW got AS SELECT conv_id, turn_idx, sink "
        f"FROM read_parquet('{_parquet(sinks_dir)}', hive_partitioning = true)"
    )
    problems = []
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    if n_got != len(expected):
        problems.append(f"sinks hold {n_got} rows, input had {len(expected)}")
    dup = con.execute(
        "SELECT count(*) FROM (SELECT conv_id, turn_idx FROM got GROUP BY ALL HAVING count(*) > 1)"
    ).fetchone()[0]
    if dup:
        problems.append(f"{dup} (conv_id, turn_idx) keys land more than once")
    wrong = con.execute(
        "SELECT count(*), count(*) FILTER (WHERE e.expected_sink = 'sink_quarantine') "
        "FROM exp e LEFT JOIN got g USING (conv_id, turn_idx) "
        "WHERE g.sink IS DISTINCT FROM e.expected_sink"
    ).fetchone()
    if wrong[0]:
        problems.append(f"{wrong[0]} rows missing or off their labelled sink "
                        f"({wrong[1]} of them planted malformed)")
    per_sink = {
        s: (n, c) for s, n, c in con.execute(
            "SELECT sink, count(*), count(DISTINCT conv_id) FROM got GROUP BY sink"
        ).fetchall()
    }
    con.unregister("exp")
    return problems, per_sink


def check_checkpoint(ckpt_path: str, run_id: str, per_sink: dict) -> list:
    """The commit log's counts (taken during the write) vs the read-back."""
    recs = []
    with open(ckpt_path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                if r["run_id"] == run_id:
                    recs.append(r)
    if not recs:
        return [f"no checkpoint record for run {run_id}"]
    n = sum(r["n_rows"] for r in recs)
    counts = Counter()
    for r in recs:
        counts.update(r["sink_counts"])
    want = {s: rows for s, (rows, _) in per_sink.items()}
    problems = []
    if n != sum(want.values()):
        problems.append(f"checkpoint n_rows {n} != read-back {sum(want.values())}")
    got = {s: c for s, c in counts.items() if c}
    if got != want:
        problems.append(f"checkpoint sink_counts {got} != read-back {want}")
    return problems


def check_routed_counts(rows: list, per_sink: dict) -> list:
    """aggregates()["routed_counts"] vs DuckDB's per-sink rows and convs."""
    got = {r["sink"]: (r["n_turns"], r["n_convs"]) for r in rows}
    return [] if got == per_sink else [f"routed_counts {got} != read-back {per_sink}"]


# ------------------------------------------------------------------- edge
def _entry_key(tag: str, entry) -> tuple:
    t, rec = entry
    tk = ("t", t.code, t.data) if isinstance(t, mp.Ext) else ("i", t)
    return (tag, tk, tuple(sorted(rec.items())))


def sent_entries(frames: list[tuple[str, list]]) -> Counter:
    """Multiset of (tag, time, record) over the (tag, entries) sent."""
    return Counter(_entry_key(tag, e) for tag, entries in frames for e in entries)


def check_acks(report: dict) -> list:
    problems = []
    if report["acked"] != report["chunks"]:
        problems.append(f"{report['acked']} of {report['chunks']} chunks acked with their id")
    if report["bad_ack"]:
        problems.append(f"{report['bad_ack']} acks carried the wrong chunk id")
    problems += [f"edge connection ended: {e}" for e in report.get("errors", [])]
    return problems


def check_spool(land_dir: str, sent: Counter) -> list:
    """Decode every landed spool file with the benchmark's own decoder; the
    landed (tag, time, record) multiset must equal the sent one."""
    got = Counter()
    for path in glob.glob(os.path.join(land_dir, "*", "*.msgpack")):
        tag = os.path.basename(path)[: -len(".msgpack")]
        with open(path, "rb") as f:
            blob = f.read()
        if blob[:2] == b"\x1f\x8b":
            blob = gzip.decompress(blob)
        try:
            got.update(_entry_key(tag, e) for e in mp.unpack_all(blob))
        except (ValueError, TypeError) as e:
            return [f"undecodable spool file {path}: {e}"]
    missing, extra = sent - got, got - sent
    problems = []
    if missing:
        problems.append(f"{sum(missing.values())} sent entries missing from the spool")
    if extra:
        problems.append(f"{sum(extra.values())} spool entries never sent (or sent once, landed twice)")
    return problems


# ------------------------------------------------------------------ curate
def check_exact(n_survivors: int, plants: dict) -> list:
    want = len(plants["singles"]) + sum(len(c) for c in plants["clusters"])
    return [] if n_survivors == want else [
        f"exact dedup kept {n_survivors}, corpus has {want} distinct texts"]


def check_neardup(survivor_ids: list, plants: dict) -> list:
    """Each planted group (a single text with its byte copies, or a
    near-duplicate cluster) keeps exactly one member."""
    keep = set(survivor_ids)
    problems = []
    for kind in ("singles", "clusters"):
        bad = [g for g in plants[kind] if sum(i in keep for i in g) != 1]
        if bad:
            problems.append(f"{len(bad)} of {len(plants[kind])} planted {kind} groups "
                            f"do not keep exactly one member (e.g. {bad[0]})")
    n_groups = len(plants["singles"]) + len(plants["clusters"])
    if len(keep) != n_groups:
        problems.append(f"near-dup stage kept {len(keep)}, expected {n_groups}")
    return problems


def unigram_nll(words: dict, ids: list) -> dict:
    """avg NLL per doc under the add-1 unigram model trained on `ids`:
    p(w) = (c(w) + 1) / (N + V + 1), averaged over word occurrences."""
    counts = Counter()
    for i in ids:
        counts.update(words[i])
    n_tok, vocab = sum(counts.values()), len(counts)
    denom = n_tok + vocab + 1
    return {
        i: float(np.mean([-math.log((counts[w] + 1) / denom) for w in words[i]]))
        for i in ids
    }


def check_band(band_ids: list, band_input: list, words: dict,
               lo_q: float = 0.1, hi_q: float = 0.9, rel_err: float = 0.001) -> list:
    """Band survivors are a subset of the band input and sit within the
    quantile bounds, allowing approxQuantile's rank error and the 6-digit
    rounding of avg_nll."""
    nll = unigram_nll(words, band_input)
    keep = set(band_ids)
    problems = []
    if not keep <= set(band_input):
        problems.append(f"{len(keep - set(band_input))} band survivors were not in its input")
        return problems
    v = np.sort(np.fromiter(nll.values(), float))
    n = len(v)

    def rank_range(q):
        return max(0, math.floor((q - rel_err) * n) - 2), min(n - 1, math.ceil((q + rel_err) * n) + 1)

    (lo_a, lo_b), (hi_a, hi_b) = rank_range(lo_q), rank_range(hi_q)
    tol = 2e-6
    outer = (v[lo_a] - tol, v[hi_b] + tol)
    inner = (v[lo_b] + tol, v[hi_a] - tol)
    out = [i for i in keep if not outer[0] <= nll[i] <= outer[1]]
    if out:
        problems.append(f"{len(out)} band survivors lie outside the quantile band")
    lost = [i for i, x in nll.items() if inner[0] <= x <= inner[1] and i not in keep]
    if lost:
        problems.append(f"{len(lost)} docs well inside the band were dropped")
    return problems


SPLITS = {"train": 0.90, "val": 0.05, "test": 0.05}


def check_splits(con: duckdb.DuckDBPyConnection, out_dir: str, band_ids: list) -> tuple[list, list]:
    """Splits are disjoint, their union is exactly the band's survivors, and
    each share lies within 5 sigma of its binomial expectation. Returns
    (problems, ids in the union)."""
    if not glob.glob(_parquet(out_dir), recursive=True):
        return [f"no split files under {out_dir}"], []
    rows = con.execute(
        f"SELECT doc_id, split FROM read_parquet('{_parquet(out_dir)}', hive_partitioning = true)"
    ).fetchall()
    problems = []
    ids = Counter(r[0] for r in rows)
    twice = [i for i, c in ids.items() if c > 1]
    if twice:
        problems.append(f"{len(twice)} docs sit in more than one split")
    band = set(band_ids)
    missing, extra = band - ids.keys(), ids.keys() - band
    if missing:
        problems.append(f"{len(missing)} band survivors are in no split")
    if extra:
        problems.append(f"{len(extra)} docs in the splits were not band survivors")
    n = len(rows)
    per = Counter(r[1] for r in rows)
    for name, p in SPLITS.items():
        if abs(per.get(name, 0) - p * n) > 5 * math.sqrt(n * p * (1 - p)) + 1:
            problems.append(f"split {name} holds {per.get(name, 0)} of {n}, expected ~{p:.0%}")
    return problems, list(ids)


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )
