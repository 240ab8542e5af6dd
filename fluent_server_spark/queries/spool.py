"""Driver query over the fluent spool-file source (sources/fluentfile.py).

The fixture is PRE-MATERIALIZED: the spool files are deterministic bytes
(gzip mtime pinned), generated once by `materialize_fixture()` and
COMMITTED under fluent_server_spark/data/spool_fixture/, so the driver
query performs no filesystem writes at build or run time (round-2 review
flagged the old tempdir side effect as a plausible reason a stricter
sandbox skipped this query). tests/test_fluentfile.py regenerates the
bytes and asserts they equal the committed files, so codec drift cannot
silently stale the fixture. The files decode through the FULL Spark path
(binaryFile scan -> mapInArrow msgpack decode), then aggregate. The
oracle is the same aggregate computed by INDEPENDENT pure-Python dict
arithmetic straight from the entry spec — it never touches the msgpack
codec — rendered as a VALUES literal, so an encode/decode bug on either
side flips the hash.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluent_server_spark.queries import QuerySpec

_T0 = 1_700_000_000
_LEVELS = ["INFO", "WARN", "ERROR"]


def _spec() -> list[tuple[str, bool, list[tuple]]]:
    """(tag, gzip?, entries) — entries as (ts, record) where ts is epoch
    sec or (sec, nsec) EventTime."""
    files = []
    files.append(
        (
            "app.web",
            False,
            [
                ((_T0 + i, 1000 * i + 7), {"level": _LEVELS[i % 3], "n": i, "msg": f"m{i}"})
                for i in range(40)
            ],
        )
    )
    files.append(
        (
            "app.api",
            True,  # CompressedPackedForward (gzip blob)
            [(_T0 + 100 + i, {"level": _LEVELS[i % 2], "n": 2 * i}) for i in range(25)],
        )
    )
    files.append(
        (
            "db.core",
            False,
            [
                ((_T0 + 7 * i, 999_999_000 + i) if i % 2 else (_T0 + 7 * i),
                 {"level": "INFO", "n": i * i})
                for i in range(10)
            ],
        )
    )
    return files


FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "spool_fixture",
)


def materialize_fixture(root: str) -> list[str]:
    """Regenerate the deterministic spool bytes under `root` (used once
    to create the committed fixture, and by the drift test)."""
    from fluent_server_spark.sources.fluentfile import write_spool_file

    os.makedirs(root, exist_ok=True)
    names = []
    for tag, gz, entries in _spec():
        name = f"{tag}.msgpack" + (".gz" if gz else "")
        write_spool_file(os.path.join(root, name), entries, compress=gz)
        names.append(name)
    return names


def _fixture_dir() -> str:
    return FIXTURE_DIR


def q_fluent_spool_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the spool fixture via the source, aggregate per (tag,
    level): row count, sum of the record's `n` field, max nanosecond
    remainder, min event timestamp. Exercises int + EventTime encodings,
    gzip blobs, and the map<string,string> record column."""
    from fluent_server_spark.sources.fluentfile import read_spool_files

    df = read_spool_files(spark, _fixture_dir())
    return df.groupBy("tag", F.col("record")["level"].alias("level")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("record")["n"].cast("bigint")).alias("sum_n"),
        F.max("ts_nsec").alias("max_nsec"),
        F.min("ts").alias("min_ts"),
    )


def _golden_sql() -> str:
    """Independent pure-Python aggregation of the SAME spec -> VALUES."""
    agg: dict[tuple[str, str], dict] = {}
    for tag, _gz, entries in _spec():
        for ts, rec in entries:
            sec, nsec = ts if isinstance(ts, tuple) else (ts, 0)
            key = (tag, str(rec["level"]))
            a = agg.setdefault(
                key, {"n": 0, "sum_n": 0, "max_nsec": 0, "min_us": None}
            )
            a["n"] += 1
            a["sum_n"] += int(rec["n"])
            a["max_nsec"] = max(a["max_nsec"], nsec)
            us = sec * 1_000_000 + nsec // 1000
            a["min_us"] = us if a["min_us"] is None else min(a["min_us"], us)
    rows = []
    for (tag, level), a in sorted(agg.items()):
        dt = datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=a["min_us"]
        )
        ts_lit = dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        rows.append(
            f"('{tag}', '{level}', {a['n']}, {a['sum_n']}, {a['max_nsec']}, "
            f"TIMESTAMP '{ts_lit}')"
        )
    values = ",\n  ".join(rows)
    return f"""
SELECT tag, level, CAST(n_events AS BIGINT) AS n_events,
       CAST(sum_n AS BIGINT) AS sum_n, CAST(max_nsec AS INTEGER) AS max_nsec,
       min_ts
FROM (VALUES
  {values}
) AS golden(tag, level, n_events, sum_n, max_nsec, min_ts)
"""


SQL_FLUENT_SPOOL_COUNTS = _golden_sql()

QUERIES: dict[str, QuerySpec] = {
    "fluent_spool_counts": QuerySpec(q_fluent_spool_counts, SQL_FLUENT_SPOOL_COUNTS),
}
