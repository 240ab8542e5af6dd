"""The end-to-end transcript pipeline: parse -> enrich -> route -> sinks -> aggs.

This is the whole reference data path re-expressed as one declarative plan
(reference lifecycle: server accept -> session loop -> DecodeEntry ->
handler -> mirror map, SURVEY.md §3). Spark shape:

    scan turns (tasks <-> connections)
      -> vectorized parse            (<-> DecodeEntry, message/entry.go:11-35)
      -> broadcast-join enrich       (capability gap filled per north_star)
      -> first-match route           (<-> mirror per-tag map, mirror/mirror.go:26-39)
      -> ONE partitioned write, partitionBy(sink, bucket)
         (<-> per-tag append; physical fan-out = directory layout, so all
          sinks materialize from a SINGLE scan — no per-sink re-read)
      -> aggregates from the written sinks (<-> mirror JSON read path)

Scale design (10^12 turns):
* bucket = salted hash(conv_id) (operators/skew.py): bounded files per
  partition even with a conversation holding 30% of turns.
* resume granularity = checkpoint groups: buckets are processed in G
  independent jobs, each committing an ack record (plans/checkpoint.py)
  after its dynamic-partition-overwrite lands. A killed run redoes only
  uncommitted groups, byte-identically. G trades re-scan count against
  blast radius; per-group input is a narrow filter on the scan.
* per-group metrics ride the write via ``Observation`` — counts are
  collected during the write job itself, no second action.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from fluent_server_spark.data.synth import (
    QUARANTINE_SINK,
    ROUTE_RULE_ROWS,
    lookup_df,
)
from fluent_server_spark.functions.parse import parse_turns
from fluent_server_spark.operators.aggregates import (
    conversation_stats,
    routed_counts,
    tool_histogram,
)
from fluent_server_spark.operators.enrich import enrich_turns
from fluent_server_spark.operators.route import route_turns, rules_from_rows
from fluent_server_spark.operators.skew import salted_bucket
from fluent_server_spark.plans.checkpoint import CheckpointLog, GroupCommit


class InjectedFailure(RuntimeError):
    """Raised by the fault-injection hook in resume tests."""


def _list_partitions(write_root: str, group_id: int, n_groups: int) -> list[str]:
    """(sink=?/bucket=?) partition dirs a group landed under write_root —
    the manifest listing for snapshot mode."""
    out: list[str] = []
    if not os.path.isdir(write_root):
        return out
    for sdir in os.listdir(write_root):
        if not sdir.startswith("sink="):
            continue
        for bdir in os.listdir(os.path.join(write_root, sdir)):
            if not bdir.startswith("bucket="):
                continue
            b = int(bdir.split("=", 1)[1])
            if n_groups == 1 or b % n_groups == group_id:
                out.append(f"{sdir}/{bdir}")
    return out


@dataclass
class PipelineConfig:
    sinks_path: str
    checkpoint_path: str
    # 'native' / 'map' (Catalyst str_to_map, parse_turns_map) | 'regexp'
    # (Catalyst regexp_extract) | 'pandas' (Arrow UDF); see parse_turns
    parse_impl: str = "native"
    n_buckets: int = 32
    n_salt: int = 8
    checkpoint_groups: int = 1
    # sink compression — the reference's gzip packed-forward blobs
    # (defaultreader/reader.go:53-59) map to the parquet page codec
    codec: str = "zstd"
    # snapshots=True gives the sink table Iceberg-style snapshot
    # isolation + time travel WITHOUT the (sandbox-unavailable) runtime
    # jars: each run writes into its own run_id=<id> directory (never
    # deleting a previous run's files), the checkpoint log doubles as
    # the manifest of which run owns each (sink, bucket) partition, and
    # reads resolve a consistent partition->run mapping (optionally
    # as-of a past run). The default (False) keeps the in-place
    # dynamic-overwrite layout.
    snapshots: bool = False
    # write-stage CPU knobs (parquet encode is ~half the pipeline CPU):
    # sink_drop_cols prunes columns derivable from `text` (e.g. "msg" —
    # re-extractable by the parser) before the write; parquet_dictionary
    # toggles dictionary encoding for the string-heavy pages. Defaults
    # keep the full contract schema. Measured effect: see BENCH/BASELINE.md.
    sink_drop_cols: tuple = ()
    parquet_dictionary: bool = True
    rules: list = field(default_factory=lambda: rules_from_rows(ROUTE_RULE_ROWS))


ALL_SINKS = sorted({r[4] for r in ROUTE_RULE_ROWS} | {QUARANTINE_SINK})

# schema of rows as written to sinks (flattened parse struct + route cols)
SINK_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, ts timestamp, "
    "text string, level string, component string, msg string, dur_ms int, "
    "tokens int, parse_ok boolean, tool_family string, risk_tier string, "
    "sink string, bucket int"
)


class TranscriptPipeline:
    def __init__(self, spark: SparkSession, config: PipelineConfig):
        self.spark = spark
        self.config = config
        self.checkpoint = CheckpointLog(config.checkpoint_path)

    # ---------------------------------------------------------- transform
    def transform(self, turns: DataFrame) -> DataFrame:
        """The pure (no-action) logical plan: turns -> routed rows."""
        cfg = self.config
        parsed = parse_turns(turns, impl=cfg.parse_impl)
        enriched = enrich_turns(parsed, lookup_df(self.spark))
        routed = route_turns(enriched, cfg.rules)
        flat = routed.select(
            "conv_id",
            "turn_idx",
            "role",
            "tool",
            "ts",
            "text",
            F.col("parsed.level").alias("level"),
            F.col("parsed.component").alias("component"),
            F.col("parsed.msg").alias("msg"),
            F.col("parsed.dur_ms").alias("dur_ms"),
            F.col("parsed.tokens").alias("tokens"),
            F.col("parsed.parse_ok").alias("parse_ok"),
            "tool_family",
            "risk_tier",
            "sink",
        )
        return flat.withColumn(
            "bucket",
            salted_bucket(F.col("conv_id"), F.col("turn_idx"), cfg.n_buckets, cfg.n_salt),
        )

    # ---------------------------------------------------------------- run
    def run(
        self,
        turns: DataFrame,
        run_id: str | None = None,
        fail_after_groups: int | None = None,
    ) -> str:
        """Execute with per-group checkpointed writes; returns run_id.

        Re-invoking with the same run_id resumes: committed groups are
        skipped, the in-flight group is rewritten idempotently.
        """
        cfg = self.config
        run_id = run_id or uuid.uuid4().hex[:12]
        routed = self.transform(turns)
        done = self.checkpoint.committed_groups(run_id, cfg.checkpoint_groups)
        groups_ran = 0
        for g in range(cfg.checkpoint_groups):
            if g in done:
                continue
            if fail_after_groups is not None and groups_ran >= fail_after_groups:
                raise InjectedFailure(f"injected failure before group {g}")
            started = CheckpointLog.now()
            sub = routed if cfg.checkpoint_groups == 1 else routed.filter(
                F.pmod(F.col("bucket"), F.lit(cfg.checkpoint_groups)) == g
            )
            obs = Observation(f"grp-{g}")
            metric_cols = [F.count(F.lit(1)).alias("n_rows")] + [
                F.sum(F.when(F.col("sink") == s, 1).otherwise(0)).alias(f"s_{s}")
                for s in ALL_SINKS
            ]
            sub = sub.observe(obs, *metric_cols)
            # Align task partitioning with the write partitioning: without
            # this, EVERY task opens a file in EVERY (sink, bucket) dir —
            # tasks x sinks x buckets small files (measured 25x slower at
            # 1M rows). After the shuffle each output partition is one
            # task's sequential write; file count == live (sink, bucket)
            # pairs regardless of input size. The salt inside `bucket`
            # keeps the hot conversation spread over n_salt reducers.
            # Explicit partition count: parquet encoding dominates this
            # stage's CPU, so it must fill every core — AQE's 64MB
            # advisory target otherwise coalesces below core count
            # (event-log measured: 19 tasks on 16 cores = half idle).
            n_write = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            if cfg.sink_drop_cols:
                sub = sub.drop(*cfg.sink_drop_cols)
            sub = sub.repartition(n_write, F.col("sink"), F.col("bucket"))
            write_root = (
                f"{cfg.sinks_path}/run_id={run_id}"
                if cfg.snapshots
                else cfg.sinks_path
            )
            (
                sub.write.mode("overwrite")
                # pinned at the writer: under the Spark default (static)
                # overwrite mode this write would truncate the WHOLE
                # sinks_path per group — multi-group runs would keep only
                # the last group and resume would skip wiped partitions.
                # Correctness must not depend on how the session was built.
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", cfg.codec)
                .option(
                    "parquet.enable.dictionary",
                    "true" if cfg.parquet_dictionary else "false",
                )
                .partitionBy("sink", "bucket")
                .parquet(write_root)
            )
            m = obs.get
            extra = {}
            if cfg.snapshots:
                # manifest entry: the (sink, bucket) partitions this group
                # landed — an FS-metadata listing, the same class of
                # driver work as writing an Iceberg manifest file
                extra["partitions"] = sorted(
                    _list_partitions(write_root, g, cfg.checkpoint_groups)
                )
            self.checkpoint.commit(
                GroupCommit(
                    run_id=run_id,
                    group_id=g,
                    n_groups=cfg.checkpoint_groups,
                    n_rows=int(m["n_rows"] or 0),
                    sink_counts={s: int(m[f"s_{s}"] or 0) for s in ALL_SINKS},
                    started_at=started,
                    finished_at=CheckpointLog.now(),
                    extra=extra,
                )
            )
            groups_ran += 1
        return run_id

    # ---------------------------------------------------------- read back
    def read_sinks(
        self, sink: str | None = None, as_of_run: str | None = None
    ) -> DataFrame:
        """Read routed rows back; `sink=` prunes to that partition dir.

        With cfg.snapshots, reads resolve through the manifest: the
        current snapshot by default, or the table exactly as it stood
        after `as_of_run`'s last commit (time travel) — byte-identical,
        since runs never delete one another's files.

        An empty run writes no partition files (dynamic overwrite touches
        nothing), so fall back to an empty DataFrame with the sink schema.
        """
        from pyspark.errors import AnalysisException

        if self.config.snapshots:
            df = self._read_snapshot(as_of_run)
        else:
            if as_of_run is not None:
                raise ValueError(
                    "as_of_run requires PipelineConfig(snapshots=True): the "
                    "in-place layout overwrites partitions destructively"
                )
            try:
                df = self.spark.read.parquet(self.config.sinks_path)
            except AnalysisException:
                df = self.spark.createDataFrame([], SINK_SCHEMA)
        return df.filter(F.col("sink") == sink) if sink else df

    def read_appended(self, as_of_run: str | None = None) -> DataFrame:
        """APPEND-table read: the union of every committed run's files in
        commit order — the semantics of streaming ingest, where each run
        (micro-batch epoch) is an immutable INCREMENT rather than a
        reprocess-everything batch (which is what `read_sinks`'s
        latest-wins manifest resolution models). `as_of_run` pins the
        table as of that run's commit — per-epoch time travel.

        Two loud-failure contracts (round-2 advice): a table that has
        had ANY rewrite run (merge_upsert/delete_where/compact_snapshots)
        no longer has well-defined append semantics — rewrite runs carry
        COPIES of rows from earlier runs, so the union would double-count
        — and the call raises, pointing at read_sinks(). A committed run
        whose directory was vacuumed raises FileNotFoundError (mirroring
        _read_snapshot's expired-run contract) instead of silently
        vanishing from the result."""
        if not self.config.snapshots:
            raise ValueError("read_appended requires PipelineConfig(snapshots=True)")
        committed = self.checkpoint.all_committed()
        runs = list(dict.fromkeys(r.run_id for r in committed))
        if as_of_run is not None:
            if as_of_run not in runs:
                raise ValueError(f"no committed run {as_of_run!r}")
            runs = runs[: runs.index(as_of_run) + 1]
        return self._append_window(committed, runs, "append view")

    def _append_window(self, committed, window, what: str) -> DataFrame:
        """Union of the run dirs in `window` (commit order), with the
        shared loud contracts of every append-semantics read: a REWRITE
        run in the window raises (its files copy earlier rows — the
        union would double-count), and a committed-nonempty run whose
        dir was vacuumed raises FileNotFoundError (the expired-snapshot
        contract) instead of silently vanishing."""
        rewrites = sorted(
            {r.run_id for r in committed if r.extra.get("rewrite")} & set(window)
        )
        if rewrites:
            raise ValueError(
                f"{what} contains rewrite runs {rewrites}: their files "
                "duplicate rows from earlier runs, so the append-epoch "
                "union would double-count — use read_sinks() (manifest "
                "resolution) for post-rewrite state"
            )
        root = self.config.sinks_path
        rows_per_run: dict[str, int] = {}
        for rec in committed:
            rows_per_run[rec.run_id] = rows_per_run.get(rec.run_id, 0) + rec.n_rows
        paths = []
        for r in window:
            p = f"{root}/run_id={r}"
            if os.path.isdir(p):
                paths.append(p)
            elif rows_per_run.get(r, 0) > 0:
                # an EMPTY run legitimately never wrote a dir (dynamic
                # overwrite touches nothing); a run that committed rows
                # but has no dir was vacuumed
                raise FileNotFoundError(
                    f"committed run {r!r} ({rows_per_run[r]} rows) was "
                    f"vacuumed: this {what} is expired (same contract as "
                    "snapshot time travel to an expired run)"
                )
        if not paths:
            return self.spark.createDataFrame([], SINK_SCHEMA)
        return (
            self.spark.read.option("basePath", root).parquet(*paths).drop("run_id")
        )

    def read_incremental(
        self, from_run: str, to_run: str | None = None
    ) -> DataFrame:
        """Iceberg-style INCREMENTAL scan: only the rows appended after
        `from_run`'s commit, up to `to_run` (default: current head) —
        the change feed a downstream consumer processes per sync
        instead of re-reading the table (Iceberg's incremental-read /
        CDC-append semantics, the remaining read path of the design
        target's seam). Built on the same commit log as read_appended.

        Contracts, all loud: `from_run`/`to_run` must be committed runs
        with `from_run` at or before `to_run`; a REWRITE run inside the
        (from, to] range raises — rewrite files carry copies of earlier
        rows, so "what was appended" is no longer well-defined past one
        (rewrites at or before `from_run` are fine: their files are
        outside the range) — and a vacuumed in-range run raises rather
        than silently dropping its increment."""
        if not self.config.snapshots:
            raise ValueError(
                "read_incremental requires PipelineConfig(snapshots=True)"
            )
        committed = self.checkpoint.all_committed()
        runs = list(dict.fromkeys(r.run_id for r in committed))
        if from_run not in runs:
            raise ValueError(f"no committed run {from_run!r}")
        hi = len(runs)
        if to_run is not None:
            if to_run not in runs:
                raise ValueError(f"no committed run {to_run!r}")
            hi = runs.index(to_run) + 1
        lo = runs.index(from_run) + 1
        if lo > hi:
            raise ValueError(
                f"from_run {from_run!r} commits after to_run {to_run!r}"
            )
        return self._append_window(
            committed, runs[lo:hi], "incremental range"
        )

    def snapshot_partitions(self, as_of_run: str | None = None) -> dict[str, str]:
        """Manifest resolution: partition dir -> owning run_id, replaying
        commit records in log order (the Iceberg snapshot-lineage walk).
        `as_of_run` pins the state right after that run's last commit."""
        mapping: dict[str, str] = {}
        captured: dict[str, str] | None = None
        seen = False
        for rec in self.checkpoint.all_committed():
            for p in rec.extra.get("partitions", []):
                mapping[p] = rec.run_id
            if as_of_run is not None and rec.run_id == as_of_run:
                captured = dict(mapping)
                seen = True
        if as_of_run is None:
            return mapping
        if not seen:
            raise ValueError(f"no committed snapshot for run {as_of_run!r}")
        return captured or {}

    def _read_snapshot(self, as_of_run: str | None) -> DataFrame:
        mapping = self.snapshot_partitions(as_of_run)
        root = self.config.sinks_path
        paths = []
        for p, r in sorted(mapping.items()):
            run_dir = f"{root}/run_id={r}"
            if not os.path.isdir(run_dir):
                # the whole run was vacuumed: time travel to it is gone
                # (exactly Iceberg's expire-snapshots contract)
                raise FileNotFoundError(
                    f"snapshot references expired run {r!r} (vacuumed)"
                )
            # a run dir that exists but lacks this partition subdir is a
            # rewrite (merge/delete) that EMPTIED the partition: the
            # manifest remaps it with no files — zero rows, not an error
            if os.path.isdir(f"{run_dir}/{p}"):
                paths.append(f"{run_dir}/{p}")
        if not paths:
            return self.spark.createDataFrame([], SINK_SCHEMA)
        df = self.spark.read.option("basePath", root).parquet(*paths)
        return df.drop("run_id")

    def export_incremental(
        self, dest_dir: str, state_path: str, force_baseline: bool = False
    ) -> dict:
        """Bookmark-driven downstream sync — the CDC-consumer loop over
        the snapshot commit log: export exactly the rows appended since
        the last sync, advance the bookmark, repeat per schedule. The
        other half of read_incremental (the producer feed).

        Exactly-once without coordination: the delta for head H writes
        to `{dest_dir}/sync={H}` (whole-dir overwrite) BEFORE the
        bookmark file moves, so a crash between write and bookmark
        replays the SAME delta into the SAME dir — rerunning is always
        safe, and the union of sync dirs equals the append view at the
        bookmarked head. First sync (no bookmark) exports the full
        append view as the baseline. No new commits -> no-op (nothing
        written, bookmark untouched). Returns {"synced_to", "n_rows",
        "baseline"}; n_rows is -1 for a no-op.

        ADVICE r5: a MISSING bookmark combined with EXISTING sync dirs
        used to be treated as crashed leftovers and silently deleted
        before a full re-baseline — self-healing, but destructive when
        the operator pointed `state_path` at the wrong file (the dirs
        belong to a healthy sync whose bookmark lives elsewhere). The
        guard distinguishes the two by run id: leftover dirs from THIS
        table's crashed first baseline name committed runs of this
        table and still self-heal unattended; dirs naming runs this
        table never committed raise unless `force_baseline=True`
        explicitly accepts the wipe. (Residual ambiguity: a foreign dir
        whose run id coincides with one of ours is healed as ours —
        run ids are caller-chosen, so callers sharing ids across tables
        into one dest_dir were already out of contract.) A bookmark-ed
        retry (the bookmark EXISTS) heals exactly as before."""
        import json as _json

        if not os.path.exists(self.config.checkpoint_path):
            # a typo'd path must NOT read as "no commits yet": a
            # scheduled sync job would silently export nothing forever
            raise FileNotFoundError(
                f"no commit log at {self.config.checkpoint_path!r} — wrong "
                "--checkpoint/--sinks for this table? (a live-edge snapshot "
                "table's log is {sinks}/_batch_commits.jsonl)"
            )
        committed = self.checkpoint.all_committed()
        runs = list(dict.fromkeys(r.run_id for r in committed))
        if not runs:
            return {"synced_to": None, "n_rows": -1, "baseline": False}
        head = runs[-1]
        last = None
        if os.path.exists(state_path):
            with open(state_path) as f:
                last = _json.load(f)["last_run"]
            if last not in runs:
                raise ValueError(
                    f"sync bookmark {last!r} is not a committed run of this "
                    "table — wrong table or corrupted state file"
                )
        if last == head:
            return {"synced_to": head, "n_rows": -1, "baseline": False}
        # pin BOTH ends to the head captured above: a commit landing
        # mid-sync must not leak into this sync dir (it would be
        # re-exported by the next sync — double rows across dirs)
        delta = (
            self.read_appended(as_of_run=head)
            if last is None
            else self.read_incremental(last, head)
        )
        # crashed-leftover collection: a sync dir written but never
        # bookmarked covers rows this sync is about to re-export (its
        # head may even differ if commits landed before the retry) —
        # remove every sync dir beyond the bookmark before writing
        bookmarked = set() if last is None else set(runs[: runs.index(last) + 1])
        if last is None and not force_baseline and os.path.isdir(dest_dir):
            stale = [d for d in os.listdir(dest_dir) if d.startswith("sync=")]
            # A crashed FIRST baseline (sync=H written, bookmark never
            # landed) must keep self-healing unattended: its leftover
            # dirs name committed runs of THIS table, so heal when every
            # stale dir does. Foreign dirs (the wrong --sync-state
            # scenario) belong to some other table/log and in practice
            # name runs this table never committed -> refuse loudly.
            foreign = [
                d for d in stale if d.split("=", 1)[1] not in set(runs)
            ]
            if foreign:
                raise ValueError(
                    f"no sync bookmark at {state_path!r} but {dest_dir!r} "
                    f"holds sync dir(s) {sorted(foreign)} naming runs this "
                    "table never committed — wrong --sync-state path for "
                    "this export dir? Re-baselining would DELETE them; pass "
                    "force_baseline=True (CLI: --force-baseline) to accept "
                    "that"
                )
        if os.path.isdir(dest_dir):
            for d in os.listdir(dest_dir):
                if d.startswith("sync=") and d.split("=", 1)[1] not in bookmarked:
                    shutil.rmtree(os.path.join(dest_dir, d))
        out = f"{dest_dir}/sync={head}"
        delta.write.mode("overwrite").parquet(out)
        n = self.spark.read.parquet(out).count()
        tmp = f"{state_path}.tmp"
        with open(tmp, "w") as f:
            _json.dump({"last_run": head, "format": 1}, f)
        os.replace(tmp, state_path)  # atomic bookmark advance
        return {"synced_to": head, "n_rows": n, "baseline": last is None}

    def vacuum_snapshots(self) -> list[str]:
        """Expire-snapshots analogue: delete run directories the CURRENT
        snapshot no longer references. Time travel to expired runs stops
        working (exactly Iceberg's expire contract); the current table is
        untouched. Returns the removed run ids."""
        if not self.config.snapshots:
            return []
        live = set(self.snapshot_partitions().values())
        removed: list[str] = []
        root = self.config.sinks_path
        if not os.path.isdir(root):
            return removed
        for d in os.listdir(root):
            if d.startswith("run_id=") and d.split("=", 1)[1] not in live:
                shutil.rmtree(os.path.join(root, d))
                removed.append(d.split("=", 1)[1])
        return removed

    # ------------------------------------------------- row-level mutation
    def merge_upsert(self, turns: DataFrame, run_id: str | None = None) -> str:
        """MERGE INTO analogue over the snapshot layout (copy-on-write,
        partition-scoped) — the Iceberg `MERGE ... WHEN MATCHED UPDATE
        WHEN NOT MATCHED INSERT` the sandbox can't load jars for.

        Corrected/late turns run through the SAME transform as ingest
        (so routing may move a row to a different sink), then only the
        (sink, bucket) partitions holding a matched key's old OR new
        location are rewritten: current rows anti-joined on
        (conv_id, turn_idx), unioned with the new rows, written under a
        fresh run_id dir and committed to the manifest. Untouched
        partitions keep their old run mapping; time travel to any
        pre-merge run still resolves byte-identically (runs never delete
        one another's files).

        Scale shape: the affected-partition set is bounded by
        n_sinks x n_buckets (a constant, broadcast); the rewrite reads
        only those partitions — exactly Iceberg's copy-on-write MERGE
        cost model. All data joins are keyed equi-joins.
        """
        cfg = self.config
        if not cfg.snapshots:
            raise ValueError(
                "merge_upsert requires PipelineConfig(snapshots=True): the "
                "in-place layout cannot rewrite partitions atomically"
            )
        run_id = run_id or uuid.uuid4().hex[:12]
        new_rows = self.transform(turns)
        if cfg.sink_drop_cols:
            new_rows = new_rows.drop(*cfg.sink_drop_cols)
        cur = self.read_sinks()
        keys = new_rows.select("conv_id", "turn_idx").distinct()
        old_parts = (
            cur.join(keys, ["conv_id", "turn_idx"], "left_semi")
            .select("sink", "bucket")
            .distinct()
        )
        new_parts = new_rows.select("sink", "bucket").distinct()
        # Collect the affected-partition set (bounded by n_sinks x
        # n_buckets — manifest-planning driver work, the same class as
        # Iceberg's scan planning, never data-sized).
        parts = self._collect_parts(old_parts.unionByName(new_parts).distinct())
        survivors = cur.join(
            F.broadcast(self._parts_df(parts)), ["sink", "bucket"], "left_semi"
        ).join(keys, ["conv_id", "turn_idx"], "left_anti")
        merged = survivors.unionByName(new_rows.select(*survivors.columns))
        return self._commit_rewrite(merged, run_id, parts)

    def delete_where(self, predicate, run_id: str | None = None) -> str:
        """DELETE FROM analogue: copy-on-write rewrite of exactly the
        partitions holding matching rows, with the matches dropped. NULL
        predicate results keep the row (SQL DELETE semantics)."""
        cfg = self.config
        if not cfg.snapshots:
            raise ValueError("delete_where requires PipelineConfig(snapshots=True)")
        run_id = run_id or uuid.uuid4().hex[:12]
        cur = self.read_sinks()
        hit = F.coalesce(predicate, F.lit(False))
        parts = self._collect_parts(cur.filter(hit).select("sink", "bucket").distinct())
        survivors = cur.join(
            F.broadcast(self._parts_df(parts)), ["sink", "bucket"], "left_semi"
        ).filter(~hit)
        return self._commit_rewrite(survivors, run_id, parts)

    def compact_snapshots(self, run_id: str | None = None) -> str:
        """`rewrite_data_files` analogue: rewrite the CURRENT snapshot
        into one fresh run so every live partition is owned by a single
        run dir (one file per (sink, bucket)). After N ingests and M
        merges the live snapshot scatters across N+M run dirs;
        compact + vacuum_snapshots() reclaims all of them. Data is
        byte-equal before and after; time travel to pre-compaction runs
        keeps working until vacuumed."""
        cfg = self.config
        if not cfg.snapshots:
            raise ValueError("compact_snapshots requires PipelineConfig(snapshots=True)")
        run_id = run_id or uuid.uuid4().hex[:12]
        cur = self.read_sinks()
        # claim EVERY manifest partition, including ones a prior delete
        # emptied — otherwise they stay mapped to the old run and keep it
        # un-vacuumable forever
        parts = sorted(
            (sdir.split("=", 1)[1], int(bdir.split("=", 1)[1]))
            for p in self.snapshot_partitions()
            for sdir, bdir in [p.split("/", 1)]
        )
        return self._commit_rewrite(cur, run_id, parts)

    def _collect_parts(self, parts: DataFrame) -> list[tuple[str, int]]:
        return sorted((r["sink"], r["bucket"]) for r in parts.collect())

    def _parts_df(self, parts: list[tuple[str, int]]) -> DataFrame:
        return self.spark.createDataFrame(parts or [], "sink string, bucket int")

    def _commit_rewrite(
        self, rows: DataFrame, run_id: str, affected: list[tuple[str, int]]
    ) -> str:
        """Write a partition-scoped rewrite under a fresh run dir and
        commit its manifest entry (single group — a mutation is one
        atomic snapshot transition, unlike chunked ingest).

        The manifest records EVERY affected partition, including ones the
        rewrite emptied (no dir written) — otherwise an emptied partition
        would keep resolving to its old run and deleted rows would
        resurrect. `_read_snapshot` skips manifest entries with no files.
        """
        cfg = self.config
        started = CheckpointLog.now()
        obs = Observation(f"rewrite-{run_id}")
        metric_cols = [F.count(F.lit(1)).alias("n_rows")] + [
            F.sum(F.when(F.col("sink") == s, 1).otherwise(0)).alias(f"s_{s}")
            for s in ALL_SINKS
        ]
        rows = rows.observe(obs, *metric_cols)
        n_write = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        rows = rows.repartition(n_write, F.col("sink"), F.col("bucket"))
        write_root = f"{cfg.sinks_path}/run_id={run_id}"
        (
            rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", cfg.codec)
            .option(
                "parquet.enable.dictionary",
                "true" if cfg.parquet_dictionary else "false",
            )
            .partitionBy("sink", "bucket")
            .parquet(write_root)
        )
        # the run dir must exist even for an all-empty rewrite: reads
        # distinguish "emptied partition" (run dir present, subdir absent)
        # from "expired run" (dir gone)
        os.makedirs(write_root, exist_ok=True)
        try:
            m = dict(obs.get.asDict())
        except Exception:
            # a rewrite that keeps zero rows runs zero tasks (AQE empty-
            # relation propagation) and the observation never fires
            m = {}
        self.checkpoint.commit(
            GroupCommit(
                run_id=run_id,
                group_id=0,
                n_groups=1,
                n_rows=int(m.get("n_rows") or 0),
                sink_counts={s: int(m.get(f"s_{s}") or 0) for s in ALL_SINKS},
                started_at=started,
                finished_at=CheckpointLog.now(),
                extra={
                    # rewrite runs contain COPIES of rows from earlier
                    # runs; read_appended refuses tables containing them
                    "rewrite": True,
                    "partitions": sorted(
                        set(_list_partitions(write_root, 0, 1))
                        | {f"sink={s}/bucket={b}" for s, b in affected}
                    )
                },
            )
        )
        return run_id

    def aggregates(self) -> dict[str, DataFrame]:
        """The mirror-JSON analogue: aggregate tables over written sinks."""
        routed = self.read_sinks()
        return {
            "routed_counts": routed_counts(routed),
            "tool_histogram": tool_histogram(routed),
            "conversation_stats": conversation_stats(routed),
        }

    def mirror_json(self, limit_per_sink: int = 100) -> str:
        """The mirror read path (reference: mirror/mirror.go:41-47 serves
        the whole map[tag]Events as JSON over HTTP): a JSON document of
        per-sink aggregates + a bounded sample of events per sink, in the
        canonical (conv_id, turn_idx) order. Unlike the reference's
        unguarded concurrent-map read, this is a consistent snapshot."""
        import json

        routed = self.read_sinks()
        counts = {
            r["sink"]: {"n_turns": r["n_turns"], "n_convs": r["n_convs"]}
            for r in routed_counts(routed).collect()
        }
        w = Window.partitionBy("sink").orderBy("conv_id", "turn_idx")
        sample = (
            routed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= limit_per_sink)
            .select("sink", "conv_id", "turn_idx", "ts", "text")
            .collect()
        )
        events: dict[str, list] = {}
        for r in sorted(sample, key=lambda r: (r["sink"], r["conv_id"], r["turn_idx"])):
            events.setdefault(r["sink"], []).append(
                {
                    "conv_id": r["conv_id"],
                    "turn_idx": r["turn_idx"],
                    "ts": r["ts"].isoformat(),
                    "text": r["text"],
                }
            )
        return json.dumps({"counts": counts, "events": events}, sort_keys=True)

    def run_metrics(self) -> DataFrame:
        """Lineage/metrics as a DataFrame (reference A25 log sink analogue)."""
        recs = []
        import json

        with open(self.config.checkpoint_path) as f:
            for line in f:
                if line.strip():
                    recs.append(json.loads(line))
        for r in recs:
            r["sink_counts"] = json.dumps(r["sink_counts"], sort_keys=True)
            r["extra"] = json.dumps(r.get("extra", {}), sort_keys=True)
        return self.spark.createDataFrame(recs)
