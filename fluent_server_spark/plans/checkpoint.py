"""Per-group checkpoint / lineage records — the ack-chunk analogue.

The reference acks a delivery chunk after the handler consumed it
(reference: message/ack.go:5-20, chunk option message/mode.go:56-68),
letting the client resend unacked chunks for at-least-once delivery.
Batch equivalent: a commit record per bucket-group written ONLY after the
group's sink partitions landed; a resumed run skips committed groups and
dynamic-partition-overwrite makes replaying an uncommitted group
idempotent (replace, not append) — upgrading at-least-once to
effectively-once per partition.

Records are JSON lines on the driver (tiny: one per group per run); the
same records double as the lineage + metrics table (`run_metrics`).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class GroupCommit:
    run_id: str
    group_id: int
    n_groups: int
    n_rows: int
    sink_counts: dict[str, int]
    started_at: float
    finished_at: float
    attempt: int = 1
    status: str = "committed"
    input_fingerprint: str = ""
    extra: dict = field(default_factory=dict)


class CheckpointLog:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def committed_groups(
        self, run_id: str, expected_n_groups: int | None = None
    ) -> dict[int, GroupCommit]:
        """Committed records for run_id. If `expected_n_groups` is given,
        refuse records written under a different group count: group ids
        are meaningful only relative to the pmod(bucket, G) partitioning
        they were committed under — silently reusing them against a
        different G would skip the wrong bucket sets (missing/duplicated
        sink partitions)."""
        out: dict[int, GroupCommit] = {}
        for rec in self._records():
            if rec.run_id == run_id and rec.status == "committed":
                if (
                    expected_n_groups is not None
                    and rec.n_groups != expected_n_groups
                ):
                    raise ValueError(
                        f"run {run_id!r} was checkpointed with "
                        f"n_groups={rec.n_groups}, cannot resume with "
                        f"checkpoint_groups={expected_n_groups}: group "
                        "ids do not map to the same bucket sets"
                    )
                out[rec.group_id] = rec
        return out

    def all_committed(self) -> list[GroupCommit]:
        """All committed records in log (= commit) order — the manifest
        stream snapshot reads replay."""
        return [rec for rec in self._records() if rec.status == "committed"]

    def _records(self):
        """Every record in log order. An unterminated last line is a
        commit torn by a crash before its fsync returned, so it never
        counted as committed and is skipped; a malformed line with more
        lines after it is damage this log cannot explain, and raises."""
        if not os.path.exists(self.path):
            return
        with open(self.path) as f:
            for line in f:
                if not line.endswith("\n"):
                    return
                line = line.strip()
                if line:
                    yield GroupCommit(**json.loads(line))

    def commit(self, rec: GroupCommit) -> None:
        # single atomic append per group; fsync so a crash right after the
        # sink write either has the record (skip on resume) or not (replay,
        # which dynamic-overwrite makes idempotent)
        with open(self.path, "a+b") as f:
            # drop a torn last line (see _records) so this record starts
            # a fresh line instead of being glued onto it
            end = f.seek(0, os.SEEK_END)
            if end:
                f.seek(end - 1)
                if f.read(1) != b"\n":
                    f.seek(0)
                    f.truncate(f.read().rfind(b"\n") + 1)
            f.write((json.dumps(asdict(rec)) + "\n").encode())
            f.flush()
            os.fsync(f.fileno())

    @staticmethod
    def now() -> float:
        return time.time()
