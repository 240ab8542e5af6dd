"""Checkpoint/resume — the ack-chunk semantics test
(reference: session_test.go:124-159 asserts the ack round-trip; here we
assert the batch upgrade: kill after K groups, rerun, identical sinks)."""

from __future__ import annotations

import pandas as pd
import pytest

from fluent_server_spark.plans.pipeline import (
    InjectedFailure,
    PipelineConfig,
    TranscriptPipeline,
)


def _cfg(base, groups=4) -> PipelineConfig:
    return PipelineConfig(
        sinks_path=str(base / "sinks"),
        checkpoint_path=str(base / "checkpoint.jsonl"),
        n_buckets=16,
        n_salt=4,
        checkpoint_groups=groups,
    )


def _sorted_sinks(pipe) -> pd.DataFrame:
    return (
        pipe.read_sinks()
        .select("conv_id", "turn_idx", "text", "sink")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_kill_and_resume_identical(spark, turns_sdf, tmp_path):
    clean = TranscriptPipeline(spark, _cfg(tmp_path / "clean"))
    clean.run(turns_sdf, run_id="clean")

    pipe = TranscriptPipeline(spark, _cfg(tmp_path / "crashy"))
    with pytest.raises(InjectedFailure):
        pipe.run(turns_sdf, run_id="r1", fail_after_groups=2)
    committed = pipe.checkpoint.committed_groups("r1")
    assert len(committed) == 2  # partial progress acked

    # resume: must skip the 2 committed groups and finish the rest
    pipe.run(turns_sdf, run_id="r1")
    assert len(pipe.checkpoint.committed_groups("r1")) == 4

    pd.testing.assert_frame_equal(_sorted_sinks(pipe), _sorted_sinks(clean))


def test_rerun_is_idempotent(spark, turns_sdf, tmp_path):
    """Replaying an already-complete run (fresh run_id, same output path)
    must not duplicate rows — dynamic overwrite replaces partitions."""
    pipe = TranscriptPipeline(spark, _cfg(tmp_path))
    pipe.run(turns_sdf, run_id="a")
    first = _sorted_sinks(pipe)
    pipe.run(turns_sdf, run_id="b")  # full replay into same sinks
    pd.testing.assert_frame_equal(_sorted_sinks(pipe), first)


def test_resume_with_different_group_count_refuses(spark, turns_sdf, tmp_path):
    """Group ids are only meaningful relative to the pmod(bucket, G)
    partitioning they were committed under — resuming the same run_id
    with a different G must raise, not silently skip wrong bucket sets."""
    pipe = TranscriptPipeline(spark, _cfg(tmp_path))
    with pytest.raises(InjectedFailure):
        pipe.run(turns_sdf, run_id="g4", fail_after_groups=1)

    cfg2 = _cfg(tmp_path)
    cfg2.checkpoint_groups = 8
    pipe2 = TranscriptPipeline(spark, cfg2)
    with pytest.raises(ValueError, match="n_groups"):
        pipe2.run(turns_sdf, run_id="g4")


def _commit(log, run_id, group_id):
    from fluent_server_spark.plans.checkpoint import GroupCommit

    log.commit(GroupCommit(run_id, group_id, 4, 10, {"s": 10}, 0.0, 1.0))


def test_checkpoint_skips_torn_last_line(tmp_path):
    """A crash mid-commit leaves an unterminated last line; both readers
    skip it (that group was never committed) instead of raising."""
    from fluent_server_spark.plans.checkpoint import CheckpointLog

    log = CheckpointLog(str(tmp_path / "ck.jsonl"))
    _commit(log, "r", 0)
    _commit(log, "r", 1)
    with open(log.path, "a") as f:
        f.write('{"run_id": "r", "group_id": 2, "n_gr')
    assert sorted(log.committed_groups("r", expected_n_groups=4)) == [0, 1]
    assert [c.group_id for c in log.all_committed()] == [0, 1]


def test_checkpoint_commit_after_torn_line_starts_fresh_line(tmp_path):
    from fluent_server_spark.plans.checkpoint import CheckpointLog

    log = CheckpointLog(str(tmp_path / "ck.jsonl"))
    _commit(log, "r", 0)
    with open(log.path, "a") as f:
        f.write('{"run_id": "r", "gro')
    _commit(log, "r", 2)
    with open(log.path) as f:
        lines = f.read().split("\n")
    assert lines[-1] == "" and len(lines) == 3  # two whole records
    assert sorted(log.committed_groups("r")) == [0, 2]
    assert [c.group_id for c in log.all_committed()] == [0, 2]


def test_checkpoint_malformed_inner_line_still_raises(tmp_path):
    """Only the torn tail is forgiven: a bad line with records after it
    is damage, and resume must not silently skip past it."""
    import json

    from fluent_server_spark.plans.checkpoint import CheckpointLog

    log = CheckpointLog(str(tmp_path / "ck.jsonl"))
    _commit(log, "r", 0)
    with open(log.path, "a") as f:
        f.write("{not json\n")
    _commit(log, "r", 1)
    with pytest.raises(json.JSONDecodeError):
        log.committed_groups("r")
    with pytest.raises(json.JSONDecodeError):
        log.all_committed()
