"""The snapshot sinks (agg, cdc, topk, quantile) on the state_log layer:
the complete-version read rule, automatic replay-safe retention, the
tombstone pass's crash window and the stale-layout guard.

A replay is forced the way Structured Streaming produces one: delete the
checkpoint's commit entry of the last batch and restart the query on
the same checkpoint, so the engine re-runs that batch id with the same
offsets.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pandas as pd
import pytest

SCHEMA = "key long, seq long, op string, val double"


def _stage(tmp_path, name: str, frames: list) -> str:
    """One parquet file per micro-batch, mtime-ordered."""
    stage = str(tmp_path / name)
    os.makedirs(stage)
    now = time.time()
    for i, pdf in enumerate(frames):
        f = os.path.join(stage, f"b{i}.parquet")
        pdf.to_parquet(f)
        age = 60 * (len(frames) - i)
        os.utime(f, (now - age, now - age))
    return stage


def _run(writer) -> None:
    q = writer.trigger(availableNow=True).start()
    try:
        q.awaitTermination(180)
    finally:
        q.stop()


def _forget_commit(ckpt: str, batch_id: int) -> None:
    """Make the next start of the query replay `batch_id`."""
    for name in (str(batch_id), f".{batch_id}.crc"):
        p = os.path.join(ckpt, "commits", name)
        if os.path.exists(p):
            os.remove(p)


def _version_dirs(state: str) -> list[str]:
    """Every snapshot version dir under `state`, whatever its depth."""
    return sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(state, "**", "v=*"), recursive=True)
    )


def _cdc_writer(spark, stage, state, ckpt):
    from cqlcopy_spark.streaming.sinks import continuous_cdc_sink

    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(stage)
    return continuous_cdc_sink(src, state, ckpt, key_col="key", seq_col="seq")


def test_torn_successor_reads_predecessor_and_replay_rewrites_it(spark, tmp_path):
    """A v=<b> dir holding only _temporary/ (what Spark's committer
    leaves when the driver dies mid-write) is not a version: both
    readers return the complete predecessor, and the replay of batch b
    rewrites the torn dir into the post-state."""
    from cqlcopy_spark.streaming.sinks import read_agg_state, read_cdc_state

    stage = _stage(
        tmp_path,
        "changes",
        [
            pd.DataFrame(
                {"key": [1, 2], "seq": [1, 1], "op": ["U", "U"], "val": [1.0, 2.0]}
            ),
            pd.DataFrame(
                {"key": [2, 3], "seq": [2, 2], "op": ["D", "U"], "val": [0.0, 3.0]}
            ),
        ],
    )
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    _run(_cdc_writer(spark, stage, state, ckpt))
    post_full = {(r["key"], r["op"]) for r in read_agg_state(spark, state).collect()}
    assert post_full == {(1, "U"), (2, "D"), (3, "U")}

    (torn,) = [
        p for p in glob.glob(os.path.join(state, "**", "v=1"), recursive=True)
    ]
    shutil.rmtree(torn)
    os.makedirs(os.path.join(torn, "_temporary", "0"))
    _forget_commit(ckpt, 1)

    assert {
        (r["key"], r["op"]) for r in read_agg_state(spark, state).collect()
    } == {(1, "U"), (2, "U")}
    assert {r["key"] for r in read_cdc_state(spark, state).collect()} == {1, 2}

    _run(_cdc_writer(spark, stage, state, ckpt))
    assert os.path.exists(os.path.join(torn, "_SUCCESS"))
    assert not os.path.exists(os.path.join(torn, "_temporary"))
    assert {
        (r["key"], r["op"]) for r in read_agg_state(spark, state).collect()
    } == post_full
    assert {r["key"] for r in read_cdc_state(spark, state).collect()} == {1, 3}


def test_agg_retention_keeps_two_newest_and_replay_stays_exact(spark, tmp_path):
    """After three batches exactly the two newest snapshot versions
    remain, with no retention call; a replay of the newest batch still
    finds the predecessor it merged onto, so totals stay exact (neither
    doubled nor reset to the batch alone)."""
    from cqlcopy_spark.streaming.sinks import continuous_agg_sink, read_agg_state

    batches = [
        pd.DataFrame({"g": ["a", "b", "a"], "x": [1, 2, 3]}),
        pd.DataFrame({"g": ["a", "c"], "x": [10, 20]}),
        pd.DataFrame({"g": ["b", "c", "c"], "x": [100, 200, 300]}),
    ]
    stage = _stage(tmp_path, "rows", batches)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    def run() -> None:
        src = (
            spark.readStream.schema("g string, x long")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        _run(continuous_agg_sink(src, state, ckpt, group_col="g", sum_expr="sum(x)"))

    def totals() -> dict:
        return {
            r["g"]: (r["n"], r["total"]) for r in read_agg_state(spark, state).collect()
        }

    want = {"a": (3, 14), "b": (2, 102), "c": (3, 520)}
    run()
    assert _version_dirs(state) == ["v=1", "v=2"]
    assert totals() == want
    _forget_commit(ckpt, 2)
    run()
    assert totals() == want
    # the replay committed a new generation of v=2 over the complete one
    assert _version_dirs(state) == ["v=1", "v=2.1"]


def test_cdc_tombstone_pass_crash_before_drop_keeps_post_state(
    spark, tmp_path, monkeypatch
):
    """The pruned snapshot lands complete before the unpruned one stops
    being visible: with the drop step failing, readers already see the
    post-state, and a re-run finds nothing left to prune."""
    from cqlcopy_spark.streaming import state_log
    from cqlcopy_spark.streaming.sinks import (
        SNAPSHOT,
        compact_cdc_tombstones,
        read_agg_state,
    )

    state = str(tmp_path / "cdc")
    rows = [(1, 3, "D", 0.0), (2, 9, "D", 0.0), (3, 12, "D", 0.0), (4, 11, "U", 4.0)]
    state_log.write_snapshot(
        SNAPSHOT, spark.createDataFrame(rows, SCHEMA), state, 7
    )

    def crash(*_a, **_k):
        raise RuntimeError("crash before the drop")

    monkeypatch.setattr(state_log, "_drop", crash)
    with pytest.raises(RuntimeError, match="crash before the drop"):
        compact_cdc_tombstones(spark, state, min_live_seq=10)
    monkeypatch.undo()
    post = {(3, "D"), (4, "U")}
    assert {(r["key"], r["op"]) for r in read_agg_state(spark, state).collect()} == post
    assert compact_cdc_tombstones(spark, state, min_live_seq=10) == 0
    assert {(r["key"], r["op"]) for r in read_agg_state(spark, state).collect()} == post


@pytest.mark.parametrize("surface", ["sink_write", "read_agg_state"])
def test_stale_top_level_snapshot_layout_fails_loudly(spark, tmp_path, surface):
    """A state dir holding top-level v=<n> dirs (the layout before
    snapshots moved under snapshot/compact/) is refused by name, never
    read as empty state or merged onto."""
    from pyspark.errors import StreamingQueryException

    from cqlcopy_spark.streaming.sinks import continuous_agg_sink, read_agg_state

    state = str(tmp_path / "state")
    os.makedirs(os.path.join(state, "v=0"))
    pd.DataFrame({"g": ["a"], "n": [1], "total": [5]}).to_parquet(
        os.path.join(state, "v=0", "part.parquet")
    )
    if surface == "read_agg_state":
        with pytest.raises(ValueError, match="stale state layout") as e:
            read_agg_state(spark, state)
        assert state in str(e.value)
        return
    stage = _stage(tmp_path, "rows", [pd.DataFrame({"g": ["a"], "x": [1]})])
    src = spark.readStream.schema("g string, x long").parquet(stage)
    with pytest.raises(StreamingQueryException, match="stale state layout"):
        _run(
            continuous_agg_sink(
                src, state, str(tmp_path / "ckpt"), group_col="g", sum_expr="sum(x)"
            )
        )
