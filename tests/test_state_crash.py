"""Crash enumeration over the persisted-state layer.

Every visible filesystem effect on a state dir goes through one
function, `state_log._effect`. Each case runs one lifecycle step with
that function faulted to raise after effect k, for every k the step
makes. A Spark frame write counts as two effects, the part files and
then _SUCCESS; a crash between them leaves a strict subset of the part
files (the hook writes the frame with two partitions, then removes the
marker and one part). For every (step, k):

- every view reads exactly its rows from before the step or exactly its
  rows from after it, and none raises. Views are checked one at a time:
  a step that writes several files (minhash's two deltas, the index
  build's codes and header files, a vacuum's epoch after its mask swap,
  a sink's run marker after its batch) may leave them on different
  sides until the replay;
- re-running the step, as a stream's replay does, reaches the state of
  the uncrashed run: every view reads the same rows at the newest point
  and at each as-of point, and the directory tree is the same. Two
  differences are tolerated, each checked exactly: a vacuum retried
  after a data root landed stamps one version higher, and a snapshot
  commit retried after it landed commits generation 1 of its version.
  Readers resolve both to the same rows.

Each family's pre-state is built once per module at sf0.001 and copied
for each case; the uncrashed post-state of each step is computed once.
The module also holds the regression tests of the torn states the
enumeration found: a torn delta, a torn run marker.
"""

from __future__ import annotations

import builtins
import hashlib
import json
import os
import re
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cqlcopy_spark.streaming import sinks, state_log
from tests.conftest import SF_SMALL

_REAL_EFFECT = state_log._effect
_TOP = 1 << 62
AS_OF = (1, 2, 3, 4, 5, _TOP)  # every batch boundary of the pre-states
QID = "crash-test-run"


class Crash(Exception):
    """The simulated death of the process."""


def _faulted(k: int | None, counter: list):
    """A stand-in for `state_log._effect` that applies effects until the
    k-th, then raises, and raises on every later call (k=None: never).
    counter[0] counts the effects applied."""
    lock = threading.Lock()
    dead = []

    def effect(op, path, arg=None):
        with lock:
            if dead:
                raise Crash(path)
            n = counter[0]
            if op == "frame" and k == n + 1:
                # crash between the part files and _SUCCESS
                arg.repartition(2).write.mode("overwrite").parquet(path)
                os.remove(os.path.join(path, "_SUCCESS"))
                parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
                if len(parts) > 1:
                    os.remove(os.path.join(path, parts[-1]))
                dead.append(k)
                raise Crash(path)
            _REAL_EFFECT(op, path, arg)
            counter[0] = n + (2 if op == "frame" else 1)
            if counter[0] == k:
                dead.append(k)
                raise Crash(path)

    return effect


# ---------------------------------------------------------------- families


def _docs(spark, i: int) -> DataFrame:
    from cqlcopy_spark.catalog import table

    d = table(spark, SF_SMALL, "documents").select("doc_id", "text", "n_chars")
    return d.filter(F.pmod("doc_id", F.lit(6)) == i)


def _vectors(spark, i: int) -> DataFrame:
    from cqlcopy_spark.catalog import table
    from cqlcopy_spark.operators.similarity import _emb_double

    e = table(spark, SF_SMALL, "embeddings")
    e = e.select("vec_id", _emb_double("embedding").alias("emb"))
    return e.filter(F.pmod("vec_id", F.lit(6)) == i)


def _retired(frame: DataFrame, key: str) -> DataFrame:
    return frame.select(key).filter(F.pmod(key, F.lit(7)) == 3)


def _curation_pre(spark, state):
    """Batches 0-3 ingested, a takedown as batch 4."""
    for b in range(4):
        sinks.curation_apply_batch(_docs(spark, b), b, state)
    sinks.curation_takedown_batch(_retired(_docs(spark, 0), "doc_id"), 4, state)


def _minhash_pre(spark, state):
    for b in range(4):
        sinks.minhash_apply_batch(_docs(spark, b).select("doc_id", "text"), b, state)
    sinks.minhash_takedown_batch(_retired(_docs(spark, 1), "doc_id"), 4, state)


def _vector_pre(spark, state):
    from cqlcopy_spark.operators import vector_index as vx

    vx.vector_index_build(_vectors(spark, 0), state, 0)
    for b in range(1, 4):
        vx.vector_index_append(_vectors(spark, b), b, state)
    vx.vector_index_delete(_retired(_vectors(spark, 0), "vec_id"), 4, state)


_SNAP_SCHEMA = "key long, seq long, op string, val double"


def _snapshot_pre(spark, state):
    """Two committed snapshots; the newest holds cdc tombstones."""
    for b, rows in enumerate(
        [
            [(1, 1, "U", 1.0), (2, 2, "U", 2.0)],
            [(1, 3, "D", 0.0), (2, 9, "D", 0.0), (3, 12, "D", 0.0), (4, 11, "U", 4.0)],
        ]
    ):
        frame = spark.createDataFrame(rows, _SNAP_SCHEMA)
        state_log.write_snapshot(sinks.SNAPSHOT, frame, state, b)


PRE_STATES = {
    "empty": lambda spark, state: None,
    "curation": _curation_pre,
    "minhash": _minhash_pre,
    "vector": _vector_pre,
    "snapshot": _snapshot_pre,
}


def _curation_views(spark, state) -> dict:
    views = {
        f"survivors@{b}": sinks.read_curation_survivors(spark, state, as_of=b)
        for b in AS_OF
    }
    views["ths"] = state_log.read_view(spark, sinks.CURATION_THS, state)
    views["takedowns"] = state_log.read_view(spark, sinks.TAKEDOWNS, state)
    views["provenance"] = sinks.read_curation_survivors_with_batch(spark, state)
    return views


def _minhash_views(spark, state) -> dict:
    views = {
        f"pairs@{b}": state_log.read_masked(
            spark, sinks.MINHASH, sinks.MINHASH_PAIRS, state, b
        )
        for b in AS_OF
    }
    views["hashes"] = state_log.read_view(spark, sinks.MINHASH_HASHES, state)
    views["bands"] = state_log.read_view(spark, sinks.MINHASH_BANDS, state)
    views["takedowns"] = state_log.read_view(spark, sinks.TAKEDOWNS, state)
    return views


def _vector_views(spark, state) -> dict:
    from cqlcopy_spark.operators import vector_index as vx

    views = {f"codes@{b}": vx.read_index_codes(spark, state, b) for b in AS_OF}
    views["tombstones"] = state_log.read_view(spark, vx.INDEX_TOMBSTONES, state)
    views["provenance"] = state_log.read_provenance(spark, vx.INDEX_CODES, state, "b")
    return views


def _snapshot_views(spark, state) -> dict:
    none = spark.createDataFrame([], _SNAP_SCHEMA)
    return {
        f"snapshot@{b}": snap if snap is not None else none
        for b in AS_OF
        for snap in [state_log.read_snapshot(spark, sinks.SNAPSHOT, state, b)]
    }


# ------------------------------------------------------------------- steps
# Each step runs on the state dir of a case; the branch of a clone and
# the checkpoint of a sink sit beside it.


def _curation_apply(b: int, s: int):
    return lambda spark, state: sinks.curation_apply_batch(_docs(spark, s), b, state)


def _takedown(kernel):
    return lambda spark, state: kernel(_retired(_docs(spark, 2), "doc_id"), 5, state)


def _curation_clone(spark, state):
    branch = os.path.join(os.path.dirname(state), "branch")
    sinks.curation_state_clone(spark, state, branch, 3)


def _minhash_apply(spark, state):
    sinks.minhash_apply_batch(_docs(spark, 4).select("doc_id", "text"), 5, state)


def _vector_build(spark, state):
    from cqlcopy_spark.operators.vector_index import vector_index_build

    vector_index_build(_vectors(spark, 0), state, 0)


def _vector_append(spark, state):
    from cqlcopy_spark.operators.vector_index import vector_index_append

    vector_index_append(_vectors(spark, 4), 5, state)


def _vector_delete(spark, state):
    from cqlcopy_spark.operators.vector_index import vector_index_delete

    vector_index_delete(_retired(_vectors(spark, 1), "vec_id"), 5, state)


def _vector_vacuum(spark, state):
    from cqlcopy_spark.operators.vector_index import vector_index_vacuum

    vector_index_vacuum(spark, state, bump_epoch=True)


def _snapshot_commit(spark, state):
    prev = state_log.read_snapshot(spark, sinks.SNAPSHOT, state, 2)
    new = spark.createDataFrame([(5, 13, "U", 5.0)], _SNAP_SCHEMA)
    state_log.write_snapshot(sinks.SNAPSHOT, prev.unionByName(new), state, 2)


def _sink_batch(spark, state, batch_id: int = 0):
    """One batch of a snapshot sink through `_state_log_sink`: the
    commit, then the run marker. The foreachBatch function is called
    directly, without starting a query."""
    from pyspark.sql.streaming import DataStreamWriter

    ckpt = os.path.join(os.path.dirname(state), "ckpt")
    os.makedirs(ckpt, exist_ok=True)
    with open(os.path.join(ckpt, "metadata"), "w", encoding="utf-8") as f:
        json.dump({"id": QID}, f)
    captured = []
    real = DataStreamWriter.foreachBatch
    DataStreamWriter.foreachBatch = lambda self, fn: captured.append(fn) or self
    try:
        sinks._snapshot_sink(
            spark.readStream.format("rate").load(),
            state,
            ckpt,
            "error",
            "crash_test_sink",
            lambda batch, prev: batch,
        )
    finally:
        DataStreamWriter.foreachBatch = real
    rows = [(batch_id, 1, "U", 1.0)]
    captured[0](spark.createDataFrame(rows, _SNAP_SCHEMA), batch_id)


@dataclass(frozen=True)
class Step:
    pre: str  # key of PRE_STATES
    run: Callable  # run(spark, state dir)
    views: Callable  # views(spark, dir) -> {name: DataFrame}
    effects: int  # effects of an uncrashed run
    reads: str = "state"  # the dir the views read, beside the state dir
    retry: str = ""  # the tolerated tree difference of a retry: stamp | generation


def _vacuum(kernel, **kw):
    return lambda spark, state: kernel(spark, state, **kw)


STEPS = {
    "curation_apply_first": Step("empty", _curation_apply(0, 0), _curation_views, 2),
    "curation_apply_compacting": Step(
        "curation", _curation_apply(5, 4), _curation_views, 4
    ),
    "curation_apply_replay": Step(
        "curation", _curation_apply(3, 3), _curation_views, 0
    ),
    "curation_takedown": Step(
        "curation", _takedown(sinks.curation_takedown_batch), _curation_views, 2
    ),
    "curation_vacuum": Step(
        "curation", _vacuum(sinks.curation_vacuum), _curation_views, 4, retry="stamp"
    ),
    "curation_vacuum_bump": Step(
        "curation",
        _vacuum(sinks.curation_vacuum, bump_epoch=True),
        _curation_views,
        6,
        retry="stamp",
    ),
    "curation_clone": Step(
        "curation", _curation_clone, _curation_views, 14, reads="branch"
    ),
    "minhash_apply_compacting": Step("minhash", _minhash_apply, _minhash_views, 8),
    "minhash_takedown": Step(
        "minhash", _takedown(sinks.minhash_takedown_batch), _minhash_views, 2
    ),
    "minhash_vacuum": Step(
        "minhash", _vacuum(sinks.minhash_vacuum), _minhash_views, 8, retry="stamp"
    ),
    "vector_build": Step("empty", _vector_build, _vector_views, 6),
    "vector_append_compacting": Step("vector", _vector_append, _vector_views, 4),
    "vector_delete": Step("vector", _vector_delete, _vector_views, 2),
    "vector_vacuum_bump": Step(
        "vector", _vector_vacuum, _vector_views, 6, retry="stamp"
    ),
    "snapshot_commit": Step(
        "snapshot", _snapshot_commit, _snapshot_views, 3, retry="generation"
    ),
    "cdc_tombstone_pass": Step(
        "snapshot",
        _vacuum(sinks.compact_cdc_tombstones, min_live_seq=10),
        _snapshot_views,
        3,
    ),
    "sink_run_marker": Step(
        "empty", _sink_batch, _snapshot_views, 4, retry="generation"
    ),
}
CASES = [(name, k) for name, step in STEPS.items() for k in range(1, step.effects + 1)]


# ------------------------------------------------------------ observation

# small files a state dir may hold beside its roots
_FILES = ("_log_epoch", "_run.json", "centroids.parquet", "codebooks.parquet")


def _content(path: str):
    """A small file's text (the epoch, a run marker) or digest, or None."""
    if not os.path.isfile(path):
        return None
    with open(path, "rb") as f:
        data = f.read()
    if path.endswith(("_log_epoch", ".json")):
        return data.decode("utf-8")
    return hashlib.sha1(data).hexdigest()


def _rows(df: DataFrame) -> tuple:
    return tuple(sorted(r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()))


def _read(spark, step: Step, case: str) -> dict:
    """{view: sorted rows as JSON} of every view of the step, collected
    concurrently (the reads are small and latency-bound), plus the small
    files beside them."""
    d = os.path.join(case, step.reads)
    named = step.views(spark, d)
    with ThreadPoolExecutor(max_workers=8) as pool:
        out = dict(zip(named, pool.map(_rows, named.values())))
    out.update({name: _content(os.path.join(d, name)) for name in _FILES})
    return out


def _tree(case: str) -> dict:
    """{relative path: signature} of every dir and file of a case: a
    dir's marker and parquet row count, a small file's content. Part
    file names (random) and checksum files are left out."""
    import pyarrow.parquet as pq

    out = {}
    for d, _, files in os.walk(case):
        rel = os.path.relpath(d, case)
        parts = [os.path.join(d, f) for f in files if f.startswith("part-")]
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        out[rel] = ("_SUCCESS" in files, rows)
        for f in files:
            if not f.startswith(("part-", ".", "_SUCCESS")):
                out[os.path.join(rel, f)] = _content(os.path.join(d, f))
    return out


def _retried(observed: dict, kind: str, tree: dict) -> dict:
    """The tolerated variant of an uncrashed observation (views or
    tree) after a retry: "stamp" moves the vacuum stamp, the newest
    compaction version in `tree`, and the epoch set to it one higher;
    "generation" turns the newest snapshot v=<b> into v=<b>.1."""
    versions = [
        m.group(1) for p in tree if (m := re.search(r"/compact/v=(\d+)$", p))
    ]
    v = max(versions, key=int)
    new = str(int(v) + 1) if kind == "stamp" else v + ".1"
    out = {}
    for key, value in observed.items():
        key = re.sub(rf"(?<=/v=){v}(?=/|$)", new, key)
        if kind == "stamp" and key.endswith("_log_epoch") and value == v:
            value = new
        out[key] = value
    return out


class _Patched:
    """state_log._effect replaced for the duration of a with-block."""

    def __init__(self, effect):
        self.effect = effect

    def __enter__(self):
        state_log._effect = self.effect

    def __exit__(self, *exc):
        state_log._effect = _REAL_EFFECT


@pytest.fixture(scope="module")
def pre_dirs(spark, tmp_path_factory):
    """key -> a case dir holding that pre-state under state/, built once."""
    root = tmp_path_factory.mktemp("pre")
    built = {}

    def get(key: str) -> str:
        if key not in built:
            case = str(root / key)
            os.makedirs(os.path.join(case, "state"))
            PRE_STATES[key](spark, os.path.join(case, "state"))
            built[key] = case
        return built[key]

    return get


@pytest.fixture(scope="module")
def outcomes(spark, pre_dirs, tmp_path_factory):
    """step -> (pre views, post views, post tree, effects) of one
    uncrashed run, computed once (the pre views once per pre-state)."""
    root = tmp_path_factory.mktemp("post")
    done, pre_views = {}, {}

    def get(name: str):
        if name not in done:
            step = STEPS[name]
            case = str(root / name)
            shutil.copytree(pre_dirs(step.pre), case)
            key = (step.pre, step.views, step.reads)
            if key not in pre_views:
                pre_views[key] = _read(spark, step, case)
            pre = pre_views[key]
            counter = [0]
            with _Patched(_faulted(None, counter)):
                step.run(spark, os.path.join(case, "state"))
            done[name] = (pre, _read(spark, step, case), _tree(case), counter[0])
        return done[name]

    return get


@pytest.mark.parametrize("name", STEPS)
def test_uncrashed_step_makes_the_listed_effects(name, outcomes):
    assert outcomes(name)[3] == STEPS[name].effects


@pytest.mark.parametrize("name,k", CASES)
def test_crash_after_effect(spark, tmp_path, pre_dirs, outcomes, name, k):
    step = STEPS[name]
    pre, post, post_tree, _ = outcomes(name)
    case = str(tmp_path / "case")
    shutil.copytree(pre_dirs(step.pre), case)
    state = os.path.join(case, "state")
    with _Patched(_faulted(k, [0])), pytest.raises(Crash):
        step.run(spark, state)
    torn = _read(spark, step, case)
    for view, rows in torn.items():
        assert rows in (pre[view], post[view]), (
            f"{name} crashed after effect {k}: {view} reads neither its "
            "pre-state nor its post-state"
        )
    step.run(spark, state)  # the replay
    views, tree = _read(spark, step, case), _tree(case)
    if step.retry and (views, tree) != (post, post_tree):
        post = _retried(post, step.retry, post_tree)
        post_tree = _retried(post_tree, step.retry, post_tree)
    assert views == post
    assert tree == post_tree


# ------------------------------------------------------------ regressions


def test_torn_delta_is_skipped_and_blocks_a_vacuum_until_replayed(spark, tmp_path):
    """A crash between a delta's part files and its _SUCCESS: readers
    see the state before that batch, a vacuum refuses to stamp above
    it, and after the replay a vacuum reaches the full state minus the
    takedown."""
    from cqlcopy_spark.catalog import id_thirds, table

    d = table(spark, SF_SMALL, "documents").select("doc_id", "text", "n_chars")
    slices, _ = id_thirds(d, SF_SMALL, "documents", "doc_id")
    state = str(tmp_path / "state")
    for b, batch in enumerate(slices):
        sinks.curation_apply_batch(batch, b, state)

    def survivors(**kw) -> set:
        return {r["doc_id"] for r in sinks.read_curation_survivors(spark, state, **kw).collect()}

    full, before = survivors(), survivors(as_of=2)
    assert before < full
    # tear delta=2: the same rows as two part files, then its marker and
    # one part file gone
    delta = os.path.join(state, "ths", "delta=2")
    spark.read.parquet(delta).repartition(2).write.parquet(delta + ".new")
    shutil.rmtree(delta)
    os.rename(delta + ".new", delta)
    parts = sorted(f for f in os.listdir(delta) if f.startswith("part-"))
    assert len(parts) == 2
    os.remove(os.path.join(delta, "_SUCCESS"))
    os.remove(os.path.join(delta, parts[1]))
    assert survivors() == before
    victim = min(before)
    takedown = spark.createDataFrame([(victim,)], "doc_id long")
    sinks.curation_takedown_batch(takedown, 3, state)
    with pytest.raises(ValueError, match="Replay batch 2"):
        sinks.curation_vacuum(spark, state)
    sinks.curation_apply_batch(slices[2], 2, state)
    assert sinks.curation_vacuum(spark, state) == 1
    assert survivors() == full - {victim}


def test_torn_run_marker_does_not_stop_the_sink(spark, tmp_path, monkeypatch):
    """A crash while a sink writes its run marker leaves the marker's
    old content (here: none), so the sink's next batch runs."""
    real_open, fired = builtins.open, []

    def torn_open(file, mode="r", *args, **kw):
        if "_run.json" in os.path.basename(str(file)) and "w" in mode and not fired:
            fired.append(file)
            real_open(file, mode, *args, **kw).close()  # truncated, then the crash
            raise Crash(file)
        return real_open(file, mode, *args, **kw)

    monkeypatch.setattr(builtins, "open", torn_open)
    state = str(tmp_path / "state")
    with pytest.raises(Crash):
        _sink_batch(spark, state, 0)
    _sink_batch(spark, state, 1)
    assert fired
    with real_open(os.path.join(state, "_run.json"), encoding="utf-8") as f:
        assert json.load(f) == {"query_id": QID}
