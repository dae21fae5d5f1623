"""The persisted-state layer: one implementation of the append-only log
behind the curation, minhash and vector-index state families, and of the
full snapshots behind the agg, cdc and topk sinks.

Layout. A state dir holds one directory per log root, plus an epoch:

    <state>/<root>/delta=<b>/       the delta of batch id b, complete once
                                    _SUCCESS exists
    <state>/<root>/compact/v=<v>/   a compaction: every row of the deltas
                                    below v, complete once _SUCCESS exists
    <state>/<root>/compact/v=<v>.<g>/
                                    generation g >= 1 of compaction v, a
                                    rewrite of it; readers take the newest
                                    complete generation
    <state>/snapshot/compact/v=<b>/ a snapshot sink's full state after
                                    batch b: a compaction with no deltas
    <state>/_log_epoch              offset added to every batch id (absent: 0)

A reader view (`View`) names a compaction root and a delta root. Most
views read their own deltas. A virtual view keeps only compactions
under its own root and derives its tail rows from another root's
deltas through a projection: the curation survivors from ths/, the
minhash bands from hashes/. A reader at batch id `below` resolves the
newest complete compaction v <= below plus the deltas in [v, below)
(`resolve`). So a replayed batch re-derives from exactly the state it
saw the first time, and an out-of-order replay never reads a
compaction that includes itself. Raw deltas are never deleted: they are
the replay truth, the fallback below any as-of point or vacuum stamp,
and the provenance record (`read_provenance`).

A snapshot view is a compaction root with no delta tail. Its sink
merges batch b onto the newest complete snapshot below b
(`read_snapshot`) and commits the result as v=<b> (`write_snapshot`),
so a replay of b re-derives from the same predecessor. Retention needs
no knob: after the commit, every version below that predecessor is
dropped, which keeps the two newest versions, exactly what a replay of
the newest batch reads. `prune_snapshot` rewrites the newest snapshot
minus some rows (the cdc tombstone pass) as a new generation of the
same version. A top-level v=<n> dir, the layout before this layer,
fails loudly.

A family (`Family`) is the set of views one state dir holds plus its
id-keyed mask (takedowns, tombstones). Readers anti-join the mask
(`read_masked`). A vacuum rewrites every masked view minus the mask as
a compaction stamped 1 + max over every delta id and compaction version
of every root the family reads, then swaps the mask to an empty
compaction at the same version.

Crash contract. Every visible filesystem effect on a state dir goes
through one function, `_effect`: a Spark parquet write (part files,
then _SUCCESS), a small file, a _SUCCESS marker, a rename or replace,
a removal. A crash stops that sequence after some effect. Each commit
idiom is written once on top of it:
- `replace_file` publishes a small file (the epoch, a sink's _run.json,
  the vector index's header files) under a temp name, then replaces
  the old one: readers see the old file or the new one.
- `_publish_dir` writes a driver-side dir (the vacuum's empty mask
  compaction, a clone's copies) with its _SUCCESS marker last.
- A delta or a compaction counts only once its _SUCCESS exists: readers
  skip a torn one and a retry overwrites it. A replay leaves a complete
  delta in place (within one checkpoint lineage a replayed batch id
  carries the same rows), so no crash of a replay hides a committed
  batch.
- A compaction at v is refused while a delta below v is torn
  (`_write_compaction`): it would hide that batch's replay from every
  reader. The batch is replayed first.
- A compaction, or a new generation of one (`_commit`: a snapshot
  replay, the cdc tombstone pass), lands before the versions it
  supersedes are removed. A re-run of the tombstone pass over its
  post-state finds nothing to prune and returns 0.
- A vacuum lands every data root's new version before the mask swap. A
  crash in between leaves pruned data under a full mask: consistent,
  and a re-run completes it one stamp higher. A re-run over a clean
  state is a no-op.
- A writer refuses a first-time batch id below a root's newest
  compaction (`begin_batch`): every reader would skip that delta.
  Replays pass, because their delta dir already exists.
- The log epoch lets a checkpoint resume after a vacuum stamped above
  its small batch ids (`vacuum(..., bump_epoch=True)`); it is replaced
  after the vacuum. Bump only against a cleanly stopped stream: an
  in-flight batch replayed after the bump re-derives against the
  vacuumed state.
- A clone builds the branch in a staging dir beside it and renames it
  into place last: the branch holds nothing or all of it.
- The caller owns a vacuum's horizon claim: a pruned mask row no longer
  guards admission, so nothing retired before the vacuum may be
  delivered again. The raw deltas still show it if it is.
tests/test_state_crash.py checks this contract: it crashes each
lifecycle step after each of its effects, and asserts that every view
reads its pre- or post-state and that a re-run reaches the state of an
uncrashed run.

Design reference: the Delta Lake protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md) for version
stamps, _SUCCESS-last commits and shallow clones.
"""

from __future__ import annotations

import functools
import os
import re
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COMPACT_EVERY = 4  # deltas since the newest compaction that trigger the next
_TOP = 1 << 62  # a read point above every batch id
_EPOCH_FILE = "_log_epoch"


@dataclass(frozen=True)
class View:
    """One reader view of a state dir (see the module docstring)."""

    root: str  # compaction root, a subdir of the state dir
    schema: str  # view rows, which are also the compaction rows
    layout: tuple  # columns a compaction is clustered and sorted on
    deltas: str = ""  # delta root, when it is not `root`
    delta_schema: str = ""  # delta rows, when `project` maps them to view rows
    project: Callable[[DataFrame], DataFrame] | None = None
    fanout: int = 1  # view rows per delta row (footer row accounting)
    masked: tuple = ()  # columns the family mask retires; () = never masked

    @property
    def roots(self) -> tuple:
        """(compaction root, delta root)."""
        return self.root, self.deltas or self.root


@dataclass(frozen=True)
class Family:
    """The data views of one state dir, its mask (None: a snapshot
    family retires nothing), and the header files that live beside the
    log (wiped on restart, copied on clone)."""

    views: tuple
    mask: View | None = None
    files: tuple = ()

    @property
    def key(self) -> str:
        return self.mask.layout[0]

    @property
    def roots(self) -> tuple:
        views = (*self.views, self.mask) if self.mask else self.views
        return tuple(dict.fromkeys(r for v in views for r in v.roots))


def _effect(op: str, path: str, arg=None) -> None:
    """Apply one visible filesystem effect to a state dir. Every write,
    marker, rename and removal of this layer (and of the sinks and the
    vector index, through the primitives below) passes through here:
    - "frame":   the DataFrame `arg` written as parquet to dir `path`,
                 replacing it; the committer lands the part files, then
                 _SUCCESS;
    - "text", "table": a small file from a str or a pyarrow table;
    - "copy":    the file `arg` copied to `path`;
    - "replace": os.replace(arg, path);
    - "remove":  the dir or file at `path`."""
    if op == "frame":
        arg.write.mode("overwrite").parquet(path)
    elif op == "text":
        with open(path, "w", encoding="utf-8") as f:
            f.write(arg)
    elif op == "table":
        import pyarrow.parquet as pq

        pq.write_table(arg, path)
    elif op == "copy":
        shutil.copyfile(arg, path)
    elif op == "replace":
        os.replace(arg, path)
    elif os.path.isdir(path):
        shutil.rmtree(path)
    else:
        os.remove(path)


def replace_file(path: str, op: str, arg) -> None:
    """Publish one small file whole: write it (op "text", "table" or
    "copy", see `_effect`) under a temp name beside `path`, then replace
    `path` with it. A crash leaves the old file or the new one."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _effect(op, path + ".tmp", arg)
    _effect("replace", path, path + ".tmp")


def write_frame(frame: DataFrame, path: str) -> None:
    """Write `frame` as the parquet dir `path`, replacing it; it counts
    as complete once its _SUCCESS exists (`is_complete`)."""
    _effect("frame", path, frame)


def remove(path: str) -> None:
    """Remove the dir or file at `path`, if there is one."""
    if os.path.lexists(path):
        _effect("remove", path)


def _publish_dir(path: str, files: list) -> None:
    """Publish a driver-side dir whole: clear a torn leftover, write each
    (name, op, arg) file (see `_effect`), then _SUCCESS last."""
    remove(path)
    os.makedirs(path)
    for name, op, arg in (*files, ("_SUCCESS", "text", "")):
        _effect(op, os.path.join(path, name), arg)


def is_complete(path: str) -> bool:
    """Whether the dir at `path` was committed (its _SUCCESS exists)."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


_COMPACT_DIR = re.compile(r"v=(\d+)(?:\.(\d+))?")


def _compactions(root: str) -> list[tuple[int, int, str]]:
    """(version, generation, path) of every dir under root/compact,
    complete or torn, ascending."""
    croot = os.path.join(root, "compact")
    if not os.path.isdir(croot):
        return []
    return sorted(
        (int(m.group(1)), int(m.group(2) or 0), os.path.join(croot, d))
        for d in os.listdir(croot)
        if (m := _COMPACT_DIR.fullmatch(d))
    )


def _complete(root: str) -> dict[int, tuple[int, str]]:
    """version -> (generation, path) of its newest complete generation."""
    return {v: (g, p) for v, g, p in _compactions(root) if is_complete(p)}


def compact_versions(root: str) -> list[int]:
    """Complete compaction versions under root/compact (with _SUCCESS)."""
    return sorted(_complete(root))


def delta_ids(root: str, below: int = _TOP) -> list[int]:
    """Ascending batch ids of the deltas under `root` below `below`,
    complete or torn."""
    if not os.path.isdir(root):
        return []
    return sorted(
        int(m.group(1))
        for d in os.listdir(root)
        if (m := re.fullmatch(r"delta=(\d+)", d)) and int(m.group(1)) < below
    )


def _delta_dir(root: str, batch_id: int) -> str:
    return os.path.join(root, f"delta={batch_id}")


def _complete_deltas(root: str, below: int = _TOP) -> list[int]:
    """The ids of `delta_ids` whose delta is complete: the only ones
    readers take."""
    return [i for i in delta_ids(root, below) if is_complete(_delta_dir(root, i))]


def _parquet_rows(paths: list[str]) -> int:
    """Exact row count of the parquet files under `paths`, read on the
    driver from the footers (num_rows is mandatory metadata): no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
        for p in paths
        for f in os.listdir(p)
        if f.endswith(".parquet")
    )


def _roots(view: View, state_dir: str) -> tuple[str, str]:
    """(compaction root, delta root) of `view`; a stale layout that kept
    deltas under a virtual view's own root fails loudly."""
    root, droot = (os.path.join(state_dir, r) for r in view.roots)
    if droot != root and delta_ids(root):
        raise ValueError(
            f"stale state layout: {root} holds delta= dirs, but this view "
            f"reads its deltas from {droot}. Rebuild the state from its source."
        )
    return root, droot


def resolve(view: View, state_dir: str, below: int = _TOP) -> tuple[list, list]:
    """(compaction paths, delta paths) a reader at `below` reads."""
    root, droot = _roots(view, state_dir)
    usable = {v: p for v, (_, p) in _complete(root).items() if v <= below}
    floor = max(usable, default=0)
    compact = [usable[floor]] if usable else []
    deltas = [_delta_dir(droot, i) for i in _complete_deltas(droot, below) if i >= floor]
    return compact, deltas


def read_view(spark, view: View, state_dir: str, below: int = _TOP) -> DataFrame:
    """The view's rows strictly below batch id `below` (see `resolve`)."""
    compact, deltas = resolve(view, state_dir, below)
    if view.project is None:
        paths = compact + deltas
        parts = [spark.read.schema(view.schema).parquet(*paths)] if paths else []
    else:
        parts = [spark.read.schema(view.schema).parquet(*compact)] if compact else []
        if deltas:
            tail = spark.read.schema(view.delta_schema).parquet(*deltas)
            parts.append(view.project(tail))
    if not parts:
        return spark.createDataFrame([], view.schema)
    return functools.reduce(DataFrame.unionByName, parts)


def _minus(frame: DataFrame, mask: DataFrame, key: str, cols: tuple) -> DataFrame:
    # a join on a column name moves that column first: restore the
    # view's order, so a masked read has the unmasked read's schema
    order = frame.columns
    for c in cols:
        m = mask if c == key else mask.withColumnRenamed(key, c)
        frame = frame.join(m, c, "left_anti")
    return frame.select(*order)


def read_masked(
    spark, family: Family, view: View, state_dir: str, below: int = _TOP
) -> DataFrame:
    """`read_view` minus the family mask at the same read point. The
    anti-join is added only when the mask holds rows below that point
    (`read_mask`), so a state that retired nothing there keeps the plain
    read plan."""
    for v in family.views:
        _roots(v, state_dir)  # a stale layout of any view fails loudly
    out = read_view(spark, view, state_dir, below)
    mask = read_mask(spark, family, state_dir, below)
    return out if mask is None else _minus(out, mask, family.key, view.masked)


def read_mask(
    spark, family: Family, state_dir: str, below: int = _TOP
) -> DataFrame | None:
    """The family's retired ids below `below`, or None when the mask
    resolves no rows there: nothing retired yet, a read point below the
    first retirement, or the empty mask a vacuum leaves. The rows are
    counted from the parquet footers, with no Spark job."""
    if _parquet_rows(sum(resolve(family.mask, state_dir, below), [])) == 0:
        return None
    return read_view(spark, family.mask, state_dir, below)


def read_deltas(spark, view: View, state_dir: str) -> DataFrame | None:
    """Every complete RAW delta of a view that reads its own deltas, in
    one scan (compactions skipped), or None when there is none."""
    _, droot = _roots(view, state_dir)
    paths = [_delta_dir(droot, b) for b in _complete_deltas(droot)]
    return spark.read.schema(view.schema).parquet(*paths) if paths else None


def read_provenance(spark, view: View, state_dir: str, tag: str) -> DataFrame:
    """The view rows of every complete RAW delta, each tagged with its
    batch id in column `tag`. Compactions are skipped on purpose:
    provenance is what compaction erases. The loop builds a union plan;
    rows never collect."""
    _, droot = _roots(view, state_dir)
    frames = []
    for b in _complete_deltas(droot):
        frame = spark.read.schema(view.delta_schema or view.schema).parquet(
            _delta_dir(droot, b)
        )
        if view.project is not None:
            frame = view.project(frame)
        frames.append(frame.withColumn(tag, F.lit(b).cast("long")))
    if not frames:
        return spark.createDataFrame([], f"{view.schema}, {tag} long")
    return functools.reduce(DataFrame.unionByName, frames)


def log_epoch(state_dir: str) -> int:
    """Persisted log epoch of a state dir: 0 until a vacuum bumps it.
    Every writer maps its batch id to ``batch id + epoch`` (`begin_batch`).
    A malformed file raises rather than reading 0: an under-numbered id
    is exactly the reader-invisible delta the floor guard refuses."""
    try:
        with open(os.path.join(state_dir, _EPOCH_FILE), encoding="utf-8") as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return 0


def _bump_epoch(state_dir: str, roots: list[str]) -> int:
    """Raise the log epoch to sit at/above every delta id (+1) and
    compaction version across `roots`: a resumed checkpoint's batch 0
    then maps to the vacuum stamp itself and later batches above it.
    Monotone and idempotent."""
    stamp = max(
        [0]
        + [i + 1 for r in roots for i in delta_ids(r)]
        + [v for r in roots for v in compact_versions(r)]
    )
    new = max(stamp, log_epoch(state_dir))
    if new != log_epoch(state_dir):
        replace_file(os.path.join(state_dir, _EPOCH_FILE), "text", str(new))
    return new


def begin_batch(views: tuple, state_dir: str, batch_id: int, what: str) -> int:
    """Map `batch_id` through the log epoch and refuse a first-time write
    below the compaction floor of any of `views`. Returns the id to write."""
    batch_id += log_epoch(state_dir)
    for view in views:
        root, droot = _roots(view, state_dir)
        vs = compact_versions(root)
        replay = os.path.isdir(os.path.join(droot, f"delta={batch_id}"))
        if vs and batch_id < vs[-1] and not replay:
            raise ValueError(
                f"{what}[{view.root}]: batch_id {batch_id} is below this index "
                f"root's compaction floor v={vs[-1]} and is not a replay (no "
                f"existing delta={batch_id}) — the write would be invisible "
                "to every reader. Writers must use monotone batch ids; "
                "after a vacuum, continue strictly above the vacuum version."
            )
    return batch_id


def write_delta(view: View, frame: DataFrame, state_dir: str, batch_id: int) -> None:
    """Write `frame` as the view's delta of `batch_id` (an id already
    mapped by `begin_batch`). A replay overwrites a torn delta and leaves
    a complete one in place: it carries the same rows."""
    out = _delta_dir(_roots(view, state_dir)[1], batch_id)
    if not is_complete(out):
        write_frame(frame, out)


def _commit(frame: DataFrame, root: str, version: int) -> str:
    """Write `frame` as the next generation of compaction `version` (the
    first is plain v=<version>, and a torn one is overwritten), then drop
    the generations it supersedes. Returns the written dir."""
    gen = _complete(root).get(version, (-1, ""))[0] + 1
    out = os.path.join(root, "compact", f"v={version}" + (f".{gen}" if gen else ""))
    write_frame(frame, out)
    _drop(root, lambda v, g: v == version and g < gen)
    return out


def _drop(root: str, doomed: Callable[[int, int], bool]) -> None:
    """Remove every compaction dir, complete or torn, whose (version,
    generation) is doomed."""
    for v, g, p in _compactions(root):
        if doomed(v, g):
            _effect("remove", p)


def _write_compaction(
    view: View, state_dir: str, version: int, frame: DataFrame | None = None
) -> str:
    """Commit `frame` as the view's compaction `version`, clustered and
    sorted on its layout (None: an empty compaction, written on the
    driver), then remove every older compaction version. Refuses while a
    delta below `version` is torn: the new floor would hide that batch's
    replay from every reader."""
    root, droot = _roots(view, state_dir)
    torn = sorted(set(delta_ids(droot, version)) - set(_complete_deltas(droot)))
    if torn:
        raise ValueError(
            f"{_delta_dir(droot, torn[0])} has no _SUCCESS: batch {torn[0]} "
            f"did not commit. Replay batch {torn[0]} before compacting at "
            f"v={version}, or its replay is hidden from every reader."
        )
    if frame is None:
        import pyarrow as pa

        out = os.path.join(root, "compact", f"v={version}")
        empty = pa.table({c: pa.array([], pa.int64()) for c in view.layout})
        _publish_dir(out, [("part-00000.parquet", "table", empty)])
    else:
        layout = view.layout
        frame = frame.repartition(*layout).sortWithinPartitions(*layout)
        out = _commit(frame, root, version)
    _drop(root, lambda v, g: v < version)
    return out


def maybe_compact(spark, view: View, state_dir: str, batch_id: int) -> None:
    """Fold the view below `batch_id` into compact/v=<batch_id> once
    COMPACT_EVERY deltas have accumulated since the newest compaction.
    Incremental: it reads that compaction plus the tail deltas only, so
    total rewrite cost is one view copy per COMPACT_EVERY batches. A
    replay of the trigger batch finds its complete version and skips."""
    root, droot = _roots(view, state_dir)
    vs = compact_versions(root)
    if vs and vs[-1] >= batch_id:
        return
    floor = vs[-1] if vs else 0
    if len([i for i in delta_ids(droot, batch_id) if i >= floor]) < COMPACT_EVERY:
        return
    _write_compaction(
        view, state_dir, batch_id, read_view(spark, view, state_dir, batch_id)
    )


def write_mask(
    family: Family, ids: DataFrame, batch_id: int, state_dir: str, what: str
) -> None:
    """Append one mask delta of the distinct ids in `ids` (a takedown or
    a tombstone): epoch mapping, floor guard, compaction cadence and
    overwrite-on-replay, like every other delta."""
    mask, key = family.mask, family.key
    batch_id = begin_batch((mask,), state_dir, batch_id, what)
    maybe_compact(ids.sparkSession, mask, state_dir, batch_id)
    write_delta(mask, ids.select(key).dropDuplicates([key]), state_dir, batch_id)


def _snapshot_root(view: View, state_dir: str) -> str:
    """A snapshot view's root; the layout before this layer, with v=<n>
    dirs directly under the state dir, fails loudly."""
    listing = os.listdir(state_dir) if os.path.isdir(state_dir) else []
    stale = sorted(d for d in listing if re.fullmatch(r"v=\d+", d))
    if stale:
        raise ValueError(
            f"stale state layout: {state_dir} holds {stale[0]}, but snapshots "
            f"now live under {view.root}/compact/. Rebuild the state from its "
            "source."
        )
    return os.path.join(state_dir, view.root)


def read_snapshot(
    spark, view: View, state_dir: str, below: int = _TOP
) -> DataFrame | None:
    """The newest complete snapshot strictly below batch id `below`, or
    None when there is none."""
    done = _complete(_snapshot_root(view, state_dir))
    usable = [v for v in done if v < below]
    return spark.read.parquet(done[max(usable)][1]) if usable else None


def write_snapshot(view: View, frame: DataFrame, state_dir: str, batch_id: int) -> None:
    """Commit `frame` as the snapshot of `batch_id`, then drop every
    version below its predecessor (see the module docstring)."""
    root = _snapshot_root(view, state_dir)
    below = [v for v in compact_versions(root) if v < batch_id]
    _commit(frame, root, batch_id)
    if below:
        _drop(root, lambda v, g: v < below[-1])


def prune_snapshot(spark, view: View, state_dir: str, dead) -> int:
    """Rewrite the newest snapshot without the rows matching the Column
    predicate `dead`, as the next generation of the same version, and
    drop the generations it supersedes (also those a crashed pass left).
    Returns the number of rows removed; a clean snapshot is untouched."""
    root = _snapshot_root(view, state_dir)
    done = _complete(root)
    if not done:
        return 0
    version = max(done)
    snap = spark.read.parquet(done[version][1])
    n = snap.filter(dead).count()
    if n:
        _commit(snap.filter(~dead), root, version)
    _drop(root, lambda v, g: v == version and g < done[version][0])
    return n


def vacuum(spark, family: Family, state_dir: str, bump_epoch: bool = False) -> int:
    """Physically prune masked rows from every masked view and swap the
    mask empty, in one version stamp. Returns the number of view rows
    pruned. bump_epoch=True then raises the log epoch to the stamp."""
    n = _prune(spark, family, state_dir)
    if bump_epoch:
        _bump_epoch(state_dir, [os.path.join(state_dir, r) for r in family.roots])
    return n


def _prune(spark, family: Family, state_dir: str) -> int:
    from concurrent.futures import ThreadPoolExecutor

    mask, key = family.mask, family.key
    mask_rows = read_mask(spark, family, state_dir)
    if mask_rows is None:
        # an empty mask prunes nothing and needs no swap: nothing was
        # retired, or the state right after a completed vacuum. A crash
        # between the swaps leaves mask rows visible, which falls
        # through and completes the vacuum.
        return 0
    data = [v for v in family.views if v.masked]
    paths = {os.path.join(state_dir, r) for v in (mask, *data) for r in v.roots}
    vid = 1 + max(i for p in paths for i in delta_ids(p) + compact_versions(p))

    def _rewrite(view: View) -> int:
        # count BEFORE the write: the cleanup removes the superseded
        # compaction this file set may include. The anti-join keeps rows
        # as they are, so inputs minus output IS the prune count.
        compact, deltas = resolve(view, state_dir)
        rows_in = _parquet_rows(compact) + view.fanout * _parquet_rows(deltas)
        pruned = _minus(read_view(spark, view, state_dir), mask_rows, key, view.masked)
        return rows_in - _parquet_rows([_write_compaction(view, state_dir, vid, pruned)])

    # the views share no state: rewrite them concurrently
    with ThreadPoolExecutor(max_workers=min(3, len(data))) as pool:
        n_pruned = sum(pool.map(_rewrite, data))
    # mask swap LAST, as an empty compaction at the same version
    _write_compaction(mask, state_dir, vid)
    return n_pruned


def clone(family: Family, src: str, dst: str, as_of: int) -> None:
    """Branch a state dir at `as_of`: copy the header files and the file
    set every view (and the mask) resolves at `as_of`, and set the
    branch's epoch = as_of, so a new checkpoint's batch 0 lands on the
    fork point. The branch is built in a staging dir beside `dst` and
    renamed onto it last, so `dst` (absent or empty) holds nothing of
    it or all of it. A re-run clears a torn staging dir; a re-run over
    the finished clone changes nothing. Driver-side file copies only:
    no Spark job."""
    if os.path.isdir(dst) and os.listdir(dst):
        if os.path.exists(os.path.join(dst, _EPOCH_FILE)) and log_epoch(dst) == as_of:
            return
        raise ValueError(f"clone: {dst} is not empty; a branch needs a fresh dir")
    stage = os.path.normpath(dst) + ".clone"
    remove(stage)
    os.makedirs(stage)
    for name in family.files:
        _effect("copy", os.path.join(stage, name), os.path.join(src, name))
    views = (*family.views, family.mask)
    for p in dict.fromkeys(p for v in views for p in sum(resolve(v, src, as_of), [])):
        copies = [(n, "copy", os.path.join(p, n)) for n in sorted(os.listdir(p))]
        _publish_dir(
            os.path.join(stage, os.path.relpath(p, src)),
            [c for c in copies if c[0] != "_SUCCESS"],
        )
    _effect("text", os.path.join(stage, _EPOCH_FILE), str(as_of))
    _effect("replace", dst, stage)


def wipe(family: Family, state_dir: str) -> None:
    """Remove every root, the epoch and the header files of a family:
    the restart of a sink whose checkpoint lineage changed."""
    for name in (*family.roots, *family.files, _EPOCH_FILE):
        remove(os.path.join(state_dir, name))
