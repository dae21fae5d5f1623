"""The persisted-state layer: one implementation of the append-only log
behind the curation, minhash and vector-index state families, and of the
full snapshots behind the agg, cdc, topk and quantile sinks.

Layout. A state dir holds one directory per log root, plus an epoch:

    <state>/<root>/delta=<b>/       one overwrite-keyed delta per batch id b
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

Crash contract:
- A directory readers trust lands its _SUCCESS marker last: Spark's
  committer, the driver-side mask swap and the clone copy alike.
  `compact_versions` ignores marker-less dirs and a retry overwrites
  them. A delta is keyed by its batch id, so a replay rewrites it.
- A compaction lands before the versions it supersedes are removed.
- A rewrite of a complete version (`_commit`: a snapshot replay, the
  cdc tombstone pass) lands as a new generation before the generations
  it supersedes are removed, so a crash leaves the old or the new one
  visible, never neither. A re-run of the tombstone pass over its
  post-state finds nothing to prune and returns 0.
- A vacuum lands every data root's new version before the mask swap. A
  crash in between leaves pruned data under a full mask: consistent,
  and a re-run completes it. A re-run over a clean state is a no-op.
- A writer refuses a first-time batch id below a root's newest
  compaction (`begin_batch`): every reader would skip that delta.
  Replays pass, because their delta dir already exists.
- The log epoch lets a checkpoint resume after a vacuum stamped above
  its small batch ids (`vacuum(..., bump_epoch=True)`). It is written
  by temp file and rename, after the vacuum. Bump only against a
  cleanly stopped stream: an in-flight batch replayed after the bump
  re-derives against the vacuumed state.
- A clone copies each view's as-of file set, then writes the branch's
  epoch = as_of last.
- The caller owns a vacuum's horizon claim: a pruned mask row no longer
  guards admission, so nothing retired before the vacuum may be
  delivered again. The raw deltas still show it if it is.

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
    return {
        v: (g, p)
        for v, g, p in _compactions(root)
        if os.path.exists(os.path.join(p, "_SUCCESS"))
    }


def compact_versions(root: str) -> list[int]:
    """Complete compaction versions under root/compact (with _SUCCESS)."""
    return sorted(_complete(root))


def delta_ids(root: str, below: int = _TOP) -> list[int]:
    """Ascending batch ids of the deltas under `root` below `below`."""
    if not os.path.isdir(root):
        return []
    return sorted(
        int(m.group(1))
        for d in os.listdir(root)
        if (m := re.fullmatch(r"delta=(\d+)", d)) and int(m.group(1)) < below
    )


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
    deltas = [
        os.path.join(droot, f"delta={i}") for i in delta_ids(droot, below) if i >= floor
    ]
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
    for c in cols:
        m = mask if c == key else mask.withColumnRenamed(key, c)
        frame = frame.join(m, c, "left_anti")
    return frame


def read_masked(
    spark, family: Family, view: View, state_dir: str, below: int = _TOP
) -> DataFrame:
    """`read_view` minus the family mask at the same read point. The
    anti-join is added only when the mask root exists, so a state that
    never retired anything keeps the plain read plan."""
    for v in family.views:
        _roots(v, state_dir)  # a stale layout of any view fails loudly
    out = read_view(spark, view, state_dir, below)
    mask = read_mask(spark, family, state_dir, below)
    return out if mask is None else _minus(out, mask, family.key, view.masked)


def read_mask(
    spark, family: Family, state_dir: str, below: int = _TOP
) -> DataFrame | None:
    """The family's retired ids below `below`, or None while its mask
    root does not exist (nothing was ever retired)."""
    if not os.path.isdir(os.path.join(state_dir, family.mask.root)):
        return None
    return read_view(spark, family.mask, state_dir, below)


def read_deltas(spark, view: View, state_dir: str) -> DataFrame | None:
    """Every RAW delta of a view that reads its own deltas, in one scan
    (compactions skipped), or None when there is none."""
    _, droot = _roots(view, state_dir)
    paths = [os.path.join(droot, f"delta={b}") for b in delta_ids(droot)]
    return spark.read.schema(view.schema).parquet(*paths) if paths else None


def read_provenance(spark, view: View, state_dir: str, tag: str) -> DataFrame:
    """The view rows of every RAW delta, each tagged with its batch id in
    column `tag`. Compactions are skipped on purpose: provenance is what
    compaction erases. The loop builds a union plan; rows never collect."""
    _, droot = _roots(view, state_dir)
    frames = []
    for b in delta_ids(droot):
        frame = spark.read.schema(view.delta_schema or view.schema).parquet(
            os.path.join(droot, f"delta={b}")
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


def _write_epoch(state_dir: str, epoch: int) -> None:
    os.makedirs(state_dir, exist_ok=True)
    tmp = os.path.join(state_dir, _EPOCH_FILE + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(str(epoch))
    os.replace(tmp, os.path.join(state_dir, _EPOCH_FILE))


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
        _write_epoch(state_dir, new)
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
    mapped by `begin_batch`), overwrite-keyed: a replay rewrites it."""
    _, droot = _roots(view, state_dir)
    frame.write.mode("overwrite").parquet(os.path.join(droot, f"delta={batch_id}"))


def _commit(frame: DataFrame, root: str, version: int) -> str:
    """Write `frame` as the next generation of compaction `version` (the
    first is plain v=<version>, and a torn one is overwritten), then drop
    the generations it supersedes. Returns the written dir."""
    gen = _complete(root).get(version, (-1, ""))[0] + 1
    out = os.path.join(root, "compact", f"v={version}" + (f".{gen}" if gen else ""))
    frame.write.mode("overwrite").parquet(out)
    _drop(root, lambda v, g: v == version and g < gen)
    return out


def _drop(root: str, doomed: Callable[[int, int], bool]) -> None:
    """Remove every compaction dir, complete or torn, whose (version,
    generation) is doomed."""
    for v, g, p in _compactions(root):
        if doomed(v, g):
            shutil.rmtree(p, ignore_errors=True)


def _write_compaction(frame: DataFrame, root: str, version: int, layout: tuple) -> str:
    """Commit `frame` as compaction `version`, clustered and sorted on
    `layout`, then remove every older compaction version."""
    out = _commit(
        frame.repartition(*layout).sortWithinPartitions(*layout), root, version
    )
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
    frame = read_view(spark, view, state_dir, batch_id)
    _write_compaction(frame, root, batch_id, view.layout)


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
    predicate `dead`, as the next generation of the same version.
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

    import pyarrow as pa
    import pyarrow.parquet as pq

    mask, key = family.mask, family.key
    mask_root = os.path.join(state_dir, mask.root)
    if not os.path.isdir(mask_root):
        return 0  # nothing retired — nothing to prune
    data = [v for v in family.views if v.masked]
    paths = {os.path.join(state_dir, r) for v in (mask, *data) for r in v.roots}
    everything = [i for p in paths for i in delta_ids(p) + compact_versions(p)]
    if not everything:
        return 0
    vid = 1 + max(everything)
    if _parquet_rows(sum(resolve(mask, state_dir), [])) == 0:
        # an empty mask prunes nothing and needs no swap: the state right
        # after a completed vacuum. A crash between the swaps leaves mask
        # rows visible, which falls through and completes the vacuum.
        return 0
    mask_rows = read_view(spark, mask, state_dir)

    def _rewrite(view: View) -> int:
        # count BEFORE the write: the cleanup removes the superseded
        # compaction this file set may include. The anti-join keeps rows
        # as they are, so inputs minus output IS the prune count.
        compact, deltas = resolve(view, state_dir)
        rows_in = _parquet_rows(compact) + view.fanout * _parquet_rows(deltas)
        out = _write_compaction(
            _minus(read_view(spark, view, state_dir), mask_rows, key, view.masked),
            os.path.join(state_dir, view.root),
            vid,
            view.layout,
        )
        return rows_in - _parquet_rows([out])

    # the views share no state: rewrite them concurrently
    with ThreadPoolExecutor(max_workers=min(3, len(data))) as pool:
        n_pruned = sum(pool.map(_rewrite, data))
    # mask swap LAST, as an empty compaction at the same version, written
    # on the driver (a zero-row parquet file is metadata only)
    swap_dir = os.path.join(mask_root, "compact", f"v={vid}")
    shutil.rmtree(swap_dir, ignore_errors=True)
    os.makedirs(swap_dir)
    pq.write_table(
        pa.table({key: pa.array([], type=pa.int64())}),
        os.path.join(swap_dir, "part-00000.parquet"),
    )
    with open(os.path.join(swap_dir, "_SUCCESS"), "w", encoding="utf-8"):
        pass
    _drop(mask_root, lambda v, g: v < vid)
    return n_pruned


def _copytree_marker_last(src_dir: str, dst_dir: str) -> None:
    """Copy a delta/compaction dir with its _SUCCESS marker strictly
    last, so a torn copy is never taken for a complete compaction."""
    os.makedirs(dst_dir, exist_ok=True)
    names = os.listdir(src_dir)
    marker = [n for n in names if n == "_SUCCESS"]
    for name in sorted(n for n in names if n != "_SUCCESS") + marker:
        s, d = os.path.join(src_dir, name), os.path.join(dst_dir, name)
        if os.path.isdir(s):
            shutil.copytree(s, d, dirs_exist_ok=True)
        else:
            shutil.copyfile(s, d)


def clone(family: Family, src: str, dst: str, as_of: int) -> None:
    """Branch a state dir at `as_of`: copy the header files, then the file
    set every view (and the mask) resolves at `as_of`, then persist the
    branch's epoch = as_of, so a new checkpoint's batch 0 lands on the
    fork point. Driver-side file copies only: no Spark job. A re-run
    completes a torn clone."""
    os.makedirs(dst, exist_ok=True)
    for name in family.files:
        # temp name + rename: a torn header copy never looks complete (the
        # vector index's codebooks.parquet is its 'trained' sentinel)
        tmp = os.path.join(dst, name + ".tmp")
        shutil.copyfile(os.path.join(src, name), tmp)
        os.replace(tmp, os.path.join(dst, name))
    for view in (*family.views, family.mask):
        compact, deltas = resolve(view, src, as_of)
        for p in compact + deltas:
            _copytree_marker_last(p, os.path.join(dst, os.path.relpath(p, src)))
    _write_epoch(dst, as_of)


def wipe(family: Family, state_dir: str) -> None:
    """Remove every root, the epoch and the header files of a family:
    the restart of a sink whose checkpoint lineage changed."""
    for name in (*family.roots, *family.files, _EPOCH_FILE):
        p = os.path.join(state_dir, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)
