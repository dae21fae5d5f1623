"""CDC/changelog LWW property fuzz (r8 VERDICT item 5).

cdc_apply_changelog and continuous_cdc_sink are green but were
single-fixture: this pins the last-writer-wins contract the way
test_csv_property.py pinned RFC-4180 — random op sequences (inserts,
updates, deletes, DUPLICATE sequence numbers, reordered arrival,
arbitrary micro-batch slicing) against a pure-Python reference of the
documented resolution order: per key the row with (seq DESC, op ASC)
wins — at equal seq the delete marker ('D' < 'I' < 'U' in binary
order) survives as a tombstone and late lower-seq changes lose to it.

Two invariants, each of which a real-world producer bug would hit:

1. REFERENCE PARITY — the shared last-writer-wins fold (keep_min_by,
   which cdc_apply_changelog, stream_cdc_apply and the sink run) applied
   once to the whole log, and the sink's merged state, each equal the
   pure-Python fold for any random changelog, including seq collisions.
2. ARRIVAL INVARIANCE — the SAME log sliced into different micro-batch
   partitionings (one shot vs per-file triggers vs a shuffled row
   order) lands in the SAME final state: cross-batch merge must be
   associative/commutative over the versioned state, or replays and
   repartitioned producers would diverge.
"""

from __future__ import annotations

import os
import random
import time

import pandas as pd
from pyspark.sql import functions as F

from cqlcopy_spark.functions.skew import keep_min_by
from cqlcopy_spark.streaming.sinks import (
    continuous_cdc_sink,
    read_agg_state,
    read_cdc_state,
)

SCHEMA = "key long, seq long, op string, val double"


def _random_log(seed: int, n_rows: int, n_keys: int, seq_space: int):
    """Random changelog. val is a pure function of (key, seq, op) so
    exact-duplicate (key, seq, op) rows carry identical payloads — the
    resolution contract orders on (seq, op) only, so rows equal on both
    must be equal tuples for ANY engine order to be deterministic."""
    rng = random.Random(seed)
    rows = []
    for _ in range(n_rows):
        key = rng.randrange(n_keys)
        seq = rng.randrange(seq_space)  # dense → frequent duplicates
        op = rng.choice("IUD")
        rows.append((key, seq, op, float(key * 1000 + seq * 7 + ord(op))))
    rng.shuffle(rows)  # reordered arrival
    return rows


def _ref_lww(rows):
    """Pure-Python reference: winner per key by (seq DESC, op ASC)."""
    win: dict[int, tuple] = {}
    for key, seq, op, val in rows:
        cur = win.get(key)
        if cur is None or (-seq, op) < (-cur[1], cur[2]):
            win[key] = (key, seq, op, val)
    return win


def _fold(spark, rows) -> set:
    """The shared LWW fold over the whole log in one shot, ordered as
    the sink orders it: (seq DESC NULLS LAST, op ASC)."""
    log = spark.createDataFrame(rows, SCHEMA)
    order = (F.col("seq").isNull(), -F.col("seq"), F.col("op"))
    out = keep_min_by(log, "key", order=order).collect()
    return {(r["key"], r["seq"], r["op"], r["val"]) for r in out}


def _run_sink(spark, tmp_path, tag: str, batches) -> tuple[set, set]:
    """Drive continuous_cdc_sink over the given micro-batch slices;
    return (live rows, full state incl. tombstones) as tuple sets."""
    stage = str(tmp_path / f"stage_{tag}")
    os.makedirs(stage)
    now = time.time()
    for i, b in enumerate(batches):
        f = os.path.join(stage, f"b{i}.parquet")
        pd.DataFrame(b, columns=["key", "seq", "op", "val"]).to_parquet(f)
        # mtime spacing fixes the per-trigger file order
        os.utime(f, (now - 60 * (len(batches) - i), now - 60 * (len(batches) - i)))
    state = str(tmp_path / f"state_{tag}")
    src = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        continuous_cdc_sink(
            src, state, str(tmp_path / f"ckpt_{tag}"), key_col="key", seq_col="seq"
        )
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    live = {
        (r["key"], r["seq"], r["op"], r["val"])
        for r in read_cdc_state(spark, state).collect()
    }
    full = {
        (r["key"], r["seq"], r["op"], r["val"])
        for r in read_agg_state(spark, state).collect()
    }
    return live, full


def test_cdc_lww_matches_reference_and_is_arrival_invariant(spark, tmp_path):
    for seed in (11, 29, 47):
        rows = _random_log(seed, n_rows=160, n_keys=24, seq_space=12)
        win = _ref_lww(rows)
        want_full = set(win.values())
        want_live = {w for w in win.values() if w[2] != "D"}
        assert _fold(spark, rows) == want_full, f"seed {seed}: fold != reference"

        # one-shot apply (the cdc_apply_changelog batch shape)
        live1, full1 = _run_sink(spark, tmp_path, f"s{seed}_one", [rows])
        assert live1 == want_live, f"seed {seed}: live != reference"
        # tombstones RETAINED: a late lower-seq change must keep losing
        assert full1 == want_full, f"seed {seed}: state != reference"

        # same log, sliced into 4 sequential micro-batches
        k = len(rows) // 4
        slices = [rows[i * k : (i + 1) * k] for i in range(3)] + [rows[3 * k :]]
        live2, full2 = _run_sink(spark, tmp_path, f"s{seed}_sliced", slices)
        assert live2 == want_live and full2 == want_full, (
            f"seed {seed}: sliced arrival diverged from one-shot"
        )


def test_cdc_equal_seq_collision_storm(spark, tmp_path):
    """Worst-case producer bug: EVERY row of a key shares one seq. The
    resolution must still be the documented op-ASC tie ('D' first) —
    never partition-visit order."""
    rows = []
    for key in range(12):
        ops = ["U", "I", "D"][: (key % 3) + 1]  # some keys lack a 'D'
        for op in ops:
            rows.append((key, 5, op, float(key * 1000 + 35 + ord(op))))
    random.Random(3).shuffle(rows)
    win = _ref_lww(rows)
    assert _fold(spark, rows) == set(win.values())
    live, full = _run_sink(spark, tmp_path, "storm", [rows[:9], rows[9:]])
    assert full == set(win.values())
    assert live == {w for w in win.values() if w[2] != "D"}


def test_merge_upsert_kernel_matches_dict_merge_fuzz(spark):
    """merge_upsert's kernel (apply_upsert) against the pure-Python
    reference dict(base) | dict(deltas): delta rows win on key,
    unmatched base rows survive, new keys append — for random key sets
    with every overlap shape (disjoint, subset, superset, partial)."""
    import random

    from cqlcopy_spark.operators.relational import apply_upsert

    for seed in (5, 17, 61):
        rng = random.Random(seed)
        base_keys = rng.sample(range(60), rng.randrange(5, 40))
        delta_keys = rng.sample(range(80), rng.randrange(1, 30))
        base = [(k, f"b{k}", float(k)) for k in base_keys]
        deltas = [(k, f"d{k}", k * 1.5) for k in delta_keys]
        want = {k: (v, x) for k, v, x in base}
        want.update({k: (v, x) for k, v, x in deltas})

        out = apply_upsert(
            spark.createDataFrame(base, "key long, val string, x double"),
            spark.createDataFrame(deltas, "key long, val string, x double"),
            "key",
        ).collect()
        got = {r["key"]: (r["val"], r["x"]) for r in out}
        assert len(out) == len(got), f"seed {seed}: duplicate keys in output"
        assert got == want, f"seed {seed}"
