"""Skew mitigation: salted joins and salted aggregation.

AQE's skew-join handling (spark.sql.adaptive.skewJoin.*) splits oversized
shuffle partitions at runtime and is the FIRST tool to reach for — it is
on in session.py and bench.py. Salting is the explicit fallback for the
cases AQE can't fix: a broadcast-ineligible build side whose hot keys
all hash to one task, or a groupBy where one key dominates (AQE cannot
split a single key's hash partition for a non-join aggregate).

- salted_join: replicate each build-side row SALT times (explode over
  the salt range), scatter the probe side uniformly with a random-free
  deterministic salt (hash of a unique column), join on (key, salt).
  Equality with the plain join is exact: every (probe row, build row)
  pair meets on exactly one salt value.

- salted_agg: two-phase aggregation — partial aggregate on
  (key, salt), final aggregate on key. Exact for decomposable
  aggregates (sum/count/min/max); the decimal dsum trick composes
  because decimal addition is associative.

Salt is derived with xxhash64 of a caller-named unique column — never
rand(): deterministic retries (a re-run task salts identically, so
Spark's task retry stays correct) and reproducible plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col


def _no_salt_collision(df: DataFrame) -> None:
    # withColumn would silently OVERWRITE a caller's _salt column and
    # salted_join later drops it — refuse instead (the same guard
    # scan_token_range applies to its helper column)
    if "_salt" in df.columns:
        raise ValueError("input already has a '_salt' column")


def with_probe_salt(df: DataFrame, unique_col: str, n_salts: int) -> DataFrame:
    """Deterministic uniform salt in [0, n_salts) from a unique column."""
    _no_salt_collision(df)
    return df.withColumn("_salt", F.pmod(F.xxhash64(col(unique_col)), F.lit(n_salts)))


def with_build_salts(df: DataFrame, n_salts: int) -> DataFrame:
    """Replicate each build row once per salt value."""
    _no_salt_collision(df)
    return df.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[str],
    probe_unique_col: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on `on` with the probe side's hot keys scattered across
    n_salts tasks. Build side grows n_salts×: use only when build is
    small relative to the skew pain and too big / mid-plan for a plain
    broadcast.

    Only probe-preserving join types are legal: the build side is
    replicated n_salts×, so any type that emits UNMATCHED build rows
    (right/full outer) would emit each of them n_salts times — silently
    wrong, so refuse."""
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti", "leftouter"):
        raise ValueError(
            f"salted_join: how={how!r} would duplicate unmatched build rows "
            f"{n_salts}x (build side is salt-replicated); use a probe-"
            "preserving join type"
        )
    p = with_probe_salt(probe, probe_unique_col, n_salts)
    b = with_build_salts(build, n_salts)
    return p.join(b, on=on + ["_salt"], how=how).drop("_salt")


def keep_min_by(df: DataFrame, key: str, order=(), **aggs: Column) -> DataFrame:
    """Deterministic one-row-per-key keeper: per key, keep the row whose
    remaining-column struct is the MINIMUM (field comparison in the
    frame's column order), compared after the `order` Columns when
    given. Replaces bare dropDuplicates([key]) wherever
    the kept PAYLOAD matters: dropDuplicates picks an ARBITRARY row, so
    a checkpoint replay of a micro-batch carrying the same key with
    conflicting payloads could keep the other row and break the
    'replay rewrites its own delta byte-for-byte' idempotence contract
    (r13 ADVICE). Shape: a partial-combining groupBy + struct unpack —
    never a window over a possibly-hot key (the argmin-per-key rule);
    column order is preserved. A keys-only frame degrades to
    dropDuplicates (nothing to pick between identical rows).

    With `order` = (-seq, ...) this is the one last-writer-wins fold of
    every changelog apply (cdc_apply_changelog, stream_cdc_apply,
    continuous_cdc_sink): the newest row wins, a negated column sorts
    DESC, and a NULL order value sorts first, so a nullable order key
    goes behind its isNull() flag. `aggs` (name=Column) are computed in
    the same aggregate and appended after the frame's columns."""
    others = [c for c in df.columns if c != key]
    if not others:
        return df.dropDuplicates([key])
    keys = [o.alias(f"_o{i}") for i, o in enumerate(order)]
    packed = df.groupBy(key).agg(
        F.min(F.struct(*keys, *[col(c) for c in others])).alias("_row"),
        *[a.alias(n) for n, a in aggs.items()],
    )
    return packed.select(
        key, *[col(f"_row.{c}").alias(c) for c in others], *aggs
    ).select(*df.columns, *aggs)


def salted_sum(
    df: DataFrame,
    key: str,
    value: Column,
    alias: str,
    unique_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """SUM(value) GROUP BY key, resistant to one key dominating: partial
    decimal sums on (key, salt) — at most n_salts rows per key cross the
    second shuffle — then an exact final decimal merge. Output matches
    portable.dsum bit-for-bit (decimal addition is associative)."""
    part = (
        with_probe_salt(df, unique_col, n_salts)
        .groupBy(key, "_salt")
        .agg(F.sum(value.cast("decimal(38,10)")).alias("_part"))
    )
    return (
        part.groupBy(key)
        .agg(F.sum("_part").cast("string").cast("double").alias(alias))
    )
