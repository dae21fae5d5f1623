"""Seeded input generators. Same seed, byte-identical inputs.

Everything is drawn from one ``numpy.random.Generator(PCG64(seed))`` per
input, so the generators need no Spark and run before the session starts.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

COPY_COLUMNS = ["id", "name", "note", "flag", "ts", "score", "qty"]
COPY_TYPES = ["long", "string", "string", "bool", "timestamp", "double", "long"]

_WORDS = (
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu", "a,b", 'say "hi"',
    '""', "x\"y", "NULL-ish", "null", "true", "12345",
)
_EPOCH = int(dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc).timestamp())


def _join_words(rng: np.random.Generator, n: int, k: int) -> pa.Array:
    words = pa.array(_WORDS, pa.string())
    cols = [words.take(rng.integers(0, len(words), size=n)) for _ in range(k)]
    return pc.binary_join_element_wise(*cols, " ")


def copy_table(seed: int, n_rows: int) -> pa.Table:
    """The copy_bulk source table. Edge cells on purpose:

    - ``name`` strings carry ``"`` characters and commas;
    - ``note`` holds the string ``"NULL"`` in about 1% of rows and SQL
      NULL in about 5%, so the quoted-vs-bare null-literal rule is
      exercised on every pass;
    - bool, timestamp (whole seconds, UTC), double and long columns each
      carry SQL NULLs.
    """
    rng = np.random.default_rng(seed)
    ids = np.arange(n_rows, dtype=np.int64) + int(rng.integers(0, 1 << 40))
    name = _join_words(rng, n_rows, 3)
    kind = rng.random(n_rows)
    note = pc.if_else(
        pa.array(kind < 0.01), "NULL", _join_words(rng, n_rows, 2)
    )
    note = pc.if_else(pa.array((kind >= 0.01) & (kind < 0.06)), None, note)
    flag = rng.random(n_rows) < 0.5
    ts = _EPOCH + rng.integers(0, 5 * 365 * 86400, size=n_rows)
    score = rng.standard_normal(n_rows) * 10.0 ** rng.integers(-3, 7, size=n_rows)
    # |qty| stays below 2**53: cli.run_write passes every row through a
    # pandas stage (progress.instrument) that turns a nullable long
    # column into float64, so larger values would not survive the copy.
    qty = rng.integers(-(10**12), 10**12, size=n_rows, dtype=np.int64)

    def nulls(p: float) -> np.ndarray:
        return rng.random(n_rows) < p

    return pa.table(
        {
            "id": pa.array(ids),
            "name": name,
            "note": note,
            "flag": pa.array(flag, mask=nulls(0.03)),
            "ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC"), mask=nulls(0.03)),
            "score": pa.array(score, mask=nulls(0.03)),
            "qty": pa.array(qty, mask=nulls(0.03)),
        }
    )


def write_copy_csv(table: pa.Table, path: str) -> None:
    """Render ``table`` as the CSV the COPY surface reads: a header row,
    strings always quoted with ``""`` escapes, SQL NULL as a bare
    ``NULL``, booleans as ``true``/``false``, timestamps in the
    ``2006-01-02 15:04:05-0700`` layout, at UTC."""
    cells = []
    for name in table.column_names:
        c = table[name]
        if pa.types.is_string(c.type):
            c = pc.binary_join_element_wise('"', pc.replace_substring(c, '"', '""'), '"', "")
        elif pa.types.is_timestamp(c.type):
            secs = pc.fill_null(pc.cast(c, pa.int64()), 0).to_numpy() // 1_000_000
            text = np.datetime_as_string(secs.astype("datetime64[s]")).astype(object)
            c = pa.array(
                [t.replace("T", " ") + "+0000" for t in text],
                pa.string(),
                mask=pc.is_null(c).to_numpy(zero_copy_only=False),
            )
        elif pa.types.is_boolean(c.type):
            c = pc.if_else(c, "true", "false")
        else:
            c = pc.cast(c, pa.string())
        cells.append(pc.fill_null(c, "NULL"))
    lines = pc.binary_join_element_wise(*cells, ",")
    with open(path, "w", encoding="utf-8") as f:
        f.write(",".join(table.column_names) + "\n")
        f.write("\n".join(lines.to_pylist()))
        f.write("\n")


# --------------------------------------------------------------------------
# stream_lifecycle: a document stream with planted duplicates and rejects
# --------------------------------------------------------------------------

_STOPS = ("the", "data", "value", "table")
# shares of a batch: exact and near duplicates (of the minhash slice
# only), and gate rejects
_DUP_RATE, _NEAR_RATE, _REJECT_RATE = 0.04, 0.04, 0.08
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    lengths = rng.integers(3, 9, size=size)
    letters = _LETTERS[rng.integers(0, 26, size=(size, 8))]
    words = {"".join(row[:n]) for row, n in zip(letters, lengths)}
    return np.array(sorted(words - set(_STOPS)), dtype=object)


class DocStream:
    """Seeded document batches for the curation and minhash kernels.

    Batch ``b`` holds ``batch_docs`` documents with ascending, globally
    unique doc_ids; its first ``minhash_docs`` rows are the minhash
    slice. Planted per batch, all drawn from earlier documents of the
    minhash slices so both kernels see them:

    - exact duplicates: an earlier text under a new doc_id (curation
      drops them; minhash pairs them with jaccard 1.0);
    - near-duplicates: an earlier text with two tokens replaced
      (curation admits them; minhash pairs them, jaccard about 0.85);
    - gate rejects: texts under 10 tokens or without two stop words.

    ``planted`` lists (doc_id, kind, source doc_id or -1) for every
    planted document. ``takedowns(r, delivered)`` is round r's takedown
    id set: a seeded 1% sample of the delivered doc_ids.
    """

    def __init__(self, seed: int, batch_docs: int, minhash_docs: int) -> None:
        self.seed = seed
        self.batch_docs = batch_docs
        self.minhash_docs = minhash_docs
        self._vocab = _vocab(np.random.default_rng([seed, 0]), 6000)
        self._pool: list[tuple[int, list[str]]] = []  # minhash-slice docs so far
        self._batches = 0
        self.planted: list[tuple[int, str, int]] = []

    def batch(self, b: int) -> pa.Table:
        """Batch ``b``; batches must be drawn in order 0, 1, 2, ..."""
        if b != self._batches:
            raise ValueError(f"batch {b} requested out of order")
        self._batches += 1
        rng = np.random.default_rng([self.seed, 1, b])
        n, v = self.batch_docs, len(self._vocab)
        kinds = rng.random(n)
        lengths = rng.integers(40, 120, size=n)
        words = self._vocab[rng.integers(0, v, size=int(lengths.sum()))]
        stop_pos = (rng.random((n, 3)) * lengths[:, None]).astype(np.int64)
        stop_word = rng.integers(0, len(_STOPS), size=(n, 3))
        pick = rng.random(n)
        swap_pos = rng.random((n, 2))
        swap_word = self._vocab[rng.integers(0, v, size=(n, 2))]
        pool = self._pool
        first = b * n
        texts: list[list[str]] = []
        offset = 0
        for i in range(n):
            k = kinds[i]
            fresh = list(words[offset: offset + lengths[i]])
            offset += lengths[i]
            for pos, w in zip(stop_pos[i], stop_word[i]):
                fresh[pos] = _STOPS[w]
            if i < self.minhash_docs and pool and k < _DUP_RATE + _NEAR_RATE:
                src_id, src = pool[int(pick[i] * len(pool))]
                toks = list(src)
                if k >= _DUP_RATE:
                    for pos, w in zip(swap_pos[i], swap_word[i]):
                        toks[int(pos * len(toks))] = w
                self.planted.append((first + i, "exact" if k < _DUP_RATE else "near", src_id))
            elif k > 1.0 - _REJECT_RATE / 2:
                toks = fresh[:8]
                self.planted.append((first + i, "short", -1))
            elif k > 1.0 - _REJECT_RATE:
                toks = [t for t in fresh if t not in _STOPS]
                self.planted.append((first + i, "no_stops", -1))
            else:
                toks = fresh
            texts.append(toks)
            if i < self.minhash_docs:
                pool.append((first + i, toks))
        text = [" ".join(t) for t in texts]
        return pa.table(
            {
                "doc_id": pa.array(np.arange(first, first + n, dtype=np.int64)),
                "text": pa.array(text, pa.string()),
                "n_chars": pa.array([len(t) for t in text], pa.int64()),
            }
        )

    def takedowns(self, r: int, delivered: int) -> np.ndarray:
        """Round ``r``'s takedown ids among doc_ids ``[0, delivered)``."""
        rng = np.random.default_rng([self.seed, 2, r])
        return np.unique(rng.integers(0, delivered, size=max(1, delivered // 100)))
