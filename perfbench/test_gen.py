"""The benchmark's inputs are a function of the seed alone.

    python -m pytest perfbench/test_gen.py -q

Needs no Spark session.
"""

from __future__ import annotations

import hashlib
import io

import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen


def _copy_bytes(seed: int, tmp_path) -> tuple[bytes, bytes]:
    table = gen.copy_table(seed, 5000)
    buf = io.BytesIO()
    pq.write_table(table, buf)
    csv = tmp_path / f"t{seed}.csv"
    gen.write_copy_csv(table, str(csv))
    return buf.getvalue(), csv.read_bytes()


def _stream_digest(seed: int) -> str:
    stream = gen.DocStream(seed, batch_docs=400, minhash_docs=150)
    h = hashlib.sha256()
    for b in range(4):
        for t in stream.batch(b)["text"].to_pylist():
            h.update(t.encode())
        h.update(stream.takedowns(b, (b + 1) * 400).tobytes())
    return h.hexdigest()


def test_copy_inputs_repeat_byte_for_byte(tmp_path):
    assert _copy_bytes(7, tmp_path) == _copy_bytes(7, tmp_path)
    assert _copy_bytes(7, tmp_path) != _copy_bytes(8, tmp_path)


def test_copy_table_holds_every_edge_cell():
    t = gen.copy_table(3, 20_000)
    assert pc.sum(pc.equal(t["note"], "NULL")).as_py() > 0
    assert t["note"].null_count > 0
    assert pc.any(pc.match_substring(t["name"], '"')).as_py()
    for name in ("flag", "ts", "score", "qty"):
        assert t[name].null_count > 0


def test_stream_repeats_byte_for_byte():
    assert _stream_digest(11) == _stream_digest(11)
    assert _stream_digest(11) != _stream_digest(12)


def test_stream_plants_duplicates_near_duplicates_and_rejects():
    stream = gen.DocStream(5, batch_docs=2000, minhash_docs=500)
    text = {}
    for b in range(3):
        batch = stream.batch(b)
        text.update(zip(batch["doc_id"].to_pylist(), batch["text"].to_pylist()))
    kinds = {}
    for doc_id, kind, src in stream.planted:
        kinds[kind] = kinds.get(kind, 0) + 1
        toks = text[doc_id].split(" ")
        if kind == "exact":
            assert text[doc_id] == text[src] and src < doc_id
        elif kind == "near":
            src_toks = text[src].split(" ")
            assert len(toks) == len(src_toks) and src < doc_id
            assert 0 < sum(a != c for a, c in zip(toks, src_toks)) <= 2
        elif kind == "short":
            assert len(toks) < 10
        else:
            assert sum(t in ("the", "data", "value", "table") for t in toks) == 0
    assert set(kinds) == {"exact", "near", "short", "no_stops"}
    assert min(kinds.values()) >= 10
