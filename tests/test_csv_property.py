"""Property tests for the quote-preserving RFC-4180 field tokenizer
(cqlcopy_spark/sources/csv_source.parse_csv_dynamic) against Python's
csv module — the tokenizer is load-bearing for COPY parity (r04 VERDICT
item 8): every line of every `write --dynamic` load flows through it,
and a disagreement with the standard library's parser would silently
corrupt field values or quote flags.

Each example draws a list of lines of one field count and parses the
whole list in one Spark job; one small file is one partition, so the
rows come back in line order.

The alphabet deliberately includes the delimiter, the quote char, and
whitespace; embedded newlines are excluded because the tokenizer is
line-scoped by contract (Spark's text reader splits lines first — the
same contract as the reference's per-line channel, write.go:121-156).
"""

from __future__ import annotations

import csv
import io
import itertools

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cqlcopy_spark.config import CopyConfig
from cqlcopy_spark.sources.csv_source import parse_csv_dynamic

# printable-ish field content with a heavy bias toward the metacharacters
_FIELD = st.text(
    alphabet=st.sampled_from(list('",x ;\t\'éλ0')), min_size=0, max_size=12
)
#: 20-40 rows of one width per example: 15 examples check at least 300
#: lines in 15 Spark jobs
_ROWS = st.integers(min_value=1, max_value=6).flatmap(
    lambda n: st.lists(st.lists(_FIELD, min_size=n, max_size=n), min_size=20, max_size=40)
)


def _cut(text: str, cuts: list[int]) -> str:
    """`text` with a comma inserted at each cut point."""
    cuts = sorted(min(c, len(text)) for c in cuts)
    return ",".join(text[a:b] for a, b in zip([0, *cuts], [*cuts, len(text)]))


#: every non-blank raw line over '",x ' of at most 24 characters (the
#: parse skips the blank line instead of returning a row): per example a
#: comma count k in 0-23 and 20-40 lines with exactly k commas, each a
#: comma-free text of at most 24 - k characters cut at k points, parsed
#: as k + 1 columns
_LINES = st.integers(min_value=0, max_value=23).flatmap(
    lambda k: st.lists(
        st.builds(
            _cut,
            st.text(alphabet=st.sampled_from(list('"x ')), max_size=24 - k),
            st.lists(st.integers(min_value=0, max_value=24 - k), min_size=k, max_size=k),
        ).filter(bool),
        min_size=20,
        max_size=40,
    )
)


@pytest.fixture(scope="module")
def parse(spark, tmp_path_factory):
    """lines, ncols → one (fields, error) per line, in line order."""
    root = tmp_path_factory.mktemp("csv_property")
    names = itertools.count()

    def run(lines: list[str], ncols: int) -> list[tuple[list[tuple[str, bool]], str | None]]:
        p = root / f"lines-{next(names)}.csv"
        p.write_text("\n".join(lines) + "\n", encoding="utf-8")
        cols = [f"c{i}" for i in range(ncols)]
        rows = parse_csv_dynamic(spark, str(p), cols, CopyConfig(header=False)).collect()
        assert len(rows) == len(lines)
        return [([(r[c], r[f"{c}__quoted"]) for c in cols], r["_parse_error"]) for r in rows]

    return run


def _render_stdlib(row: list[str], quoting: int) -> str:
    buf = io.StringIO()
    csv.writer(buf, lineterminator="", quoting=quoting).writerow(row)
    return buf.getvalue()


@settings(max_examples=15, deadline=None)
@given(_ROWS)
def test_parse_agrees_with_stdlib_minimal_quoting(parse, rows):
    """parse(stdlib-render) recovers the exact values, and the quoted
    flag is True precisely for the fields the stdlib writer quoted."""
    lines = [_render_stdlib(row, csv.QUOTE_MINIMAL) for row in rows]
    for line, row, (fields, err) in zip(lines, rows, parse(lines, len(rows[0]))):
        assert err is None, (line, err)
        assert [v for v, _ in fields] == row
        # stdlib QUOTE_MINIMAL quotes iff the field contains a metacharacter
        # — except a lone empty field, which it renders as "" so the row
        # isn't an ambiguous empty line
        for (_, quoted), val in zip(fields, row):
            expect = any(c in val for c in ',"\r\n') or row == [""]
            assert quoted == expect, (line, val)


@settings(max_examples=15, deadline=None)
@given(_ROWS)
def test_parse_agrees_with_stdlib_quote_all(parse, rows):
    """Under QUOTE_ALL every field must come back quoted with the same
    value — the flag carries type intent on the COPY surface (quoted
    "NULL" stays a string), so a flag error is a data error."""
    lines = [_render_stdlib(row, csv.QUOTE_ALL) for row in rows]
    for line, row, (fields, err) in zip(lines, rows, parse(lines, len(rows[0]))):
        assert err is None, (line, err)
        assert [v for v, _ in fields] == row
        assert all(q for _, q in fields), line


@settings(max_examples=15, deadline=None)
@given(_ROWS)
def test_parse_matches_csv_reader_on_values(parse, rows):
    """Cross-check the VALUES against csv.reader on the same rendered
    line (reader drops the quote flags; values must agree exactly)."""
    lines = [_render_stdlib(row, csv.QUOTE_MINIMAL) for row in rows]
    for line, (fields, err) in zip(lines, parse(lines, len(rows[0]))):
        assert err is None
        rd = next(csv.reader(io.StringIO(line)))
        assert [v for v, _ in fields] == rd


@settings(max_examples=12, deadline=None)
@given(_LINES)
def test_arbitrary_line_never_crashes_and_errors_are_honest(parse, lines):
    """Fuzz raw lines: the parse must never fail, and whenever it
    reports NO error for an arity-matching parse, csv.reader must agree
    on the values (an unflagged divergence is silent corruption; flagged
    rows go to the parse-error budget, which is allowed to be stricter
    than the stdlib — e.g. a quote followed by more text after it closes)."""
    ncols = lines[0].count(",") + 1
    for line, (fields, err) in zip(lines, parse(lines, ncols)):
        if err is None:
            rd = next(csv.reader(io.StringIO(line)))
            # csv.reader is lenient about bare '"' inside unquoted fields in
            # ways RFC 4180 forbids; only compare when the line is RFC-clean
            rfc_clean = all(('"' not in v) or q for v, q in fields)
            if rfc_clean and len(rd) == ncols:
                assert [v for v, _ in fields] == rd, line
