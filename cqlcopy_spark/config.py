"""Engine configuration mirroring the reference CLI surface.

Every flag of riptl/cqlcopy (write.go:28-42, read.go:25-32, flag.go:3-20)
becomes a field here, with the reference default. Semantic upgrades over
the reference (SURVEY.md §2A quirks) are noted inline:

- floats ARE supported (reference sends them as strings, README.md:11),
- bool literals compare case-insensitively (README.md:18 documents this
  but write.go:210-213 compared case-sensitively).

--max-insert-errors has no field: a batch that exhausts --max-attempts
fails the job (sinks/batched_sink.py), so there is no error count to
budget (write.go:244-248 only logged it).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# Go reference layout "2006-01-02 15:04:05-0700" (write.go:31) expressed as
# a Java/Spark datetime pattern.
_GO_TO_JAVA = [
    ("2006", "yyyy"),
    ("01", "MM"),
    ("02", "dd"),
    ("15", "HH"),
    ("04", "mm"),
    ("05", "ss"),
    # Go "-0700" ALWAYS emits a numeric offset ("+0000" at UTC); Java
    # uppercase "XX" emits "Z" at zero offset — lowercase "xx" matches.
    # Go "Z0700" emits "Z" at UTC, which IS Java "XX".
    ("-0700", "xx"),
    ("Z0700", "XX"),
    (".000", ".SSS"),
]


def go_layout_to_java(layout: str) -> str:
    """Translate a Go reference-time layout to a Java datetime pattern.

    Covers the token vocabulary the reference accepts for --time-format
    (write.go:31,216); unknown runes pass through literally.
    """
    out = layout
    for go, java in _GO_TO_JAVA:
        out = out.replace(go, java)
    return out


# The same Go layout vocabulary as Python strftime tokens, for sinks that
# render timestamps Python-side (batched_sink's DataSourceWriter receives
# datetime objects, not Spark columns). Go "-0700" and "Z0700" both map to
# %z: strftime has no emit-Z-at-UTC token, so Z0700 renders "+0000" at UTC
# — a numeric offset the read side's layout still parses.
_GO_TO_STRFTIME = [
    ("2006", "%Y"),
    ("01", "%m"),
    ("02", "%d"),
    ("15", "%H"),
    ("04", "%M"),
    ("05", "%S"),
    ("-0700", "%z"),
    ("Z0700", "%z"),
]


def go_layout_to_strftime(layout: str) -> str:
    """Translate a Go reference-time layout to a Python strftime pattern
    (same token vocabulary as go_layout_to_java; unknown runes pass
    through literally)."""
    out = layout
    for go, py in _GO_TO_STRFTIME:
        out = out.replace(go, py)
    return out


IDENTIFIER_RE = re.compile(r"^[0-9A-Za-z_.]+$")


def check_identifier(name: str) -> bool:
    """Whitelist check for table/column names (util.go:3-18): the
    reference's injection defense, kept for any SQL we generate."""
    return bool(name) and bool(IDENTIFIER_RE.match(name))


def require_identifiers(*names: str) -> None:
    for n in names:
        if not check_identifier(n):
            raise ValueError(f"invalid identifier: {n!r}")


@dataclass(frozen=True)
class CopyConfig:
    # write path (write.go:28-42)
    header: bool = True                  # --header
    bool_style: tuple[str, str] = ("true", "false")  # --bool-style (true,false)
    time_format_go: str = "2006-01-02 15:04:05-0700"  # --time-format
    null_literal: str = "NULL"           # --null
    num_workers: int = 8                 # --num-processes → target partitions
    chunk_size: int = 1000               # --chunk-size (rows per batch)
    max_batch_kb: int = 20               # --max-batch-size (kB per batch)
    max_attempts: int = 5                # --max-attempts (0 = infinite)
    backoff_s: float = 1.0               # --backoff
    max_parse_errors: int = -1           # --max-parse-errors (-1 = unlimited)
    report_freq_s: float = 0.25          # --report-frequency (floor 0.1)
    # read path (read.go:25-32)
    page_size: int = 128                 # --page-size
    prefetch: int = 1024                 # --prefetch
    partition_key_size: int = 1          # --partition-key-size
    offset: int = -(2 ** 63)             # --offset (exclusive token lower bound)

    @property
    def time_format(self) -> str:
        return go_layout_to_java(self.time_format_go)

    @property
    def time_format_ntz(self) -> str:
        """Zone-less variant for TimestampNTZ columns (parquet fixtures are
        TZ-naive): a Java pattern with an offset token cannot format NTZ."""
        return self.time_format.replace("XX", "").replace("xx", "").strip()

    @property
    def true_literal(self) -> str:
        return self.bool_style[0]

    @property
    def false_literal(self) -> str:
        return self.bool_style[1]


DEFAULT_CONFIG = CopyConfig()
