"""Archive path codec: heights <-> partitioned file paths.

Grammar (reference ``/root/reference/src/archiver/filenames.rs:8-135``):

- singles:  ``<l1>/<l2>/<H9>[.<hash64>].{block|txes|traces}.avro``
- ranges:   ``<l1>/range-<S9>_<E9>.{blocks|txes|traces}.avro``

where ``H9`` is the 9-digit zero-padded height, ``l1 = floor(h/1e6)*1e6`` and
``l2 = floor(h/1e3)*1e3`` (both padded). The optional 64-hex hash is the fork
qualifier on single-block files. A per-blockchain prefix (e.g. ``eth/``)
precedes everything.

The same two derived columns double as the engine's Parquet partition keys, so
Catalyst's static partition pruning reproduces the reference's directory-walk
pruning for free.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import Enum
from typing import Optional

from .ranges import Range

LEVEL1 = 1_000_000
LEVEL2 = 1_000


class DataKind(str, Enum):
    BLOCKS = "blocks"
    TRANSACTIONS = "transactions"
    TRACES = "traces"

    @property
    def single_ext(self) -> str:
        return {"blocks": "block", "transactions": "txes", "traces": "traces"}[self.value]

    @property
    def range_ext(self) -> str:
        return {"blocks": "blocks", "transactions": "txes", "traces": "traces"}[self.value]


@dataclass(frozen=True)
class FileInfo:
    path: str
    kind: DataKind
    range: Range
    hash: Optional[str] = None


# Heights are written 9-digit-padded but parsed as ``\d+`` and an optional
# codec segment may precede the extension (``123.block.snappy.avro``) —
# exactly the reference's lenient grammar (filenames.rs ``RE_SINGLE:
# ^(\d+)\.(hash\.)?(\w+)\.(\w+\.)?avro$``).
SINGLE_RE = re.compile(
    r"(?P<height>\d+)(?:\.(?P<hash>[0-9a-f]{64}))?\.(?P<ext>block|txes|traces)"
    r"(?:\.\w+)?\.(?:avro|parquet)$"
)
RANGE_RE = re.compile(
    r"range-(?P<start>\d+)_(?P<end>\d+)\.(?P<ext>blocks|txes|traces)"
    r"(?:\.\w+)?\.(?:avro|parquet)$"
)

# The same grammar as Spark-SQL regexes, for deriving inventory columns from
# ``input_file_name()`` without leaving the JVM (operators/inventory.py).
SINGLE_SQL_RE = r"(\d+)(?:\.([0-9a-f]{64}))?\.(block|txes|traces)(?:\.\w+)?\.(?:avro|parquet)$"
RANGE_SQL_RE = r"range-(\d+)_(\d+)\.(blocks|txes|traces)(?:\.\w+)?\.(?:avro|parquet)$"


def pad9(height: int) -> str:
    return f"{height:09d}"


def level1_dir(height: int) -> str:
    return pad9(height // LEVEL1 * LEVEL1)


def level2_dir(height: int) -> str:
    return pad9(height // LEVEL2 * LEVEL2)


def single_file_path(
    height: int,
    kind: DataKind,
    block_hash: Optional[str] = None,
    fmt: str = "avro",
) -> str:
    name = pad9(height)
    if block_hash:
        name += f".{block_hash}"
    return f"{level1_dir(height)}/{level2_dir(height)}/{name}.{kind.single_ext}.{fmt}"


def range_file_path(rng: Range, kind: DataKind, fmt: str = "avro") -> str:
    return (
        f"{level1_dir(rng.start)}/range-{pad9(rng.start)}_{pad9(rng.end)}"
        f".{kind.range_ext}.{fmt}"
    )


_EXT_KIND = {"block": "blocks", "blocks": "blocks", "txes": "transactions", "traces": "traces"}


def parse_name(path: str) -> Optional[tuple[str, int, int, Optional[str]]]:
    """``(kind, start, end, hash)`` of an archive path as plain values (the
    inventory's row shape); None if foreign."""
    name = path.rsplit("/", 1)[-1]
    m = SINGLE_RE.fullmatch(name)
    if m:
        h = int(m.group("height"))
        return _EXT_KIND[m.group("ext")], h, h, m.group("hash")
    m = RANGE_RE.fullmatch(name)
    if m:
        return _EXT_KIND[m.group("ext")], int(m.group("start")), int(m.group("end")), None
    return None


def parse_filename(path: str) -> Optional[FileInfo]:
    """Parse ``(kind, range, hash?)`` from an archive path; None if foreign."""
    parsed = parse_name(path)
    if parsed is None:
        return None
    kind, start, end, block_hash = parsed
    return FileInfo(path, DataKind(kind), Range(start, end), block_hash)
