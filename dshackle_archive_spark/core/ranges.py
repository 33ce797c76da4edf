"""Inclusive integer block-height ranges and interval algebra.

Pure-Python planning kernel. Mirrors the *semantics* of the reference's
``Range`` / ``RangeBag`` (``/root/reference/src/archiver/range.rs:42-261``,
``src/archiver/range_bag.rs:7-95``) with a different implementation: the
reference compacts range bags with an O(n^2) fixpoint loop; here it's an
O(n log n) sort-and-sweep. Data-plane interval work (islands over millions of
heights) lives in ``operators.intervals`` as distributed DataFrame SQL — this
module only handles plan-time metadata (requested ranges, chunk boundaries),
which is always driver-small.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, Optional


@dataclass(frozen=True, order=True)
class Range:
    """Inclusive ``[start, end]`` over non-negative block heights.

    A single-block range has ``start == end``. An optional block hash
    qualifies single-block ranges during fork handling (the reference keeps
    the hash inside ``Height``, ``range.rs:8-15``; we carry it on the range).
    """

    start: int
    end: int
    hash: Optional[str] = None

    def __post_init__(self) -> None:
        if self.start < 0 or self.end < self.start:
            raise ValueError(f"invalid range [{self.start}, {self.end}]")

    # -- basics ---------------------------------------------------------
    @property
    def is_single(self) -> bool:
        return self.start == self.end

    def __len__(self) -> int:
        return self.end - self.start + 1

    def __contains__(self, height: int) -> bool:
        return self.start <= height <= self.end

    def contains_range(self, other: "Range") -> bool:
        return self.start <= other.start and other.end <= self.end

    def intersects(self, other: "Range") -> bool:
        return self.start <= other.end and other.start <= self.end

    def is_connected_to(self, other: "Range") -> bool:
        """Overlapping or immediately adjacent (joinable into one range)."""
        return self.start <= other.end + 1 and other.start <= self.end + 1

    def join(self, other: "Range") -> "Range":
        if not self.is_connected_to(other):
            raise ValueError(f"{self} and {other} are not connected")
        return Range(min(self.start, other.start), max(self.end, other.end))

    def intersection(self, other: "Range") -> Optional["Range"]:
        lo, hi = max(self.start, other.start), min(self.end, other.end)
        return Range(lo, hi) if lo <= hi else None

    def cut(self, other: "Range") -> list["Range"]:
        """Subtract ``other`` from self -> 0..2 remainder pieces."""
        if not self.intersects(other):
            return [self]
        out: list[Range] = []
        if self.start < other.start:
            out.append(Range(self.start, other.start - 1))
        if other.end < self.end:
            out.append(Range(other.end + 1, self.end))
        return out

    # -- chunking (reference: range.rs:220-261) -------------------------
    def split_chunks(self, chunk: int, aligned: bool = False) -> list["Range"]:
        """Split into pieces cut at absolute ``chunk`` boundaries.

        ``aligned=False``: first/last piece may be partial (archive mode).
        ``aligned=True``: only full boundary-aligned chunks are returned
        (compaction never builds partial range files).
        """
        if chunk <= 0:
            raise ValueError("chunk must be positive")
        out: list[Range] = []
        pos = self.start
        while pos <= self.end:
            boundary_end = (pos // chunk + 1) * chunk - 1
            end = min(boundary_end, self.end)
            piece = Range(pos, end)
            if not aligned or (piece.start % chunk == 0 and len(piece) == chunk):
                out.append(piece)
            pos = end + 1
        return out

    def up_to(self, n: int) -> "Range":
        """The ``n`` heights ending just before ``self.start`` (backfill window)."""
        if n <= 0 or self.start == 0:
            return Range(self.start, self.start)
        lo = max(0, self.start - n)
        return Range(lo, self.start - 1)

    def __str__(self) -> str:
        return str(self.start) if self.is_single else f"{self.start}..{self.end}"


def parse_range(text: str) -> Range:
    """Parse ``"N"`` or ``"N..M"`` (the CLI ``--range`` grammar)."""
    text = text.strip()
    if ".." in text:
        lo, hi = text.split("..", 1)
        return Range(int(lo), int(hi))
    h = int(text)
    return Range(h, h)


def merge_ranges(ranges: Iterable[Range]) -> list[Range]:
    """Union of connected/overlapping ranges -> maximal disjoint ranges, sorted."""
    items = sorted(ranges, key=lambda r: (r.start, r.end))
    out: list[Range] = []
    for r in items:
        if out and out[-1].is_connected_to(r):
            out[-1] = out[-1].join(r)
        else:
            out.append(Range(r.start, r.end))
    return out


def subtract_ranges(base: Iterable[Range], cuts: Iterable[Range]) -> list[Range]:
    """``base - cuts`` as maximal disjoint ranges (gap detection's core).

    One sort-and-sweep pass over both merged lists: O((b + c) log(b + c)).
    A cut reaching past the end of one base range stays current for the
    next one."""
    cuts = merge_ranges(cuts)
    out: list[Range] = []
    i = 0
    for r in merge_ranges(base):
        pos = r.start
        while i < len(cuts) and cuts[i].end < pos:
            i += 1
        j = i
        while j < len(cuts) and cuts[j].start <= r.end:
            if cuts[j].start > pos:
                out.append(Range(pos, cuts[j].start - 1))
            pos = max(pos, cuts[j].end + 1)
            j += 1
        if pos <= r.end:
            out.append(Range(pos, r.end))
    return out
