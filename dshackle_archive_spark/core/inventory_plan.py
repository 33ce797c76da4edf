"""Driver-side inventory planning for ``fix``, ``compact`` and ``verify``.

Every metadata decision the three workflows make — which ranges are missing,
which chunks may be compacted, which files verify prunes and how the
survivors group into content-check islands — is a pure function of the
parsed archive listing, one ``InvFile(path, kind, start, end, hash)`` per
file. The listing is one row per ≤1000-block file, so these decisions are
in-process loops (as in the reference: ``storage/mod.rs:143-207``,
``compact.rs:48-117``, ``verify.rs:237-267,373-457``); Spark runs only the
data-scale work the plans hand it. No pyspark import here.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Callable, Iterable, NamedTuple, Optional

from .filenames import parse_name
from .ranges import Range, merge_ranges, subtract_ranges

# W4 (verify.rs:237-267): groups of at most this many blocks are checked as
# one unit with their adjacent small neighbours
SMALL_RANGE = 10


class InvFile(NamedTuple):
    """One archive file: path relative to the chain dir, table kind,
    inclusive height range and the fork-qualifier hash of a single."""

    path: str
    kind: str
    start: int
    end: int
    hash: Optional[str] = None


def parse_listing(paths: Iterable[str]) -> list[InvFile]:
    """Parse relative archive paths; foreign files are skipped
    (``filenames.rs:29-49``)."""
    out = []
    for rel in paths:
        parsed = parse_name(rel)
        if parsed is not None:
            out.append(InvFile(rel, *parsed))
    return out


def in_scope(files: Iterable[InvFile], rng: Range) -> list[InvFile]:
    """P2: the files whose range intersects ``rng``."""
    return [f for f in files if f.end >= rng.start and f.start <= rng.end]


# -- fix: A3/A4 missing-range work list ---------------------------------------

def missing_ranges(
    files: Iterable[InvFile], rng: Range, kinds: tuple[str, ...]
) -> list[tuple[str, int, int]]:
    """Per kind, the ranges inside ``rng`` that no file of that kind covers
    (``find_incomplete_tables``, ``storage/mod.rs:143-207``): the requested
    range minus every listed range. ``(kind, start, end)`` rows ordered by
    start, then kind; a kind with no file at all is missing everywhere."""
    covered: dict[str, list[InvFile]] = {k: [] for k in kinds}
    for f in files:
        c = covered.get(f.kind)
        if c is not None and f.end >= rng.start and f.start <= rng.end:
            c.append(f)  # the range algebra reads only .start/.end
    work = [
        (k, gap.start, gap.end) for k in kinds for gap in subtract_ranges([rng], covered[k])
    ]
    return sorted(work, key=lambda t: (t[1], t[0]))


# -- compact: per-chunk gate --------------------------------------------------

@dataclass
class CompactPlan:
    """Gate verdicts for every aligned chunk of the scope and, for the
    passing chunks, what to rewrite.

    ``verdicts``: ``(c_start, c_end, reason)`` per chunk in height order,
    ``reason`` None when the chunk passes. ``exact_kinds[c_start]``: kinds
    already held in the chunk's exact target file (kept as-is).
    ``sources[(c_start, kind)]``: the files a rewrite of that kind reads and
    then deletes."""

    verdicts: list[tuple[int, int, Optional[str]]] = field(default_factory=list)
    exact_kinds: dict[int, set[str]] = field(default_factory=dict)
    sources: dict[tuple[int, str], list[str]] = field(default_factory=dict)

    @property
    def passing(self) -> list[tuple[int, int]]:
        return [(s, e) for s, e, why in self.verdicts if why is None]

    @property
    def skipped(self) -> list[tuple[int, int, str]]:
        return [(s, e, why) for s, e, why in self.verdicts if why is not None]


def _covers_exactly(ranges: list[tuple[int, int]], lo: int, hi: int) -> bool:
    """Do ranges lying inside ``[lo, hi]`` merge into exactly ``[lo, hi]``?"""
    pos = lo
    for s, e in sorted(ranges):
        if s > pos:
            return False
        pos = max(pos, e + 1)
    return pos > hi


def plan_compact(
    files: Iterable[InvFile], rng: Range, chunk: int, kinds: tuple[str, ...]
) -> CompactPlan:
    """C2 gate (``compact.rs:48-117,221-243``) for the aligned chunks of
    ``rng``, judged on the files of the requested kinds. In order, a chunk
    is skipped when: every requested kind already has its exact-range file;
    a file crosses the chunk boundary; a kind's files do not merge into
    exactly the chunk; or two files share one (kind, range, hash)."""
    plan = CompactPlan()
    chunks = rng.split_chunks(chunk, aligned=True)
    if not chunks:
        return plan
    first, last = chunks[0].start // chunk, chunks[-1].start // chunk
    touching: dict[int, list[InvFile]] = defaultdict(list)
    for f in files:
        if f.kind in kinds:
            for cid in range(max(f.start // chunk, first), min(f.end // chunk, last) + 1):
                touching[cid].append(f)
    for c in chunks:
        fs = touching.get(c.start // chunk, [])
        inside = [f for f in fs if f.start >= c.start and f.end <= c.end]
        exact = {f.kind for f in inside if f.start == c.start and f.end == c.end}
        uncovered = [
            k for k in sorted(kinds)
            if not _covers_exactly([(f.start, f.end) for f in inside if f.kind == k],
                                   c.start, c.end)
        ]
        copies = Counter((f.kind, f.start, f.end, f.hash) for f in inside)
        if len(exact) == len(kinds):
            why = "already compacted"
        elif len(inside) < len(fs):
            why = "file range crosses chunk boundary"
        elif uncovered:
            why = f"{uncovered[0]} does not exactly cover the chunk"
        elif any(n > 1 for n in copies.values()):
            why = "duplicate files in chunk"
        else:
            why = None
            plan.exact_kinds[c.start] = exact
            for f in inside:
                if f.kind not in exact:
                    plan.sources.setdefault((c.start, f.kind), []).append(f.path)
        plan.verdicts.append((c.start, c.end, why))
    return plan


# -- verify: prune pipeline and W4 islands ------------------------------------

GroupKey = tuple[int, int, str]  # (start, end, hash); unhashed files use ""


class PrunedFile(NamedTuple):
    path: str
    start: int
    end: int
    hash: str
    reason: str  # duplicate | fork_loser | overlap_loser | incomplete


@dataclass
class VerifyPlan:
    """What verify's metadata phase decided.

    ``groups_total``: (start, end, hash) groups in scope. ``pruned``: every
    file of a pruned group (for duplicates, only the duplicated kind's
    files). ``failures``: one ``{start, end, reason}`` per pruned group.
    ``survivors``: every file of the groups that go on to the content check.
    ``islands``: ``(island_start, island_end) -> member (start, end)
    ranges``; ``path_island`` maps each survivor to its island and
    ``island_ends`` lists the heights whose live hash the J5 check needs."""

    groups_total: int = 0
    pruned: list[PrunedFile] = field(default_factory=list)
    failures: list[dict] = field(default_factory=list)
    survivors: list[InvFile] = field(default_factory=list)
    islands: dict[tuple[int, int], list[tuple[int, int]]] = field(default_factory=dict)
    path_island: dict[str, tuple[int, int]] = field(default_factory=dict)

    @property
    def island_ends(self) -> list[int]:
        return sorted({e for _, e in self.islands})


def _overlap_losers(keys: list[GroupKey]) -> set[GroupKey]:
    """W3 (``verify.rs:373-404``): within each island of strictly
    overlapping ranges (touching ranges are neighbours, not rivals) keep the
    widest group, ties to the lower start, then the lower hash. ``keys``
    come sorted."""
    islands: list[list[GroupKey]] = []
    reach = -1
    for key in keys:
        if key[0] > reach:
            islands.append([])
        islands[-1].append(key)
        reach = max(reach, key[1])
    losers: set[GroupKey] = set()
    for island in islands:
        if len(island) > 1:
            keep = min(island, key=lambda k: (k[0] - k[1], k[0], k[2]))
            losers.update(k for k in island if k != keep)
    return losers


def _small_islands(ranges: list[tuple[int, int]]) -> dict[tuple[int, int], tuple[int, int]]:
    """W4: member range -> its island. Adjacent groups of at most
    ``SMALL_RANGE`` blocks merge into one island; larger groups are their
    own."""
    small = [Range(s, e) for s, e in ranges if e - s + 1 <= SMALL_RANGE]
    merged = merge_ranges(small)
    out = {(s, e): (s, e) for s, e in ranges if e - s + 1 > SMALL_RANGE}
    i = 0
    for r in sorted(small):
        while merged[i].end < r.start:
            i += 1
        out[(r.start, r.end)] = (merged[i].start, merged[i].end)
    return out


def plan_verify(
    files: Iterable[InvFile],
    kinds: tuple[str, ...],
    block_hash: Callable[[int], Optional[str]],
) -> VerifyPlan:
    """Verify's prune pipeline over the in-scope files, in the reference's
    precedence (``verify.rs:373-457``):

    1. duplicate — a group with two files of one requested kind loses the
       files of that kind;
    2. fork loser (J4) — at a height with several single-block hashes, a
       hashed single whose hash is not the live chain's (``block_hash``,
       called once per forked height);
    3. overlap loser (W3) — all but the widest of overlapping groups;
    4. incomplete (A4) — a group missing a requested kind.

    The survivors are grouped into W4 islands for the content check."""
    groups: dict[GroupKey, list[InvFile]] = defaultdict(list)
    for f in files:
        groups[(f.start, f.end, f.hash or "")].append(f)
    plan = VerifyPlan(groups_total=len(groups))
    required = set(kinds)

    def prune(key: GroupKey, reason: str, fs: list[InvFile]) -> None:
        plan.pruned.extend(PrunedFile(f.path, *key, reason) for f in fs)
        plan.failures.append({"start": key[0], "end": key[1], "reason": reason})

    live: list[GroupKey] = []
    for key in sorted(groups):
        fs = groups[key]
        ks = [f.kind for f in fs]
        doubled = {k for k in kinds if ks.count(k) > 1}
        if doubled:
            prune(key, "duplicate", [f for f in fs if f.kind in doubled])
        else:
            live.append(key)

    hashes: dict[int, set[str]] = defaultdict(set)
    for s, e, h in live:
        if s == e:
            hashes[s].add(h)
    live_hash = {s: block_hash(s) for s in sorted(hashes) if len(hashes[s]) > 1}
    forks = {
        key for key in live
        if key[0] == key[1] and key[2] and live_hash.get(key[0]) not in (None, key[2])
    }
    overlaps = _overlap_losers([k for k in live if k not in forks])
    survivors: list[GroupKey] = []
    for key in live:
        if key in forks:
            prune(key, "fork_loser", groups[key])
        elif key in overlaps:
            prune(key, "overlap_loser", groups[key])
        elif not required.issubset(f.kind for f in groups[key]):
            prune(key, "incomplete", groups[key])
        else:
            survivors.append(key)

    island_of = _small_islands([(s, e) for s, e, _ in survivors])
    for s, e, h in survivors:
        isl = island_of[(s, e)]
        plan.islands.setdefault(isl, []).append((s, e))
        for f in groups[(s, e, h)]:
            plan.survivors.append(f)
            plan.path_island[f.path] = isl
    return plan
