"""Output checks, run outside the timed regions.

Each check returns a list of problems; an empty list means the output is
correct. Archive contents are read straight from the files with pyarrow
(only the key columns), so a check never goes through the engine it checks.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal

import pyarrow.parquet as pq

KIND_EXT = {"blocks": ("block", "blocks"), "transactions": ("txes",), "traces": ("traces",)}


def _kind_of(fname: str) -> str | None:
    parts = fname.split(".")
    if len(parts) < 3 or parts[-1] != "parquet":
        return None
    for kind, exts in KIND_EXT.items():
        if parts[-2] in exts:
            return kind
    return None


def archive_keys(chain_dir: str) -> dict[str, list[tuple[int, str]]]:
    """(height, blockId) per block row and (height, txid) per tx/trace row,
    over every archive file under ``chain_dir``."""
    out: dict[str, list[tuple[int, str]]] = {k: [] for k in KIND_EXT}
    for d, _, files in os.walk(chain_dir):
        for f in files:
            kind = _kind_of(f)
            if kind is None:
                continue
            col = "blockId" if kind == "blocks" else "txid"
            t = pq.read_table(os.path.join(d, f), columns=["height", col])
            out[kind].extend(zip(t.column("height").to_pylist(), t.column(col).to_pylist()))
    return out


def expected_keys(provider, heights, kinds, forks: bool = False) -> dict[str, list]:
    """The keys the provider's chain holds for ``heights`` (fork twins too
    when ``forks``)."""
    out: dict[str, list] = {k: [] for k in kinds}
    for h in heights:
        if "blocks" in out:
            out["blocks"].append((h, provider.block_hash(h)))
            if forks and h in provider.fork_at:
                out["blocks"].append((h, provider.block_hash(h, fork=True)))
        txs = provider.tx_ids(h) if "transactions" in out or "traces" in out else []
        for k in ("transactions", "traces"):
            if k in out:
                out[k].extend((h, t) for t in txs)
    return out


def digest(keys: list) -> str:
    return hashlib.sha256(repr(sorted(keys)).encode()).hexdigest()


def check_archive(observed: dict[str, list], expected: dict[str, list]) -> list[str]:
    """Row counts and key digests per kind must equal the provider's."""
    problems = []
    for kind, exp in expected.items():
        got = observed.get(kind, [])
        if len(got) != len(exp):
            problems.append(f"{kind}: {len(got)} rows, expected {len(exp)}")
        elif digest(got) != digest(exp):
            problems.append(f"{kind}: key digest differs from the provider's")
    return problems


def check_fix(result, damaged_files: set[tuple[str, int, int]]) -> list[str]:
    got = set(result.missing)
    if got != damaged_files:
        return [f"fix found {sorted(got)}, damaged {sorted(damaged_files)}"]
    return []


def failing_heights(observed: dict[str, list], provider, heights) -> set[int]:
    """Heights whose canonical block or any canonical tx is missing, or
    whose fork loser is still archived (the tip-follow end state)."""
    blocks = set(observed.get("blocks", []))
    txes = set(observed.get("transactions", []))
    bad = set()
    for h in heights:
        if (h, provider.block_hash(h)) not in blocks:
            bad.add(h)
        elif h in provider.fork_at and (h, provider.block_hash(h, fork=True)) in blocks:
            bad.add(h)
        elif any((h, t) not in txes for t in provider.tx_ids(h)):
            bad.add(h)
    return bad


def check_compact(result, expected_chunks: list[tuple[int, int]]) -> list[str]:
    got = sorted(tuple(c) for c in result.compacted_chunks)
    if got != sorted(expected_chunks):
        return [f"compacted {got}, expected {sorted(expected_chunks)}"]
    return []


# -- query results vs their DuckDB oracle (tests/test_oracle_parity.py rules) --

def normalize(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return normalize(v.item())
    return v


def as_rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize(r[i]) for i in idx) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(map(repr, t)))


def check_query(name: str, s_cols, s_rows, d_cols, d_rows) -> list[str]:
    sc, ss = as_rowset(s_cols, s_rows)
    dc, ds = as_rowset(d_cols, d_rows)
    if sc != dc:
        return [f"{name}: columns {sc} vs oracle {dc}"]
    if len(ss) != len(ds):
        return [f"{name}: {len(ss)} rows vs oracle {len(ds)}"]
    bad = [(a, b) for a, b in zip(ss, ds) if a != b]
    return [f"{name}: first mismatched rows {bad[:2]}"] if bad else []
