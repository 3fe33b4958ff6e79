"""Output checks, each computed apart from the engine.

Every function returns a list of human-readable mismatches; an empty
list means the check passed. The in-situ checks compare what the
callbacks saw against the arrays the generator sent; the batch check
compares a Spark result with its DuckDB oracle twin.
"""

from __future__ import annotations

import math
from collections.abc import Mapping, Sequence

import pandas as pd


def check_dispatch_order(dispatched: Sequence[int], expected: Sequence[int]) -> list[str]:
    """Every expected timestep dispatched exactly once, in order."""
    if list(dispatched) == list(expected):
        return []
    seen: dict[int, int] = {}
    for t in dispatched:
        seen[t] = seen.get(t, 0) + 1
    dup = sorted(t for t, n in seen.items() if n > 1)
    missing = sorted(set(expected) - set(seen))
    extra = sorted(set(seen) - set(expected))
    errs = []
    if dup:
        errs.append(f"timesteps dispatched more than once: {dup[:5]}")
    if missing:
        errs.append(f"timesteps never dispatched: {missing[:5]}")
    if extra:
        errs.append(f"unexpected timesteps dispatched: {extra[:5]}")
    if not errs:
        errs.append(f"timesteps dispatched out of order: {list(dispatched)[:10]}")
    return errs


def check_windows(
    windows: Mapping[int, Mapping[str, Sequence[int]]], size: int, first_t: int = 0
) -> list[str]:
    """Each array's window at step t holds the consecutive timesteps
    ending at t, oldest first, min(size, t - first_t + 1) of them."""
    errs = []
    for t, per_array in windows.items():
        n = min(size, t - first_t + 1)
        want = list(range(t - n + 1, t + 1))
        for arr, got in per_array.items():
            if list(got) != want:
                errs.append(f"window of {arr!r} at t={t} is {list(got)}, expected {want}")
    return errs


def check_values(
    got: Mapping[int, float],
    want: Mapping[int, float],
    what: str,
    rel_tol: float = 0.0,
    abs_tol: float = 0.0,
) -> list[str]:
    """Per-timestep scalars equal (within the tolerances) for every
    expected timestep, and no value for a timestep that was not sent."""
    errs = []
    for t, w in want.items():
        if t not in got:
            errs.append(f"{what}: no value for t={t}")
        elif not math.isclose(got[t], w, rel_tol=rel_tol, abs_tol=abs_tol):
            errs.append(f"{what} at t={t}: got {got[t]!r}, expected {w!r}")
    for t in sorted(set(got) - set(want)):
        errs.append(f"{what}: value for unsent t={t}")
    return errs[:10]


def check_feedback_reads(
    reads: Sequence[tuple[int, object]], want: Mapping[int, float]
) -> list[str]:
    """Every value the simulation read back equals the value computed
    for the step it asked for (a miss reads as ``None``)."""
    errs = []
    for t, v in reads:
        if v is None or v != want.get(t):
            errs.append(f"feedback read of t={t}: got {v!r}, expected {want.get(t)!r}")
    return errs[:10]


def check_bytes(sent: int, assembled: int) -> list[str]:
    if sent == assembled:
        return []
    return [f"payload bytes sent {sent} != bytes assembled {assembled}"]


def canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, then rows sorted by every column."""
    cols = sorted(pdf.columns)
    out = pdf[cols]
    if len(out):
        out = out.sort_values(by=cols, na_position="first", kind="mergesort")
    return out.reset_index(drop=True)


def check_query(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive compare of a query result with its oracle:
    same columns, same numeric kind per column, same rows (floats to
    1e-9 absolute)."""
    got, want = canonical(got), canonical(want)
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}"]
    for c in got.columns:
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        gk, wk = ("i" if k == "u" else k for k in (gk, wk))
        if gk != wk and not {gk, wk} <= {"O", "b"}:
            return [f"{name}: column {c!r} is {got[c].dtype}, oracle {want[c].dtype}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle {len(want)}"]
    try:
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
        )
    except AssertionError as exc:
        return [f"{name}: rows differ from oracle: {str(exc).splitlines()[0:3]}"]
    return []
