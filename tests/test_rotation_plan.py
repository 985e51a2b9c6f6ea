"""Driver-window rotation-plan invariants (VERDICT r10 items #2/#6).

The driver hard-checks the FIRST 50 registry names each round, so the
window's composition IS the verification schedule.  These pins keep
the published ROTATION PLAN in registry.py mechanically true: the
window is exactly 50 registered names, the backlog holds only names
with no driver row in any CORRECTNESS_r*.json, and the two never
overlap — so slicing the backlog per the plan table can't re-check a
green name or skip a never-checked one.
"""

from __future__ import annotations

import glob
import json
import os

from instructions_mr_spark import registry

REPO = os.path.join(os.path.dirname(__file__), "..")


def _driver_checked() -> set[str]:
    names: set[str] = set()
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        names |= set(json.load(open(f)))
    return names


def test_window_is_50_registered_names():
    w = registry.DRIVER_WINDOW
    assert len(w) == 50 and len(set(w)) == 50
    missing = [n for n in w if n not in registry.QUERIES]
    assert not missing, f"window names not registered: {missing}"
    # the reorder actually happened: the window IS the registry prefix
    assert list(registry.QUERIES)[:50] == w


def test_backlog_is_registered_never_checked_and_disjoint():
    w, b = registry.DRIVER_WINDOW, registry.ROTATION_BACKLOG
    assert len(b) == len(set(b)), "duplicate backlog names"
    missing = [n for n in b if n not in registry.QUERIES]
    assert not missing, f"backlog names not registered: {missing}"
    assert not (set(w) & set(b)), "window and backlog must be disjoint"
    checked = _driver_checked()
    stale = sorted(set(b) & checked)
    assert not stale, (
        "backlog names already driver-checked (strike them off the "
        f"ROTATION PLAN): {stale}"
    )


def test_backlog_plus_window_covers_every_never_checked_name():
    """No registered query may fall through the rotation: every name
    without a driver row is either in this round's window or in the
    backlog the plan table consumes."""
    checked = _driver_checked()
    if not checked:  # fresh clone without CORRECTNESS files
        return
    never = set(registry.QUERIES) - checked
    planned = set(registry.DRIVER_WINDOW) | set(registry.ROTATION_BACKLOG)
    orphans = sorted(never - planned)
    assert not orphans, f"never-checked names missing from the plan: {orphans}"


def test_window_first_exposure_floor():
    """The r9-set floor: at least 42 of the 50 window slots must be
    first driver exposures (never-checked names), so the backlog
    actually drains at the published rate.

    "Checked" excludes any CORRECTNESS file that recorded THIS window
    (its key-set is a subset of the current window) — the driver
    checking the window must not retroactively fail the floor it
    satisfied."""
    win = set(registry.DRIVER_WINDOW)
    checked: set[str] = set()
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        keys = set(json.load(open(f)))
        if keys <= win:
            continue  # the round that consumed this window
        checked |= keys
    if not checked:
        return
    fresh = [n for n in registry.DRIVER_WINDOW if n not in checked]
    assert len(fresh) >= 42, f"only {len(fresh)} first-exposure slots"
