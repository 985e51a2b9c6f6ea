"""Semantic pins for last-touch attribution and session bounce-rate
on handcrafted event streams."""

from __future__ import annotations

from datetime import datetime

from instructions_mr_spark import registry
from tests.conftest import write_tables


def _ts(m, s=0):
    return datetime(2024, 1, 1, 10, m, s)


def test_last_touch_attribution(spark, tmp_path):
    """User 1's purchase credits the later view (not the earlier
    click); user 2 has no touch -> unattributed; a same-instant
    click+view tie resolves deterministically to view (MAX)."""
    rows = [
        (1, _ts(0), 1, "click", 0.0, "{}"),
        (2, _ts(5), 1, "view", 0.0, "{}"),
        (3, _ts(9), 1, "purchase", 1.0, "{}"),
        (4, _ts(0), 2, "purchase", 1.0, "{}"),
        (5, _ts(1), 3, "click", 0.0, "{}"),
        (6, _ts(1), 3, "view", 0.0, "{}"),
        (7, _ts(2), 3, "purchase", 1.0, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = {
        r.channel: r.n_purchases
        for r in registry.QUERIES["event_attribution_last_touch"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {"view": 2, "unattributed": 1}


def test_session_bounce_rate_gap_split(spark, tmp_path):
    """User 1: two events 10s apart = one 2-event session entered via
    'view'; user 2: two events 40min apart = two bounce sessions."""
    rows = [
        (1, _ts(0), 1, "view", 0.0, "{}"),
        (2, _ts(0, 10), 1, "click", 0.0, "{}"),
        (3, _ts(0), 2, "signup", 0.0, "{}"),
        (4, _ts(40), 2, "error", 0.0, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = {
        r.first_type: r
        for r in registry.QUERIES["session_bounce_rate"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["view"].n_sessions == 1 and got["view"].n_bounces == 0
    assert got["view"].n_events_total == 2
    assert got["signup"].n_sessions == 1 and got["signup"].n_bounces == 1
    assert got["error"].n_sessions == 1 and got["error"].n_bounces == 1
