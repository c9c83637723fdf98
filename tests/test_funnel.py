"""Ordered-funnel semantics (queries/events.py events_funnel_conversion).

The design claim worth pinning: the funnel is ORDER-aware within a
session -- a purchase that precedes the session's first view (or a click
that precedes it) must not advance the funnel, which plain per-type
existence counts would get wrong.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd

from gmail_bigquery_etl_spark.queries.events import events_funnel_conversion

TS0 = pd.Timestamp("2024-03-01 10:00:00")


def _write_events(tmp_path, rows) -> str:
    """rows: (event_id, minutes_offset, user_id, event_type). Each call
    gets its own dir under ``tmp_path``: hypothesis runs many examples
    in one test."""
    d = tempfile.mkdtemp(dir=tmp_path)
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [TS0 + pd.Timedelta(minutes=r[1]) for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [1.0] * len(rows),
            "props": ['{"k": 1}'] * len(rows),
        }
    )
    pdf.to_parquet(os.path.join(d, "events.parquet"))
    return d


def test_funnel_requires_step_order(spark, tmp_path):
    rows = [
        # user 1: full ordered funnel in one session.
        (1, 0, 1, "view"),
        (2, 1, 1, "click"),
        (3, 2, 1, "purchase"),
        # user 2: purchase BEFORE the first view -- reaches view only.
        (4, 0, 2, "purchase"),
        (5, 1, 2, "view"),
        (6, 2, 2, "click2x"),  # not a funnel type at all
        # user 3: click before view, click never re-fires -- view only.
        (7, 0, 3, "click"),
        (8, 1, 3, "view"),
        (9, 2, 3, "purchase"),  # purchase needs a post-view click first
        # user 4: two sessions (45 min gap): first converts view->click,
        # second (purchase alone) reaches nothing.
        (10, 0, 4, "view"),
        (11, 1, 4, "click"),
        (12, 46, 4, "purchase"),
    ]
    sf_dir = _write_events(tmp_path, rows)
    out = events_funnel_conversion(spark, sf_dir).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_sessions == 5
    assert r.n_view == 4  # users 1,2,3 + user 4's first session
    assert r.n_view_click == 2  # users 1 and 4 only
    assert r.n_view_click_purchase == 1  # user 1 only


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _py_funnel(rows):
    """Reference: sessionize (30-min gap, (ts, event_id) order) then the
    strict-order funnel, per day of session start."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for eid, minute, uid, etype in rows:
        by_user[uid].append((minute, eid, etype))
    out = defaultdict(lambda: [0, 0, 0, 0])  # day -> [sess, v, vc, vcp]
    for uid, evs in by_user.items():
        evs.sort()
        sessions, cur = [], []
        for m, eid, t in evs:
            if cur and m - cur[-1][0] > 30:
                sessions.append(cur)
                cur = []
            cur.append((m, eid, t))
        if cur:
            sessions.append(cur)
        for sess in sessions:
            day = (TS0 + pd.Timedelta(minutes=sess[0][0])).date()
            rec = out[day]
            rec[0] += 1
            t1 = next((m for m, _, t in sess if t == "view"), None)
            if t1 is None:
                continue
            rec[1] += 1
            t2 = next((m for m, _, t in sess if t == "click" and m > t1), None)
            if t2 is None:
                continue
            rec[2] += 1
            t3 = next(
                (m for m, _, t in sess if t == "purchase" and m > t2), None
            )
            if t3 is not None:
                rec[3] += 1
    return {str(d): tuple(v) for d, v in out.items()}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 10**6),  # event_id (uniquified below)
            st.integers(0, 3000),  # minute offset (~2 days)
            st.integers(1, 4),  # user_id
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_funnel_matches_python_reference(spark, tmp_path, rows):
    rows = [
        (i, m, u, t) for i, (_, m, u, t) in enumerate(rows)
    ]  # unique event ids keep the session order total
    sf_dir = _write_events(tmp_path, rows)
    got = {
        str(r.day.date()): (
            r.n_sessions,
            r.n_view,
            r.n_view_click,
            r.n_view_click_purchase,
        )
        for r in events_funnel_conversion(spark, sf_dir).collect()
    }
    assert got == _py_funnel(rows)
