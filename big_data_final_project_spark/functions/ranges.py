"""Time-range predicate builder (SURVEY.md §2.2 P9; reference
app.py:293-301): UI label → lookback duration, unknown labels
defaulting to 24h exactly as the reference does (app.py:300)."""

from __future__ import annotations

from datetime import timedelta

TIME_RANGES: dict[str, timedelta] = {
    "1h": timedelta(hours=1),
    "24h": timedelta(hours=24),
    "7d": timedelta(days=7),
    "30d": timedelta(days=30),
}

DEFAULT_RANGE = "24h"


def range_delta(label: str) -> timedelta:
    """Label → timedelta; unknown → the 24h default (app.py:300)."""
    return TIME_RANGES.get(label, TIME_RANGES[DEFAULT_RANGE])
