"""Knob census: the package reads exactly these ``WALSTREAM_*`` environment
variables. A new knob has to be added here on purpose, with a test that
sets its non-default branch."""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "pg_walstream_spark"

KNOBS = {
    "WALSTREAM_CHANGELOG",
    "WALSTREAM_CONTROL_MAX_ROWS",
}


def test_knob_census():
    found = set()
    for p in PKG.rglob("*.py"):
        found.update(re.findall(r"WALSTREAM_[A-Z_]+", p.read_text()))
    assert found == KNOBS
