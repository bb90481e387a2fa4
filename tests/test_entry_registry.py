"""The driver gate registry (``__spark_entry__``) — no Spark needed."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E

# The driver checks the first 50 registered gates; a gate past them has no
# correctness row at all.
DRIVER_WINDOW = 50


def test_every_gate_sits_inside_the_checked_window():
    queries, oracles = E.queries(), E.oracle_sql()
    assert len(queries) <= DRIVER_WINDOW
    assert set(queries) == set(oracles)


def test_image_pipeline_is_a_tagged_media_transform_leg():
    """The composed image pipeline keeps its oracle as a tagged UNION ALL
    leg of media_transform rather than a gate of its own."""
    assert "image_e2e" not in E.queries()
    assert "'image_e2e' AS kind" in E.oracle_sql()["media_transform"]
