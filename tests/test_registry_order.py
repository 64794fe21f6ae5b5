"""``queries()`` order: the bench's headliners first, then every other
query in registration order."""

from __future__ import annotations

from universal_data_to_orc_converter_spark.registry import (
    HEADLINE,
    QUERIES,
    load_all_queries,
)


def test_no_queries_lost_by_reordering():
    names = list(load_all_queries())
    assert len(names) == len(set(names)) == len(QUERIES)
    assert len(names) >= 258


def test_priority_names_lead_registration_order():
    assert tuple(load_all_queries())[: len(HEADLINE)] == HEADLINE
