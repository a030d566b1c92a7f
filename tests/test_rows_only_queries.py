"""Every registered query is hash-gated: none runs without an oracle."""

import __spark_entry__ as entry_mod


def test_every_query_carries_an_oracle():
    """Since round 4 the rows-only set is empty by construction — every
    registered query is hash-gated. Regressing a query to rows-only
    should be a deliberate, visible act."""
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())
