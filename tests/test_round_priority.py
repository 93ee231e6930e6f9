"""``__spark_entry__._ROUND_PRIORITY`` fixes the order of ``queries()`` and
``oracle_sql()``: each name is listed once and names a registered
query, and both dicts come out in the same order."""

import __spark_entry__ as entry


def test_priority_list_has_no_duplicates():
    names = entry._ROUND_PRIORITY
    assert len(names) == len(set(names)), sorted(
        n for n in set(names) if names.count(n) > 1)


def test_priority_list_names_registered_queries():
    queries, oracle = entry.queries(), entry.oracle_sql()
    assert [n for n in entry._ROUND_PRIORITY if n not in queries] == []
    assert [n for n in entry._ROUND_PRIORITY if n not in oracle] == []
    listed = [n for n in queries if n in set(entry._ROUND_PRIORITY)]
    assert listed == entry._ROUND_PRIORITY
    assert list(queries) == list(oracle)
