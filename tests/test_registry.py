"""The driver contract's registry: ``queries()`` and ``oracle_sql()`` walk
the four plan registries in registration order, and a name registered
twice fails instead of one entry silently replacing the other."""

import pytest

import __spark_entry__ as e


def test_registry_lists_every_registry_in_registration_order():
    names = [n for registry in e._REGISTRIES for n in registry]
    owner = {n: registry[n] for registry in e._REGISTRIES for n in registry}
    q = e.queries()
    assert list(q) == names
    assert all(q[n] is owner[n][0] for n in names)
    sql = e.oracle_sql()
    assert list(sql) == [n for n in names if n in sql]
    for n in names:
        oracle = owner[n][1]
        if oracle is None:
            assert n not in sql
        elif not callable(oracle):
            assert sql[n] is oracle
        # lazy oracles may return None (rows-only) or data-dependent SQL


def test_flat_raises_on_a_name_registered_twice(monkeypatch):
    first = {"q": (lambda spark, sf: None, "SELECT 1")}
    second = {"q": (lambda spark, sf: None, "SELECT 2")}
    monkeypatch.setattr(e, "_REGISTRIES", (first, second))
    with pytest.raises(ValueError, match="'q' is registered twice"):
        e.queries()
