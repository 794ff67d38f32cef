"""Registry contract: the driver-visible names, order, functions and
oracle SQL are frozen by digest, so a refactor of how the registry is
assembled cannot silently reorder, rebind or drop a query."""

from __future__ import annotations

import hashlib
import json
import types

import pytest

from kickstarter_etl_pipeline_spark.queries import _resolve, oracle_sql, queries

# sha256 of the JSON list of (name, fn.__module__, fn.__qualname__) in
# registry order, and of the JSON list of (name, sql) oracle items.
# Update only together with a deliberate registry change.
QUERIES_DIGEST = "1099092054ce3d98f2447de91344245d6ff773a3927c15dd72c76668c3443c89"
ORACLES_DIGEST = "60c919530e387418bc73e44ef04e24bb294f4a779ab2f3a4eb5722eb1a0fdff2"


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def test_registry_snapshot():
    reg = queries()
    assert len(reg) == 358
    rows = [(name, fn.__module__, fn.__qualname__) for name, fn in reg.items()]
    assert _digest(rows) == QUERIES_DIGEST


def test_oracle_snapshot():
    oracles = oracle_sql()
    assert len(oracles) == 355
    assert _digest(list(oracles.items())) == ORACLES_DIGEST


def _fake_module(name: str, *query_names: str):
    mod = types.ModuleType(name)
    for q in query_names:

        def fn(spark, sf_dir):
            return None

        fn.__module__ = name
        setattr(mod, f"q_{q}", fn)
    return mod


def test_resolver_binds_in_listed_order_and_ignores_reexports():
    a = _fake_module("fake_a", "x", "y")
    b = _fake_module("fake_b", "z")
    b.q_x = a.q_x  # re-export: defined in fake_a, so it does not count twice
    reg = _resolve(("z", "x", "y"), (a, b))
    assert list(reg) == ["z", "x", "y"]
    assert reg["x"] is a.q_x and reg["z"] is b.q_z


def test_resolver_raises_on_missing_and_duplicate_entries():
    a = _fake_module("fake_a", "x")
    with pytest.raises(RuntimeError, match=r"no function.*'ghost'"):
        _resolve(("x", "ghost"), (a,))
    with pytest.raises(RuntimeError, match=r"two functions.*'x'"):
        _resolve(("x",), (a, _fake_module("fake_b", "x")))
    with pytest.raises(RuntimeError, match=r"listed twice.*'x'"):
        _resolve(("x", "x"), (a,))
    with pytest.raises(RuntimeError, match=r"not listed.*'extra'"):
        _resolve(("x",), (_fake_module("fake_c", "x", "extra"),))
