"""Registry contract: the driver-visible names, order, functions and
oracle SQL are frozen by digest, so a refactor of how the registry is
assembled cannot silently reorder, rebind or drop a query. The package
itself must not carry definitions that nothing in production reaches,
and COVERAGE.md's code references must resolve."""

from __future__ import annotations

import ast
import hashlib
import json
import re
import types
from pathlib import Path

import pytest

from kickstarter_etl_pipeline_spark.queries import _resolve, oracle_sql, queries

# sha256 of the JSON list of (name, fn.__module__, fn.__qualname__) in
# registry order, and of the JSON list of (name, sql) oracle items.
# Update only together with a deliberate registry change.
QUERIES_DIGEST = "1099092054ce3d98f2447de91344245d6ff773a3927c15dd72c76668c3443c89"
ORACLES_DIGEST = "60c919530e387418bc73e44ef04e24bb294f4a779ab2f3a4eb5722eb1a0fdff2"

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "kickstarter_etl_pipeline_spark"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# Unreferenced on purpose: the reference-parity operators whose counts
# the ETL tests compare run_pipeline's logged counts against, and the
# batch stream sink through which the fixture canary checks the
# production stream reader.
TEST_ONLY_DEFS = {"state_distribution", "null_count", "stream_events_to_parquet"}


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


def _references(node: ast.AST):
    """Every name a node can reach another definition by: names,
    attributes, import aliases and identifier string constants."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
            if n.asname:
                yield n.asname
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            yield n.value


def test_every_definition_has_a_production_reference():
    """Every top-level def or class in the package is referenced from
    the package, bench.py or __spark_entry__.py outside its own body.
    Registry queries (``q_*``) are bound by name in queries.py."""
    files = sorted(PKG.rglob("*.py")) + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    defined, referenced = [], set()
    for path in files:
        for top in ast.parse(path.read_text()).body:
            own = None
            if isinstance(top, DEFS):
                own = top.name
                defined.append((own, f"{path.relative_to(ROOT)}:{top.lineno}"))
            referenced.update(r for r in _references(top) if r != own)
    unreached = [
        f"{where} {name}"
        for name, where in defined
        if name not in referenced and not name.startswith("q_") and name not in TEST_ONLY_DEFS
    ]
    assert unreached == []


def test_coverage_code_references_resolve():
    """Each `path.py:name` in COVERAGE.md names one package file (by
    package-relative path or a unique suffix of it) and a top-level
    name defined in that file."""
    refs = re.findall(r"`([\w/]+\.py):([\w.]+)`", (ROOT / "COVERAGE.md").read_text())
    assert refs
    files = {p.relative_to(PKG).as_posix(): p for p in PKG.rglob("*.py")}
    broken = []
    for path, name in refs:
        hits = [p for rel, p in files.items() if rel == path or rel.endswith("/" + path)]
        if len(hits) != 1:
            broken.append(f"{path}:{name} matches {len(hits)} files")
            continue
        top = set()
        for node in ast.parse(hits[0].read_text()).body:
            if isinstance(node, DEFS):
                top.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                top.update(t.id for t in targets if isinstance(t, ast.Name))
        if name.split(".")[0] not in top:
            broken.append(f"{path}:{name} not defined")
    assert broken == []
