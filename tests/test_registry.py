"""Registry contract: the driver-visible names, order, functions and
oracle SQL are frozen by digest, so a refactor of how the registry is
assembled cannot silently reorder, rebind or drop a query. The package
itself must not carry definitions that nothing in production reaches,
nor parameters that production only ever gives one value, and
COVERAGE.md's code references must resolve."""

from __future__ import annotations

import ast
import hashlib
import json
import re
import sys
import types
from pathlib import Path

import pytest

from kickstarter_etl_pipeline_spark.queries import (
    QUERY_NAMES,
    _resolve,
    _resolve_twins,
    oracle_sql,
    queries,
)

# sha256 of the JSON list of (name, fn.__module__, fn.__qualname__) in
# registry order, and of the JSON list of (name, sql) oracle items in
# registry order. Update only together with a deliberate registry change.
QUERIES_DIGEST = "1099092054ce3d98f2447de91344245d6ff773a3927c15dd72c76668c3443c89"
ORACLES_DIGEST = "228e73f0683b940a8fd261ca9493c90de4589153d7d7c5963cb204e4cd711e58"

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "kickstarter_etl_pipeline_spark"
PROD_FILES = sorted(PKG.rglob("*.py")) + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
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
    assert list(oracles) == [n for n in QUERY_NAMES if n in oracles]
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


def _twin_module(name: str, twins: dict[str, str], rows_only=(), queries=None):
    """A fake query module defining ``queries`` (default: every twin and
    rows-only name) with the given ``TWINS`` and ``ROWS_ONLY``."""
    mod = _fake_module(name, *(queries if queries is not None else [*twins, *rows_only]))
    mod.TWINS = twins
    mod.ROWS_ONLY = frozenset(rows_only)
    return mod


def test_twin_resolver_returns_twins_in_listed_order():
    a = _twin_module("fake_a", {"x": "SELECT 1", "y": "SELECT 2"})
    b = _twin_module("fake_b", {}, rows_only=["z"])
    assert list(_resolve_twins(("y", "z", "x"), (a, b)).items()) == [
        ("y", "SELECT 2"),
        ("x", "SELECT 1"),
    ]


def test_twin_resolver_raises_on_twin_without_query():
    a = _twin_module("fake_a", {"x": "SELECT 1", "ghost": "SELECT 2"}, queries=["x"])
    with pytest.raises(RuntimeError, match=r"no query in its module.*'ghost'"):
        _resolve_twins(("x",), (a,))


def test_twin_resolver_raises_on_query_without_twin_or_rows_only():
    a = _twin_module("fake_a", {"x": "SELECT 1"}, queries=["x", "bare"])
    with pytest.raises(RuntimeError, match=r"neither twin nor rows-only.*'bare'"):
        _resolve_twins(("x", "bare"), (a,))


def test_twin_resolver_raises_on_query_with_twin_and_rows_only():
    a = _twin_module("fake_a", {"x": "SELECT 1"}, rows_only=["x"], queries=["x"])
    with pytest.raises(RuntimeError, match=r"twin and rows-only.*'x'"):
        _resolve_twins(("x",), (a,))


def test_twin_resolver_raises_on_twin_in_two_modules():
    a = _twin_module("fake_a", {"x": "SELECT 1"})
    b = _twin_module("fake_b", {"x": "SELECT 1"}, queries=[])
    with pytest.raises(RuntimeError, match=r"twins in two modules.*'x'"):
        _resolve_twins(("x",), (a, b))


def test_every_twin_is_found_by_its_query_name_alone():
    """The module that defines ``q_<name>`` holds the query's twin in
    its ``TWINS`` or names the query in its ``ROWS_ONLY``."""
    oracles = oracle_sql()
    lost = []
    for name, fn in queries().items():
        mod = sys.modules[fn.__module__]
        twin = vars(mod).get("TWINS", {}).get(name)
        rows_only = name in vars(mod).get("ROWS_ONLY", ())
        if (twin is None) == (not rows_only) or twin != oracles.get(name):
            lost.append(name)
    assert lost == []


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


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_modules(tree: ast.Module) -> set[str]:
    """Every module a file imports: ``import m`` and ``from m import n``
    (m, and m.n in case n is a module). The package uses absolute
    imports only."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.ImportFrom):
            out.add(n.module)
            out.update(f"{n.module}.{a.name}" for a in n.names)
    return out


def _top_level_names(top: ast.stmt) -> list[str]:
    """Names a top-level def, class or assignment binds (dunders aside)."""
    if isinstance(top, DEFS):
        return [top.name]
    if isinstance(top, (ast.Assign, ast.AnnAssign)):
        targets = top.targets if isinstance(top, ast.Assign) else [top.target]
        return [
            n.id
            for t in targets
            for n in ast.walk(t)
            if isinstance(n, ast.Name) and not n.id.startswith("__")
        ]
    return []


def test_every_definition_has_a_production_reference():
    """Every top-level def, class or assignment in the package is
    referenced from production code outside its own statement: from its
    own module, or from a file in the package, bench.py or
    __spark_entry__.py that imports that module. Registry queries
    (``q_*``) are bound by name in queries.py."""
    files = {}
    for path in PROD_FILES:
        tree = ast.parse(path.read_text())
        files[_module_name(path)] = (path, tree, _imported_modules(tree), set(_references(tree)))
    unreached = []
    for module, (path, tree, _, _) in files.items():
        if not path.is_relative_to(PKG):
            continue
        importers = [
            refs for other, (_, _, imports, refs) in files.items() if module in imports and other != module
        ]
        stmt_refs = [set(_references(top)) for top in tree.body]
        for i, top in enumerate(tree.body):
            own = set().union(*stmt_refs[:i], *stmt_refs[i + 1 :])
            for name in _top_level_names(top):
                if name.startswith("q_") or name in TEST_ONLY_DEFS:
                    continue
                if name not in own and not any(name in refs for refs in importers):
                    unreached.append(f"{path.relative_to(ROOT)}:{top.lineno} {name}")
    assert unreached == []


# Parameters that production only ever gives one value, kept because
# the named test passes another. Fix one by dropping its entry;
# never add one: a new one-value parameter becomes a literal or a
# constant instead.
ONE_VALUE_PINS = {
    "_prefix_candidates.positional": "test_scale_paths.py::test_positional_filter_prunes_without_losing_pairs",
    "append_ignore_existing.keys": "test_sinks_and_dedup.py::test_append_ignore_existing",
    "apply_cdc_batch.keys": "test_sinks_and_dedup.py::test_apply_cdc_batch_last_writer_wins",
    "asof_join_forward.tolerance_us": "test_properties.py::test_asof_forward_matches_bruteforce",
    "bellman_ford_distances.rounds": "test_scale_paths.py::test_bellman_ford_prefers_cheaper_multihop",
    "betweenness_sampled.pivots": "test_scale_paths.py::test_betweenness_matches_reference_and_partitions",
    "betweenness_sampled.rounds": "test_scale_paths.py::test_betweenness_matches_reference_and_partitions",
    "bfs_depths.rounds": "test_scale_paths.py::test_bfs_depths_synthetic_and_partition_invariant",
    "bloom_prefilter.dim_key": "test_mining_ops.py::test_bloom_prefilter_superset_and_transparency",
    "bloom_prefilter.fact_key": "test_mining_ops.py::test_bloom_prefilter_superset_and_transparency",
    "bloom_prefilter.n_bits": "test_mining_ops.py::test_bloom_prefilter_preserves_caller_columns",
    "boilerplate_stats.min_doc_freq": "test_corpus_ops.py::test_boilerplate_stats_shared_vs_unique",
    "chunk_documents.chunk_tokens": "test_corpus_ops.py::test_chunk_documents_short_and_strided",
    "chunk_documents.stride": "test_corpus_ops.py::test_chunk_documents_short_and_strided",
    "common_neighbor_link_prediction.wedge_degree_cap": "test_graph_scale.py::test_wedge_degree_cap_excludes_hubs",
    "compact_parquet.target_files": "test_scale_paths.py::test_compact_parquet_reduces_files",
    "configure_logger.name": "test_warehouse.py::test_configure_logger_rotating",
    "connected_components.id_col": "test_properties.py::test_connected_components_match_union_find",
    "connected_components.max_iter": "test_scale_paths.py::test_connected_components_nonconvergence_raises",
    "connected_components_star.id_col": "test_properties.py::test_connected_components_star_match_union_find",
    "connected_components_star.max_iter": "test_scale_paths.py::test_connected_components_star_logn_on_long_chain",
    "containment_pairs.threshold": "test_corpus_ops.py::test_containment_vs_jaccard_subset_doc",
    "count_nulls.cols": "test_robustness.py::test_quality_checks_catch_seeded_violations",
    "get_spark.master": "conftest.py::spark",
    "harmonic_centrality.pivots": "test_scale_paths.py::test_harmonic_centrality_matches_reference_and_partitions",
    "harmonic_centrality.rounds": "test_scale_paths.py::test_harmonic_centrality_matches_reference_and_partitions",
    "hits.iterations": "test_scale_paths.py::test_hits_degenerate_inputs",
    "incremental_rollup_update.keys": "test_sinks_and_dedup.py::test_incremental_rollup_equals_full_recompute",
    "lsh_topk.dim": "test_similarity_multimodal_streaming.py::test_lsh_topk_subset_of_exact",
    "lsh_topk.k": "test_similarity_multimodal_streaming.py::test_lsh_topk_subset_of_exact",
    "lsh_topk.n_probe": "test_scale_paths.py::test_multiprobe_lsh_recall_uplift",
    "lsh_topk.num_planes": "test_similarity_multimodal_streaming.py::test_lsh_topk_subset_of_exact",
    "lsh_topk.num_tables": "test_scale_paths.py::test_multiprobe_lsh_recall_uplift",
    "mmr_diversified_topk.k": "test_mining_ops.py::test_mmr_prefers_diverse_over_duplicate",
    "mmr_diversified_topk.lam": "test_vector_kernels.py::test_mmr_grouped_pass_matches_legacy_plan",
    "mmr_diversified_topk.pool": "test_mining_ops.py::test_mmr_prefers_diverse_over_duplicate",
    "observe_quality.cols": "test_r13_ops.py::test_observe_quality_rides_the_job",
    "pack_sequences.context_tokens": "test_corpus_ops.py::test_pack_sequences_offsets_and_boundaries",
    "pca_top_component.n_iters": "test_scale_paths.py::test_pca_power_degenerate_zero_matrix",
    "perceptron_fit.epochs": "test_classifier.py::test_first_epoch_update_is_exact_batch_sum",
    "rolling_hash.text": "test_properties.py::test_rolling_hash_matches_python",
    "salted_join.how": "test_sinks_and_dedup.py::test_salted_join_rejects_outer",
    "salted_join.on": "test_properties.py::test_salted_join_equals_plain_join",
    "salted_join.salt_buckets": "test_properties.py::test_salted_join_equals_plain_join",
    "scd2_history.id_col": "test_properties.py::test_scd2_versions_partition_timeline",
    "scd2_history.key_cols": "test_properties.py::test_scd2_versions_partition_timeline",
    "scd2_history.ts_col": "test_properties.py::test_scd2_versions_partition_timeline",
    "semantic_dedup.n_cells": "test_corpus_ops.py::test_semantic_dedup_keeps_one_per_clique",
    "semantic_dedup.threshold": "test_corpus_ops.py::test_semantic_dedup_keeps_one_per_clique",
    "source_mixing_weights.token_budget": "test_corpus_ops.py::test_source_mixing_sqrt_damping",
    "stream_upsert_rollup.max_files_per_trigger": "test_streaming_append_and_jdbc.py::test_upsert_rollup_refines_open_windows_and_drops_late",
    "stream_upsert_rollup.path_glob": "test_streaming_append_and_jdbc.py::test_upsert_rollup_refines_open_windows_and_drops_late",
    "transitive_closure.rounds": "test_scale_paths.py::test_transitive_closure_synthetic_and_partition_invariant",
    "two_phase_rank.n_parts": "test_properties.py::test_two_phase_rank_matches_row_number",
}


def _constants() -> dict[str, str | None]:
    """Module-level literal constants of the package by name (None where
    two modules bind the name to different values)."""
    consts: dict[str, str | None] = {}
    for path in PKG.rglob("*.py"):
        for top in ast.parse(path.read_text()).body:
            if isinstance(top, ast.Assign) and len(top.targets) == 1:
                target = top.targets[0]
                try:
                    value = repr(ast.literal_eval(top.value))
                except (ValueError, TypeError, SyntaxError):
                    continue
                if isinstance(target, ast.Name):
                    prior = consts.setdefault(target.id, value)
                    consts[target.id] = value if prior == value else None
    return consts


def _value(node: ast.expr, consts: dict[str, str | None]) -> tuple[bool, str]:
    """(known, value): a literal or a named package constant is known by
    its value; any other expression only by its source text."""
    try:
        return True, repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError):
        text = ast.unparse(node)
        if isinstance(node, (ast.Name, ast.Attribute)) and consts.get(text.rsplit(".", 1)[-1]):
            return True, consts[text.rsplit(".", 1)[-1]]
        return False, text


def one_value_parameters() -> set[str]:
    """``fn.param`` for every parameter of a uniquely named, non-``q_*``
    top-level package function that all production calls leave at (or
    set to) one and the same value: a default, a literal or a named
    package constant."""
    funcs: dict[str, ast.FunctionDef | None] = {}
    for path in PKG.rglob("*.py"):
        for top in ast.parse(path.read_text()).body:
            if isinstance(top, ast.FunctionDef) and not top.name.startswith("q_"):
                funcs[top.name] = None if top.name in funcs else top
    consts = _constants()
    values: dict[tuple[str, str], tuple] = {}
    for path in PROD_FILES:
        tree = ast.parse(path.read_text())
        alias = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            fn = funcs.get(alias.get(name, name))
            if fn is None:
                continue
            args = fn.args
            positional = args.posonlyargs + args.args
            defaults = list(zip(positional[len(positional) - len(args.defaults) :], args.defaults))
            defaults += [(a, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None]
            star = any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            )
            given = {a.arg: v for a, v in zip(positional, call.args)}
            given.update({k.arg: k.value for k in call.keywords if k.arg})
            defaulted = {a.arg for a, _ in defaults}
            required = [(a, None) for a in positional + args.kwonlyargs if a.arg not in defaulted]
            for arg, default in defaults + required:
                node = given.get(arg.arg)
                dflt = None if default is None else _value(default, consts)
                dflt, seen = values.setdefault((fn.name, arg.arg), (dflt, set()))
                if node is None and star:
                    seen.add((False, "*"))
                else:
                    seen.add(dflt if node is None else _value(node, consts))
    return {
        f"{fn}.{param}"
        for (fn, param), (dflt, seen) in values.items()
        if len(seen) == 1 and (next(iter(seen))[0] or seen == {dflt})
    }


def test_no_new_one_value_parameters():
    """A parameter production never varies is a constant in disguise:
    only the pinned ones, each still varied by its named test, remain."""
    found = one_value_parameters()
    assert sorted(found - ONE_VALUE_PINS.keys()) == []
    assert sorted(ONE_VALUE_PINS.keys() - found) == []  # the pin list only shrinks
    for pin, test in ONE_VALUE_PINS.items():
        path, name = test.split("::")
        assert f"def {name}(" in (ROOT / "tests" / path).read_text(), pin


# Materializing an intermediate and collecting to the driver each have
# one device: partitioning.materialize (the storage policy) and
# ranking.collect_control (the row cap). certify.py compares results on
# the driver by design. The return trip, driver rows -> DataFrame, is
# ranking.control_frame's one createDataFrame call.
MATERIALIZE_HOME = {"operators/partitioning.py"}
COLLECT_HOMES = {"operators/ranking.py", "certify.py"}
CONTROL_FRAME_HOME = ("operators/ranking.py", "control_frame")
DRIVER_ACTIONS = {"collect", "toPandas", "toLocalIterator", "take", "head", "tail"}
# A finite stream runs against its batch twin through
# events_stream.run_to_memory, and every transformWithState query is
# planned on the session tws_sessionize.tws_session builds. The one
# other memory sink is q_pystream_replay_agg's: under availableNow Spark
# fixes the end offset with a single latestOffset call, so pyeventlog's
# replay would stop after 1 of the 5 micro-batches the query exists to
# test (and miss 4/5 of the rows), hence processAllAvailable + stop.
MEMORY_SINK_HOMES = {
    ("streaming/events_stream.py", "run_to_memory"),
    ("qdefs_star_events.py", "q_pystream_replay_agg"),
}
TWS_SESSION_HOME = ("streaming/tws_sessionize.py", "tws_session")


def test_materialize_and_collect_only_through_their_devices():
    """No ``.localCheckpoint(`` outside ``materialize``'s module; no
    driver collect (``collect``/``toPandas``/``toLocalIterator``/
    ``take``/``head``/``tail`` or a zero-argument ``.first()``) outside
    ``collect_control``'s module and the certifier; no
    ``.createDataFrame(`` outside ``control_frame`` itself; no
    ``.format("memory")`` outside ``run_to_memory`` (and the pystream
    query above); and no ``RocksDBStateStoreProvider`` outside
    ``tws_session``."""
    raw = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())

        def inside(homes):
            return {
                id(n)
                for fn in tree.body
                if (rel, getattr(fn, "name", None)) in homes
                for n in ast.walk(fn)
            }

        in_frame = inside({CONTROL_FRAME_HOME})
        in_sink = inside(MEMORY_SINK_HOMES)
        in_tws = inside({TWS_SESSION_HOME})
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and "RocksDBStateStoreProvider" in str(node.value)
                and id(node) not in in_tws
            ):
                raw.append(f"{rel}:{node.lineno} RocksDBStateStoreProvider")
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            attr = node.func.attr
            if attr == "localCheckpoint" and rel not in MATERIALIZE_HOME:
                raw.append(f"{rel}:{node.lineno} .localCheckpoint(")
            if attr == "createDataFrame" and id(node) not in in_frame:
                raw.append(f"{rel}:{node.lineno} .createDataFrame(")
            memory = [ast.unparse(a) for a in node.args] == ["'memory'"]
            if attr == "format" and memory and id(node) not in in_sink:
                raw.append(f'{rel}:{node.lineno} .format("memory")')
            first = attr == "first" and not node.args and not node.keywords
            if (attr in DRIVER_ACTIONS or first) and rel not in COLLECT_HOMES:
                raw.append(f"{rel}:{node.lineno} .{attr}(")
    assert raw == []


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


def test_package_cited_paths_resolve():
    """Each repo file a production comment or docstring cites
    (`plans/inspect.py`, `tests/test_x.py`, `vendor/...`) exists under
    the repo root or the package dir, so no comment points into a
    deleted tree."""
    cited = re.compile(
        r"(?<![\w.])((?:plans|tests|perfbench|sources|operators|streaming|vendor)"
        r"/[\w./-]*?\.(?:py|txt|json|md|log))\b"
    )
    broken = sorted(
        f"{f.relative_to(ROOT)}: {path}"
        for f in PROD_FILES
        for path in cited.findall(f.read_text())
        if not ((ROOT / path).exists() or (PKG / path).exists())
    )
    assert broken == []
