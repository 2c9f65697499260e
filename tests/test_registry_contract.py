"""Structural registry contracts (no Spark session needed).

Round-6 verdict item 5: the rows-only -> exact-twin mapping used to live
only in docstrings; here it is machine-checked in both directions so
"rows-only" can never silently mean "unverified".
"""

from __future__ import annotations

import ast

from wafer_defect_data_pipeline_spark.plans.registry import _ordered

from .conftest import REPO_ROOT


def test_every_rows_only_query_names_a_live_exact_twin():
    reg = _ordered()
    for name, rq in reg.items():
        if rq.oracle is not None:
            continue
        assert rq.exact_twin, f"{name} is rows-only but declares no exact_twin"
        if rq.exact_twin.startswith("pytest:"):
            path = REPO_ROOT / rq.exact_twin.removeprefix("pytest:")
            assert path.is_file(), f"{name}: twin test file {path} missing"
        else:
            twin = reg.get(rq.exact_twin)
            assert twin is not None, f"{name}: twin {rq.exact_twin} not registered"
            assert twin.oracle is not None, (
                f"{name}: twin {rq.exact_twin} is itself rows-only — a twin "
                "must carry a DuckDB oracle"
            )


def test_exact_twin_only_set_on_rows_only_queries():
    for name, rq in _ordered().items():
        if rq.oracle is not None:
            assert rq.exact_twin is None, (
                f"{name} has an oracle AND an exact_twin — twin is only the "
                "evidence channel for oracle-less queries"
            )


#: uuid4() sites that name an in-process catalog object (memory-sink query
#: names, a global-temp-view tag), not a filesystem path.
_CATALOG_NAME_SITES = {
    ("streaming/events.py", 'name = f"stream_{uuid.uuid4().hex[:12]}"'),
    ("streaming/events.py", 'name = f"dedup_{uuid.uuid4().hex[:12]}"'),
    ("streaming/events.py", 'name = f"avail_now_{uuid.uuid4().hex[:12]}"'),
    ("streaming/stateful.py", 'name = f"stateful_{uuid.uuid4().hex[:12]}"'),
    (
        "streaming/stateful.py",
        'return _run_profile_to_final(user_running_profile_exact(events), '
        'f"exact_{uuid.uuid4().hex[:12]}")',
    ),
    (
        "streaming/stateful.py",
        'return _run_profile_to_final(user_running_profile_tws(events), '
        'f"tws_{uuid.uuid4().hex[:12]}")',
    ),
    ("operators/skew.py", "tag = uuid.uuid4().hex"),
}


def test_scratch_paths_come_only_from_scratch_module():
    """Every work dir comes from scratch.run_dir / scratch_dir, whose paths
    the process removes at exit: no other module builds a path from a raw
    ``"/tmp/`` literal, ``tempfile.gettempdir()`` or a ``uuid4()``."""
    pkg = REPO_ROOT / "wafer_defect_data_pipeline_spark"
    hits = set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "scratch.py":
            continue
        for line in path.read_text().splitlines():
            if '"/tmp/' in line or "gettempdir()" in line or "uuid4()" in line:
                hits.add((rel, line.strip()))
    assert hits - _CATALOG_NAME_SITES == set()


def test_multimodal_batch_loops_live_only_in_the_two_runners():
    """Every multimodal Arrow kernel runs through ``_attach`` (fixtures) or
    ``_map_payloads`` (payload kernels): ``mapInPandas`` is called nowhere
    else in operators/multimodal.py, so no kernel regrows its own batch
    loop, id column or quarantine handling."""
    path = REPO_ROOT / "wafer_defect_data_pipeline_spark" / "operators" / "multimodal.py"
    owners = []
    for top in ast.parse(path.read_text()).body:
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr == "mapInPandas":
                owners.append(getattr(top, "name", "<module>"))
    assert sorted(owners) == ["_attach", "_map_payloads"]


def test_every_tool_compiles_and_its_package_imports_resolve():
    """A deleted or renamed package name must not leave a tool behind that
    still imports it: every ``tools/*.py`` compiles, and every name it
    imports from the package or from ``perfbench`` (nested imports too)
    resolves."""
    import importlib

    problems = []
    for path in sorted((REPO_ROOT / "tools").glob("*.py")):
        try:
            tree = ast.parse(path.read_text(), str(path))
            compile(tree, str(path), "exec")
        except SyntaxError as exc:
            problems.append(f"{path.name}: {exc}")
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                imports = [(node.module, [a.name for a in node.names])]
            elif isinstance(node, ast.Import):
                imports = [(a.name, []) for a in node.names]
            else:
                continue
            for module, names in imports:
                if module.split(".")[0] not in ("wafer_defect_data_pipeline_spark", "perfbench"):
                    continue
                try:
                    mod = importlib.import_module(module)
                except ImportError as exc:
                    problems.append(f"{path.name}:{node.lineno}: {exc}")
                    continue
                for name in names:
                    if hasattr(mod, name):
                        continue
                    try:
                        importlib.import_module(f"{module}.{name}")
                    except ImportError:
                        problems.append(f"{path.name}:{node.lineno}: {module}.{name} does not resolve")
    assert not problems, "\n".join(problems)
