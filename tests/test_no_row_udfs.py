"""Guardrail (SURVEY §7): no per-row Python UDFs anywhere on the hot path.

The north rule forbids per-row Python; only Arrow-vectorized pandas UDFs
(``mapInPandas`` and scalar pandas UDFs, both built in ``shipping.py``) and
native column expressions are allowed.  This test greps the package source.
It also parses the imports of the package and its entry points, so a module
only tests import (a second copy of a capability) fails here.
"""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "pdf_extraction_tests_spark"

ROW_UDF_RE = re.compile(r"(?<!pandas_)\budf\s*\(|@F\.udf\b|F\.udf\s*\(")


def test_no_row_at_a_time_udfs():
    offenders = []
    for path in PKG.rglob("*.py"):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#")[0]
            if ROW_UDF_RE.search(code):
                offenders.append(f"{path.name}:{i}: {line.strip()}")
    assert not offenders, "row-at-a-time UDFs found:\n" + "\n".join(offenders)


def test_no_driver_side_collect_loops():
    """`.collect()` in package transforms would de-distribute an operator;
    sanctioned uses are checkpoint bookkeeping in pipeline.py and lines
    explicitly marked ``bounded-sample ok`` (driver-side training samples
    behind a limit())."""
    allowed = {"pipeline.py"}
    offenders = []
    for path in PKG.rglob("*.py"):
        if path.name in allowed:
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#")[0]
            if ".collect()" in code and "bounded-sample ok" not in line:
                offenders.append(f"{path.name}:{i}: {line.strip()}")
    assert not offenders, "driver-side collect in operators:\n" + "\n".join(offenders)


def _outside_shipping(token: str) -> list[str]:
    offenders = []
    for path in PKG.rglob("*.py"):
        if path == PKG / "shipping.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if token in line.split("#")[0]:
                offenders.append(f"{path.name}:{i}: {line.strip()}")
    return offenders


def test_mapinpandas_only_in_shipping():
    """Every batched Python stage is built by ``shipping.map_batches``,
    which ships the package to the workers first; a hand-written
    ``.mapInPandas(`` elsewhere can skip that and fail with
    ModuleNotFoundError in a session that never shipped it."""
    offenders = _outside_shipping(".mapInPandas(")
    assert not offenders, ("mapInPandas outside shipping.map_batches:\n"
                           + "\n".join(offenders))


def test_pandas_udf_only_in_shipping():
    """Every scalar pandas UDF is built by ``shipping.pandas_column``, for
    the same reason as ``map_batches``."""
    offenders = _outside_shipping("pandas_udf(")
    assert not offenders, ("pandas_udf outside shipping.pandas_column:\n"
                           + "\n".join(offenders))


def test_no_grouped_python_boundary():
    """``map_batches`` and ``pandas_column`` are the only two ways across
    the Python boundary: no ``applyInPandas`` (grouped or with state)
    appears anywhere in the package, code or prose."""
    offenders = [
        f"{path.name}:{i}: {line.strip()}"
        for path in PKG.rglob("*.py")
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "applyInPandas" in line
    ]
    assert not offenders, ("applyInPandas in the package:\n"
                           + "\n".join(offenders))


def test_no_persisted_frames():
    """Every operator returns a lazy plan: nothing in the package caches,
    persists or checkpoints a frame (a persisted result stays pinned
    until someone releases it, and nothing does), code or prose."""
    persist_re = re.compile(
        r"\.cache\(\)|\.persist\(|localCheckpoint|\.checkpoint\(|unpersist")
    offenders = [
        f"{path.relative_to(PKG)}:{i}: {line.strip()}"
        for path in PKG.rglob("*.py")
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if persist_re.search(line)
    ]
    assert not offenders, ("persisted frames in the package:\n"
                           + "\n".join(offenders))


def test_env_reads_only_in_session():
    """Deployment settings live in ``session.py``; an environment read
    anywhere else is a switch no caller can see (and no test sets)."""
    env_re = re.compile(r"\bos\.(environ|getenv)\b|\bgetenv\s*\(")
    offenders = []
    for path in PKG.rglob("*.py"):
        if path == PKG / "session.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if env_re.search(line.split("#")[0]):
                offenders.append(f"{path.relative_to(PKG)}:{i}: {line.strip()}")
    assert not offenders, ("environment reads outside session.py:\n"
                           + "\n".join(offenders))


# Modules no production path imports, each kept for the SURVEY row named
# here: a capability the package offers but no query or job calls.
_UNIMPORTED_OK = {
    "functions.render": "S7 prompt-document sink",
    "operators.llm_hook": "U4 optional LLM structure stage",
    "sources.binary_docs": "S8 binary-document scan",
    "streaming.incremental": "§2.9 incremental ingestion",
}


def _module_name(path: pathlib.Path) -> str:
    parts = path.relative_to(PKG).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_modules(path: pathlib.Path) -> set[str]:
    """Every package-relative module name the file at ``path`` imports,
    relative imports resolved; ``from a import b`` counts both ``a`` and
    ``a.b``, since ``b`` may be a submodule."""
    here = [PKG.name, *path.parent.relative_to(PKG).parts] \
        if path.is_relative_to(PKG) else []
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = here[:len(here) - (node.level - 1)]
                base = ".".join(parts + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    prefix = PKG.name + "."
    return {n[len(prefix):] for n in names if n.startswith(prefix)}


def test_every_module_has_a_non_test_importer():
    """Each leaf module of the package is imported by the package itself,
    ``__spark_entry__.py``, ``job.py``, ``bench.py`` or ``sparkbench/``
    (its tests aside), unless ``_UNIMPORTED_OK`` names the SURVEY row that
    keeps it.  A module only tests import is a second copy to delete."""
    repo = PKG.parent
    importers = [*PKG.rglob("*.py"), repo / "__spark_entry__.py",
                 repo / "job.py", repo / "bench.py",
                 *(repo / "sparkbench").glob("*.py")]
    imported = set()
    for path in importers:
        own = _module_name(path) if path.is_relative_to(PKG) else None
        imported |= _imported_modules(path) - {own}
    modules = {_module_name(p) for p in PKG.rglob("*.py")
               if p.name != "__init__.py"}
    orphans = sorted(modules - imported - set(_UNIMPORTED_OK))
    assert not orphans, f"modules only tests import: {orphans}"
    stale = sorted(m for m in _UNIMPORTED_OK if m in imported or m not in modules)
    assert not stale, f"allowlisted modules that now have importers: {stale}"
