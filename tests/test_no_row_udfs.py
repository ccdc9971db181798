"""Guardrail (SURVEY §7): no per-row Python UDFs anywhere on the hot path.

The north rule forbids per-row Python; only Arrow-vectorized pandas UDFs
(``mapInPandas`` and scalar pandas UDFs, both built in ``shipping.py``) and
native column expressions are allowed.  This test greps the package source.
"""

from __future__ import annotations

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
