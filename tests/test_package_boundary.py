"""The package holds only product code.

An AST import-graph scan (no module of the package is imported except
``sources.jdbc``, for ``LIVE_SCHEMES``; no Spark) from the product
entry points: the CLI (``cli``, ``__main__``), the query contract
(``__spark_entry__.py``, ``bench.py``), the parity check
(``tools/check_parity.py``) and the live-source modules that
``jdbc.open_live_source`` imports by name from ``LIVE_SCHEMES``.
Every ``pgloader_spark`` module must be reached from one of them; a
module that only ``tests/`` imports is a fixture and lives under
``tests/fixtures/``, or it is dead and goes.
"""

from __future__ import annotations

import ast
from pathlib import Path

from pgloader_spark.sources.jdbc import LIVE_SCHEMES

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "pgloader_spark"

ROOTS = [
    PKG / "cli.py",
    PKG / "__main__.py",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / "tools" / "check_parity.py",
] + [PKG / "sources" / f"{mod}.py" for mod in set(LIVE_SCHEMES.values())]

# Unreached on purpose until the ROADMAP item named decides them.
ALLOWED_UNREACHED = {
    "pgloader_spark.plans.citus": (
        "the DISTRIBUTE clause parses but nothing calls citus_ddl; "
        "ROADMAP item 7 wires or deletes it"
    ),
    "pgloader_spark.streaming.syslog": (
        "LOAD MESSAGES parses but no executor path starts the syslog "
        "stream; ROADMAP item 7"
    ),
    "pgloader_spark.streaming.abnf": (
        "the scanner grammar streaming/syslog.py compiles; goes with "
        "it (ROADMAP item 7)"
    ),
    "pgloader_spark.streaming.pg_sink": (
        "the exactly-once epoch log ROADMAP item 1 reuses per COPY "
        "partition"
    ),
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


PACKAGE = {_module_name(p): p for p in PKG.rglob("*.py")}


def _imports(path: Path) -> set[str]:
    """The package modules PATH imports anywhere in its body (lazy,
    in-function imports included), parent packages counted."""
    here = _module_name(path).split(".")
    if path.name != "__init__.py":
        here.pop()
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = here[: len(here) - node.level + 1]
                base = ".".join(pkg + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    found = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in PACKAGE:
                found.add(prefix)
    return found


def _reached() -> set[str]:
    seen: set[Path] = set()
    stack = list(ROOTS)
    while stack:
        path = stack.pop()
        if path in seen:
            continue
        seen.add(path)
        stack.extend(PACKAGE[m] for m in _imports(path))
    return {_module_name(p) for p in seen if p.is_relative_to(PKG)}


def _test_importers(module: str) -> list[str]:
    return sorted(
        str(p.relative_to(REPO))
        for p in (REPO / "tests").rglob("*.py")
        if module in _imports(p)
    )


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = set(PACKAGE) - _reached() - set(ALLOWED_UNREACHED)
    assert not unreached, "\n".join(
        f"{m}: no entry point reaches it; imported by "
        f"{_test_importers(m) or 'nothing'}"
        for m in sorted(unreached)
    )


def test_allow_list_is_still_unreached():
    """An allowed module that an entry point now reaches leaves the
    list, so the list never outgrows what is really pending."""
    assert not set(ALLOWED_UNREACHED) & _reached()
    assert set(ALLOWED_UNREACHED) <= set(PACKAGE)


def test_package_never_imports_tests():
    offenders = [
        str(p.relative_to(REPO))
        for p in PACKAGE.values()
        for node in ast.walk(ast.parse(p.read_text(encoding="utf-8")))
        if isinstance(node, (ast.Import, ast.ImportFrom))
        and any(
            n == "tests" or n.startswith("tests.")
            for n in (
                [a.name for a in node.names]
                if isinstance(node, ast.Import)
                else [node.module or ""]
            )
        )
    ]
    assert not offenders
