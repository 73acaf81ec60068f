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

The same holds one level down: every top-level function and class of
a reached module must be named by product code — a reached def, the
module-level code of a reached module, or an entry-point file.  The
scan is by name (``foo`` and ``mod.foo`` both name ``foo``), and a
decorated def counts as reached: the ``@query`` and transform
registries call their members by registry key, not by name.
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
}

# Top-level defs no product path names, kept on purpose.
ALLOWED_UNCALLED = {
    "pgloader_spark.functions.transforms.register_transform": (
        "the --load-py-file plugin API: user plugin files call it"
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


_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(nodes) -> set[str]:
    """Every name NODES mention: loads, attribute tails, imported
    names."""
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
    return out


def _uncalled() -> dict[str, int]:
    """Top-level defs of reached modules that no product code names,
    with their line counts."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seeds: set[str] = set()
    for path in ROOTS:
        if not path.is_relative_to(PKG):
            seeds |= _names([ast.parse(path.read_text(encoding="utf-8"))])
    for mod in _reached():
        tree = ast.parse(PACKAGE[mod].read_text(encoding="utf-8"))
        for node in tree.body:
            if isinstance(node, _DEF):
                defs.setdefault(node.name, []).append((mod, node))
                if node.decorator_list:
                    seeds.add(node.name)
            else:
                seeds |= _names([node])
    named: set[str] = set()
    stack = list(seeds)
    while stack:
        name = stack.pop()
        if name in named:
            continue
        named.add(name)
        for _, node in defs.get(name, []):
            stack.extend(_names([node]) - named)
    return {
        f"{mod}.{name}": node.end_lineno - node.lineno + 1
        for name, hits in defs.items()
        if name not in named
        for mod, node in hits
    }


def test_every_package_def_has_a_product_caller():
    uncalled = {
        k: n for k, n in _uncalled().items() if k not in ALLOWED_UNCALLED
    }
    assert not uncalled, "\n".join(
        f"{k} ({n} lines): no product path names it"
        for k, n in sorted(uncalled.items())
    )


def test_uncalled_allow_list_is_still_uncalled():
    assert set(ALLOWED_UNCALLED) <= set(_uncalled())


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
