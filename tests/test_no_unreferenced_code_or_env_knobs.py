"""Guard against dead library code and stray env knobs growing back.

Two static checks over the source tree, no Spark session needed:

* every top-level ``def``/``class`` in ``cassandra_data_migration_spark``
  is referenced somewhere besides its own definition — by the library,
  the contract registry, the tests, the tools or the benchmark;
* the library reads exactly the four deployment environment variables
  (core count, data dir, driver heap and the fake-CQL log path); every
  other setting is a constant or a Spark conf.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIBRARY = ROOT / "cassandra_data_migration_spark"
SCAN_DIRS = ("cassandra_data_migration_spark", "cdm_entry", "tests", "tools", "perfbench")
SCAN_FILES = ("bench.py", "__spark_entry__.py")
DEPLOYMENT_ENV_KEYS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_FAKE_CQL_LOG",
    "SPARK_DRIVER_MEMORY",
}
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _scanned_files() -> list[Path]:
    files = [ROOT / f for f in SCAN_FILES]
    for d in SCAN_DIRS:
        files.extend(sorted((ROOT / d).rglob("*.py")))
    return files


def _referenced_names(tree: ast.Module) -> set[str]:
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            names.update(a.name for a in node.names)
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and _IDENT.match(node.value)
        ):
            names.add(node.value)
    return names


def test_every_library_definition_is_referenced():
    used: set[str] = set()
    for path in _scanned_files():
        used |= _referenced_names(_parse(path))
    unreferenced = [
        f"{path.relative_to(ROOT)}:{node.lineno} {node.name}"
        for path in sorted(LIBRARY.rglob("*.py"))
        for node in _parse(path).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and node.name not in used
    ]
    assert not unreferenced, "unreferenced library definitions:\n" + "\n".join(
        unreferenced
    )


def _env_keys_read(tree: ast.Module) -> set[str]:
    """Keys passed to ``os.environ.get``/``os.environ[...]``/``os.getenv``,
    resolving a module-level string constant used as the key."""
    constants = {
        t.id: node.value.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
        for t in node.targets
        if isinstance(t, ast.Name)
    }

    def key_of(expr: ast.expr) -> str:
        if isinstance(expr, ast.Constant) and isinstance(expr.value, str):
            return expr.value
        if isinstance(expr, ast.Name) and expr.id in constants:
            return constants[expr.id]
        return f"<dynamic key at line {expr.lineno}>"

    def is_environ(expr: ast.expr) -> bool:
        return (isinstance(expr, ast.Attribute) and expr.attr == "environ") or (
            isinstance(expr, ast.Name) and expr.id == "environ"
        )

    keys: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and is_environ(node.value):
            keys.add(key_of(node.slice))
        elif isinstance(node, ast.Call) and node.args:
            func = node.func
            reads_environ = isinstance(func, ast.Attribute) and (
                (func.attr in ("get", "pop", "setdefault") and is_environ(func.value))
                or func.attr == "getenv"
            )
            if reads_environ:
                keys.add(key_of(node.args[0]))
    return keys


def test_library_reads_only_deployment_env_keys():
    keys: set[str] = set()
    for path in LIBRARY.rglob("*.py"):
        keys |= _env_keys_read(_parse(path))
    assert keys == DEPLOYMENT_ENV_KEYS
