"""Every module under ocr_spark/ is reachable from an entry point.

Walks the ``import`` / ``from ... import`` statements (function-local and
relative ones included) of the package from the entry modules: the CLI, the
batch and streaming jobs, ``__spark_entry__.py`` and ``bench.py``, which
imports ``ocr_spark.procstat``; tools/ and perfbench/ are not roots. A module
nothing reaches is dead code; delete it or wire it in.
"""

import ast
import os

from conftest import REPO

ENTRY_MODULES = ("ocr_spark.cli", "ocr_spark.pipeline.job", "ocr_spark.streaming.job")
ENTRY_FILES = ("__spark_entry__.py", "bench.py")


def _package_modules() -> dict[str, str]:
    """Dotted module name -> path, for every .py file under ocr_spark/."""
    mods = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, "ocr_spark")):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, f), REPO)[: -len(".py")]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            mods[".".join(parts)] = os.path.join(root, f)
    return mods


def _imports(path: str, package: str) -> set[str]:
    """Absolute dotted names a file imports; ``package`` anchors relative
    imports. ``from a import b`` yields both ``a`` and ``a.b`` (b may be a
    submodule); callers keep only names that are real modules."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(base + ([node.module] if node.module else []))
            else:
                base = node.module
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _reached() -> tuple[set[str], dict[str, str]]:
    mods = _package_modules()

    def package_of(name: str) -> str:
        return name if mods[name].endswith("__init__.py") else name.rpartition(".")[0]

    todo = list(ENTRY_MODULES)
    for f in ENTRY_FILES:
        todo.extend(_imports(os.path.join(REPO, f), ""))
    seen = set()
    while todo:
        name = todo.pop()
        if name not in mods or name in seen:
            continue
        seen.add(name)
        # importing a.b.c runs the __init__ of a and a.b first
        parts = name.split(".")
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.extend(_imports(mods[name], package_of(name)))
    return seen, mods


def test_every_package_module_is_reached_from_an_entry_point():
    seen, mods = _reached()
    # the walk sees through function-local relative imports such as
    # udfs.make_ocr_udf's ``from ..kernel.engine import recognize``
    assert {"ocr_spark.pipeline.udfs", "ocr_spark.kernel.engine", "ocr_spark.procstat"} <= seen
    dead = sorted(
        m for m, path in mods.items()
        if not path.endswith("__init__.py") and m not in seen
    )
    assert not dead, f"modules no entry point imports: {dead}"
