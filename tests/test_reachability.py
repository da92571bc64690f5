"""Every module and every top-level name under ocr_spark/ is reachable from
an entry point.

Entry points: the CLI (``ocr_spark.cli``), ``__spark_entry__.py``,
``bench.py``, ``tools/*.py`` and ``perfbench/*.py``.

The module walk follows the ``import`` / ``from ... import`` statements
(function-local and relative ones included) of the package from the entry
points. The name walk counts real uses only: ``Name`` ids, ``Attribute``
attrs and imported names, never docstrings or comments. It starts from the
entry points and every top-level statement of the package that is not a
def, class or assignment, then follows the bodies of the defs, classes and
assignments it reaches until nothing new is reached. A name is matched by
its spelling alone, whatever module defines it, so the walk can only err
towards keeping code. A module or name nothing reaches is dead code; delete
it or wire it in.

The environment audit allows the package one environment read, the fixture
cache path (a deployment path); anything else a deployment varies is a
Spark conf, a CLI flag or a parameter, never a hidden knob.

The options audit holds every defaulted parameter of a function of the
package, of ``__spark_entry__.py``, of ``bench.py`` and of ``tools/*.py``,
and every field with a literal default of a dataclass of the package, to
the same standard: some call of a function or class of that name, outside
it, in an entry file or in the package, sets it by keyword or by position
(a ``**`` splat sets every parameter, a ``*`` splat every positional one) to
something other than its own literal default. An option that only ever
takes its default is a constant in disguise; fold it in.
"""

import ast
import glob
import os

from conftest import REPO

ENTRY_MODULES = ("ocr_spark.cli",)
ENTRY_FILES = (
    "__spark_entry__.py",
    "bench.py",
    *sorted(
        os.path.relpath(p, REPO)
        for d in ("tools", "perfbench")
        for p in glob.glob(os.path.join(REPO, d, "*.py"))
    ),
)

# files whose defs the options audit covers besides the package's
# (perfbench/ belongs to the benchmark)
AUDITED_ENTRY_FILES = tuple(f for f in ENTRY_FILES if not f.startswith("perfbench"))

# top-level names kept only for tests; the walk starts from them too
TEST_ONLY = {
    "__version__",
    "decode_rgb",  # png: reads the F8 RGB goldens
    "simhash_signature",  # dedup: the reference the one-shuffle SimHash is pinned against
    "scan_page",  # engine: the single-page API the parity tests drive
}


# defaulted parameters only tests set, each because a test must reach a state
# real inputs reach: ``module.function(parameter)`` -> why
TEST_SET_OPTIONS = {
    "ocr_spark.cli.main(argv)": "tests drive the CLI in-process",
    "ocr_spark.functions.dedup.dedup_components(max_iters)":
        "forces non-convergence and pins the O(log d) iteration bound",
    "ocr_spark.functions.similarity.ivf_topk(n_clusters)":
        "the capped-sample trainer contract on a small index",
    "ocr_spark.functions.similarity.ivf_topk(sample_cap)":
        "the capped-sample trainer contract on a small index",
    "ocr_spark.functions.similarity.near_dup_pairs_lsh(n_bands)":
        "the banding recall contract against a single band",
    "ocr_spark.functions.events.range_count_preceding(window_us)":
        "exact window-boundary hits on a 1 s window",
    "ocr_spark.y4m.build_y4m(fps)": "the parser fuzz round-trips the frame-rate header",
}

# the only environment variables the package may read: name -> why
ENV_READS = {"OCR_SPARK_FIXTURES": "the fixture cache path, a deployment path"}


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


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
    out = set()
    for node in ast.walk(_parse(path)):
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


def _uses(node: ast.AST) -> set[str]:
    """Names ``node`` reads: loaded ``Name`` ids, loaded ``Attribute``
    attrs and imported names."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute) and not isinstance(n.ctx, ast.Store):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(a.name.rpartition(".")[2] for a in n.names)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    """The names a top-level def, class or assignment binds; [] for any
    other statement."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = (
        stmt.targets if isinstance(stmt, ast.Assign)
        else [stmt.target] if isinstance(stmt, ast.AnnAssign)
        else []
    )
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _unreached_names(mods: dict[str, str]) -> list[str]:
    """``module.name`` for every top-level def, class or assigned name of
    the package that no entry point reaches."""
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    used = set(TEST_ONLY)
    for f in ENTRY_FILES:
        used |= _uses(_parse(os.path.join(REPO, f)))
    for mod, path in mods.items():
        for stmt in _parse(path).body:
            names = _defined(stmt)
            if mod in ENTRY_MODULES or not names:
                used |= _uses(stmt)
            for name in names:
                defs.setdefault(name, []).append((mod, stmt))
    walked: set[str] = set()
    while todo := (used & defs.keys()) - walked:
        for name in todo:
            walked.add(name)
            for _mod, stmt in defs[name]:
                used |= _uses(stmt)
    return sorted(
        f"{mod}.{name}"
        for name, sites in defs.items()
        if name not in used
        for mod, _stmt in sites
    )


def test_every_package_module_is_reached_from_an_entry_point():
    seen, mods = _reached()
    # the walk sees through function-local relative imports such as
    # udfs.blob_texts's ``from ..kernel.engine import recognize_pages``
    assert {"ocr_spark.pipeline.udfs", "ocr_spark.kernel.engine", "ocr_spark.procstat"} <= seen
    dead = sorted(
        m for m, path in mods.items()
        if not path.endswith("__init__.py") and m not in seen
    )
    assert not dead, f"modules no entry point imports: {dead}"


def test_every_top_level_name_is_reached_from_an_entry_point():
    dead = _unreached_names(_package_modules())
    assert not dead, f"top-level names no entry point reaches: {dead}"


def _is_dataclass(cls: ast.ClassDef) -> bool:
    for d in cls.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if (f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)) == "dataclass":
            return True
    return False


def _defaulted_params(tree: ast.Module):
    """(function name, parameter, positional index or None, default, ids of
    the calls inside it) for every defaulted parameter of every def in
    ``tree``, and for every field with a literal default of every dataclass
    (its constructor's parameter); a method's positional index does not
    count ``self``."""
    methods = {
        id(s) for c in ast.walk(tree) if isinstance(c, ast.ClassDef) for s in c.body
    }
    for node in ast.walk(tree):
        if isinstance(node, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            own = {id(n) for n in ast.walk(node) if isinstance(n, ast.Call)}
        if isinstance(node, ast.ClassDef) and _is_dataclass(node):
            fields = [s for s in node.body if isinstance(s, ast.AnnAssign)]
            for i, f in enumerate(fields):
                # a default_factory is no literal: the audit skips it
                if f.value is not None and _literal(f.value) is not None:
                    yield node.name, f.target.id, i, f.value, own
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        a = node.args
        pos = a.posonlyargs + a.args
        shift = 1 if id(node) in methods else 0
        first = len(pos) - len(a.defaults)
        for i, default in enumerate(a.defaults, first):
            yield node.name, pos[i].arg, i - shift, default, own
        for arg, default in zip(a.kwonlyargs, a.kw_defaults):
            if default is not None:
                yield node.name, arg.arg, None, default, own


def _literal(node: ast.expr):
    """(type, value) of a literal expression; None for anything else."""
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return None
    return type(v), v


def _sets(call: ast.Call, param: str, index: int | None, default: ast.expr) -> bool:
    """Whether ``call`` passes ``param`` a value other than its literal
    ``default``."""
    dflt = _literal(default)

    def differs(arg: ast.expr) -> bool:
        return dflt is None or _literal(arg) != dflt

    for k in call.keywords:
        if k.arg is None:
            return True
        if k.arg == param:
            return differs(k.value)
    if index is None:
        return False
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return len(call.args) > index and differs(call.args[index])


def _unset_options(mods: dict[str, str]) -> list[str]:
    """``module.function(parameter)`` for every defaulted parameter of the
    package and the audited entry files that no call in an entry file or the
    package sets."""
    trees = {mod: _parse(path) for mod, path in mods.items()}
    entry_trees = {f: _parse(os.path.join(REPO, f)) for f in ENTRY_FILES}
    calls: dict[str, list[ast.Call]] = {}
    for tree in [*trees.values(), *entry_trees.values()]:
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append(n)
    for f in AUDITED_ENTRY_FILES:
        trees[f[: -len(".py")].replace(os.sep, ".")] = entry_trees[f]
    return sorted(
        f"{mod}.{fn}({param})"
        for mod, tree in trees.items()
        for fn, param, index, default, own in _defaulted_params(tree)
        if not any(
            _sets(c, param, index, default) for c in calls.get(fn, ()) if id(c) not in own
        )
    )


def test_every_option_is_set_by_some_caller():
    unset = _unset_options(_package_modules())
    stray = sorted(set(unset) - TEST_SET_OPTIONS.keys())
    assert not stray, (
        f"{len(stray)} defaulted parameters no entry point or package call "
        f"sets to anything but the default; make each a constant: {stray}"
    )
    stale = sorted(TEST_SET_OPTIONS.keys() - set(unset))
    assert not stale, f"allowlisted but set by a real caller, or gone: {stale}"


def _env_reads(path: str) -> list[str]:
    """The variable of every ``os.environ``/``os.getenv`` read in a file:
    the name of ``environ[NAME]``, ``environ.get(NAME)`` and
    ``getenv(NAME)``, and the source text of any other read."""
    tree = _parse(path)
    parent = {id(c): n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    out = []
    for n in ast.walk(tree):
        name = n.attr if isinstance(n, ast.Attribute) else getattr(n, "id", None)
        if name not in ("environ", "getenv"):
            continue
        p = parent[id(n)]
        if name == "environ" and isinstance(p, ast.Subscript):
            key = p.slice
        elif name == "environ" and isinstance(p, ast.Attribute) and p.attr == "get":
            key = parent[id(p)].args[0]
        elif name == "getenv" and isinstance(p, ast.Call):
            key = p.args[0]
        else:
            key = p
        out.append(key.value if isinstance(key, ast.Constant) else ast.unparse(key))
    return out


def test_package_reads_no_environment_knob():
    reads = sorted(
        f"{mod}: {var}"
        for mod, path in _package_modules().items()
        for var in _env_reads(path)
        if var not in ENV_READS
    )
    assert not reads, f"environment reads outside {sorted(ENV_READS)}: {reads}"
