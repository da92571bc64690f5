"""Packaging smoke test: the zip that tools/package.sh builds for
``spark-submit --py-files`` must import and run on its own — bundled font
sheets learned through importlib.resources, the OCR kernel and the PDF
parser — with the same results as the source tree, also after its zip
finders are dropped from the import cache, as every task of a Spark Python
worker drops them."""

import ast
import glob
import hashlib
import json
import os
import subprocess
import sys

from conftest import REPO

_PROBE = """
import hashlib, importlib, json, sys, zipimport
import ocr_spark

ocr_spark.forget_zip_finders()
importlib.invalidate_caches()
zip_finders = sorted(
    k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)
)
from ocr_spark.fixtures import load_glyphs, render_page
from ocr_spark.kernel.engine import recognize
from ocr_spark.kernel.segment import CHAR_SPACING, Settings
from ocr_spark.pdf import build_pdf, extract_text
from ocr_spark.pipeline.udfs import load_alphabet

alpha = load_alphabet(("arial", "courier"))
page = render_page(["Spark", "Extract", "1234"], load_glyphs())
print(json.dumps({
    "module": ocr_spark.__file__,
    "chars": "".join(alpha.chars),
    "fonts": sorted(set(alpha.fonts)),
    "vectors": hashlib.sha1(alpha.vectors.tobytes()).hexdigest(),
    "ocr": recognize(page, Settings(character_spacing=CHAR_SPACING), alpha),
    "pdf": extract_text(build_pdf([["a", "b"], ["c"]])),
    "zip_finders": zip_finders,
}))
"""


def test_package_zip_runs_standalone(tmp_path):
    from ocr_spark.fixtures import load_glyphs, render_page
    from ocr_spark.kernel.classify import Alphabet
    from ocr_spark.kernel.engine import recognize
    from ocr_spark.kernel.segment import CHAR_SPACING, Settings
    from ocr_spark.pdf import build_pdf, extract_text
    from ocr_spark.png import decode_gray

    subprocess.run(["bash", os.path.join(REPO, "tools", "package.sh")], check=True)
    zip_path = os.path.join(REPO, "dist", "ocr_spark.zip")

    # an empty TMPDIR that stays empty: the zip learns its alphabet from the
    # sheets inside it and leaves no cache behind
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYTHONPATH=zip_path, TMPDIR=str(tmpdir))
    got = json.loads(
        subprocess.run(
            [sys.executable, "-c", _PROBE], cwd=tmp_path, env=env,
            check=True, capture_output=True, text=True,
        ).stdout
    )
    assert got["module"].startswith(zip_path + os.sep)
    assert list(tmpdir.iterdir()) == []

    alpha = Alphabet()
    for font in ("arial", "courier"):
        with open(os.path.join(REPO, "ocr_spark", "data", f"{font}.gray.png"), "rb") as f:
            alpha.learn_sheet(decode_gray(f.read()), font)
    page = render_page(["Spark", "Extract", "1234"], load_glyphs())
    assert got["chars"] == "".join(alpha.chars)
    assert got["fonts"] == ["arial", "courier"]
    assert got["vectors"] == hashlib.sha1(alpha.vectors.tobytes()).hexdigest()
    assert got["ocr"] == recognize(page, Settings(character_spacing=CHAR_SPACING), alpha)
    assert got["pdf"] == extract_text(build_pdf([["a", "b"], ["c"]])) == ["a b", "c"]
    assert got["zip_finders"] == []


def test_forget_zip_finders_drops_only_zip_finders(tmp_path):
    import importlib.machinery
    import zipfile
    import zipimport

    import ocr_spark

    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_probe_mod.py", "VALUE = 7\n")
    plain = str(tmp_path / "plain")
    sys.path_importer_cache[str(archive)] = zipimport.zipimporter(str(archive))
    sys.path_importer_cache[plain] = importlib.machinery.FileFinder(plain)
    sys.path.insert(0, str(archive))
    try:
        import zipped_probe_mod

        ocr_spark.forget_zip_finders()
        assert not any(
            isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()
        )
        assert plain in sys.path_importer_cache
        # an imported module keeps its loader, and a new import from the
        # same archive rebuilds its finder
        assert zipped_probe_mod.__loader__.get_source("zipped_probe_mod") == "VALUE = 7\n"
        del sys.modules["zipped_probe_mod"]
        assert importlib.import_module("zipped_probe_mod").VALUE == 7
    finally:
        sys.path.remove(str(archive))
        sys.modules.pop("zipped_probe_mod", None)
        sys.path_importer_cache.pop(str(archive), None)
        sys.path_importer_cache.pop(plain, None)


def _called(node: ast.AST, name: str) -> bool:
    return any(
        isinstance(c, ast.Call)
        and name in (getattr(c.func, "id", None), getattr(c.func, "attr", None))
        for c in ast.walk(node)
    )


def test_every_package_udf_drops_zip_finders():
    """Static check of the rule above: every function of the package that
    Spark runs in a Python worker, one decorated with ``pandas_udf`` or one
    passed to ``mapInPandas``, calls ``forget_zip_finders``."""
    missing = []
    for path in sorted(glob.glob(os.path.join(REPO, "ocr_spark", "**", "*.py"), recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        udfs = {}
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if any(_called(d, "pandas_udf") or getattr(d, "id", None) == "pandas_udf"
                   for d in fn.decorator_list):
                udfs[id(fn)] = fn
            local = {
                s.name: s for s in fn.body
                if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef))
            }
            for c in ast.walk(fn):
                if (isinstance(c, ast.Call) and getattr(c.func, "attr", None) == "mapInPandas"
                        and c.args and getattr(c.args[0], "id", None) in local):
                    udfs[id(local[c.args[0].id])] = local[c.args[0].id]
        rel = os.path.relpath(path, REPO)
        missing += [
            f"{rel}:{fn.lineno} {fn.name}" for fn in udfs.values()
            if not _called(fn, "forget_zip_finders")
        ]
    assert not missing, f"UDFs that keep their zip finders: {missing}"
