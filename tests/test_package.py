"""Packaging smoke test: the zip that tools/package.sh builds for
``spark-submit --py-files`` must import and run on its own — bundled font
sheets learned through importlib.resources, the OCR kernel and the PDF
parser — with the same results as the source tree."""

import hashlib
import json
import os
import subprocess
import sys

from conftest import REPO

_PROBE = """
import hashlib, json
import ocr_spark
from ocr_spark.fixtures import load_glyphs, render_page
from ocr_spark.kernel.engine import recognize
from ocr_spark.kernel.segment import Settings
from ocr_spark.pdf import build_pdf, extract_text
from ocr_spark.pipeline.udfs import load_alphabet

alpha = load_alphabet(("arial", "courier"))
page = render_page(["Spark", "Extract", "1234"], load_glyphs())
print(json.dumps({
    "module": ocr_spark.__file__,
    "chars": "".join(alpha.chars),
    "fonts": sorted(set(alpha.fonts)),
    "vectors": hashlib.sha1(alpha.vectors.tobytes()).hexdigest(),
    "ocr": recognize(page, Settings(character_spacing=8.0), alpha),
    "pdf": extract_text(build_pdf([["a", "b"], ["c"]])),
}))
"""


def test_package_zip_runs_standalone(tmp_path):
    from ocr_spark.fixtures import load_glyphs, render_page
    from ocr_spark.kernel.classify import Alphabet
    from ocr_spark.kernel.engine import recognize
    from ocr_spark.kernel.segment import Settings
    from ocr_spark.pdf import build_pdf, extract_text
    from ocr_spark.png import decode_gray

    subprocess.run(["bash", os.path.join(REPO, "tools", "package.sh")], check=True)
    zip_path = os.path.join(REPO, "dist", "ocr_spark.zip")

    # a fresh TMPDIR: the zip's alphabet is learned, not read from a cache
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYTHONPATH=zip_path, TMPDIR=str(tmp_path))
    got = json.loads(
        subprocess.run(
            [sys.executable, "-c", _PROBE], cwd=tmp_path, env=env,
            check=True, capture_output=True, text=True,
        ).stdout
    )
    assert got["module"].startswith(zip_path + os.sep)

    alpha = Alphabet()
    for font in ("arial", "courier"):
        with open(os.path.join(REPO, "ocr_spark", "data", f"{font}.gray.png"), "rb") as f:
            alpha.learn_sheet(decode_gray(f.read()), font)
    page = render_page(["Spark", "Extract", "1234"], load_glyphs())
    assert got["chars"] == "".join(alpha.chars)
    assert got["fonts"] == ["arial", "courier"]
    assert got["vectors"] == hashlib.sha1(alpha.vectors.tobytes()).hexdigest()
    assert got["ocr"] == recognize(page, Settings(character_spacing=8.0), alpha)
    assert got["pdf"] == extract_text(build_pdf([["a", "b"], ["c"]])) == ["a b", "c"]
