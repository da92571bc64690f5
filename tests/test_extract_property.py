"""Differential property for the extraction plan: on random small corpora,
``extract_spans`` returns exactly the rows a driver-side walk of the same
documents gives. The walk calls the kernels directly, one span at a time:

* text  -> ``strip_html``
* media -> ``recognize(decode_gray(png))``, None for a missing ref or a
  null blob
* pdf   -> ``" ".join(extract_text(blob)) or None``, None likewise, and for
  every pdf span when the corpus ships no pdfs.parquet
* any other kind -> None: no blob table holds it
* a null kind -> no row

Refs come from a small pool, so one example can hold hot refs (many spans
on one blob), dangling refs, null blobs, a ref string present in both the
media and the pdf table, empty and null span arrays, and spans of a kind
no blob table holds or of a null kind. Any plan rewrite
(routing, semi-join, salt, join-back) must keep this property.

A second property drives ``extract()`` itself over the same corpora: with
1-5 buckets, the manifest cut to a random subset of its rows (a run that
died between writing spans and committing them), then a rerun. The
committed spans must equal the same walk, each in bucket
``crc32(doc_id) % buckets``, and every bucket must hold exactly one manifest
row whose counts and checksum describe those spans and that records the
bucket count. A rerun with another bucket count is refused after one job,
the manifest read, and leaves every output file byte-identical.
"""

import functools
import os
import shutil
import tempfile
import zlib
from collections import Counter
from pathlib import Path

import pytest

hypothesis = pytest.importorskip("hypothesis")
pytest.importorskip("pyspark")
from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from conftest import REPO  # noqa: F401
from test_parser_fuzz import _html_value  # noqa: E402

_REFS = ["r0", "r1", "r2", "r3"]
_WORDS = ["Spark", "Data", "Query", "scan", "hash", "Extract"]


@pytest.fixture(scope="module")
def spark():
    from ocr_spark.pipeline.job import configure

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("ocr_spark-extract-property")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
    )
    s = configure(builder).getOrCreate()
    yield s
    s.stop()


@functools.lru_cache(maxsize=None)
def _page_png(word: str) -> bytes:
    from ocr_spark.fixtures import render_page
    from ocr_spark.png import encode_gray

    return encode_gray(render_page([word], _glyphs()))


@functools.lru_cache(maxsize=1)
def _glyphs():
    from ocr_spark.fixtures import load_glyphs

    return load_glyphs()


# one blob table entry per pool ref: absent (a dangling ref), a null blob,
# or a blob built from the drawn value
_absent = st.just(("absent", None))
_null = st.just(("null", None))
_media_entry = st.one_of(_absent, _null, st.tuples(st.just("page"), st.sampled_from(_WORDS)))
_pdf_entry = st.one_of(
    _absent,
    _null,
    st.tuples(
        st.just("pdf"),
        st.lists(st.lists(st.sampled_from(_WORDS), max_size=3), max_size=3),
    ),
)
_span = st.one_of(
    st.tuples(st.just("text"), _html_value, st.none()),
    st.tuples(
        st.sampled_from(["media", "pdf", "video", None]), st.none(),
        st.sampled_from(_REFS + [None]),
    ),
)
_doc = st.one_of(st.none(), st.lists(_span, max_size=6))


def _blob(entry):
    from ocr_spark.pdf import build_pdf

    what, value = entry
    if what == "page":
        return _page_png(value)
    return build_pdf(value) if what == "pdf" else None


def _oracle(docs, media, pdfs):
    """The driver-side walk: one row per span, kernels called directly."""
    import pandas as pd

    from ocr_spark.html.strip import strip_html
    from ocr_spark.kernel.engine import recognize
    from ocr_spark.kernel.segment import CHAR_SPACING, Settings
    from ocr_spark.pdf import extract_text
    from ocr_spark.pipeline.udfs import default_alphabet
    from ocr_spark.png import decode_gray

    settings_, alpha = Settings(character_spacing=CHAR_SPACING), default_alphabet()
    tables = {"media": media, "pdf": pdfs or {}}
    rows = []
    for doc_id, spans in docs:
        for ord_, (kind, text, ref) in enumerate(spans or []):
            if kind is None:
                continue
            if kind == "text":
                out = strip_html(pd.Series([text], dtype=object))[0]
                rows.append((doc_id, ord_, kind, out, None))
                continue
            blob = tables.get(kind, {}).get(ref)
            if blob is None:
                out = None
            elif kind == "media":
                out = recognize(decode_gray(blob), settings_, alpha)
            else:
                out = " ".join(extract_text(blob)) or None
            rows.append((doc_id, ord_, kind, out, ref))
    return rows


def _write_corpus(d, docs, media, pdfs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_type = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    pq.write_table(pa.table({
        "doc_id": [doc_id for doc_id, _ in docs],
        "spans": pa.array(
            [
                None if spans is None else [
                    {"kind": k, "text": t, "media_ref": r, "offset": i}
                    for i, (k, t, r) in enumerate(spans)
                ]
                for _, spans in docs
            ],
            type=pa.list_(span_type),
        ),
    }), f"{d}/documents.parquet")
    pq.write_table(pa.table({
        "media_ref": pa.array(list(media), pa.string()),
        "width": pa.array([0] * len(media), pa.int32()),
        "height": pa.array([0] * len(media), pa.int32()),
        "png": pa.array(list(media.values()), pa.binary()),
        "truth": pa.array([None] * len(media), pa.string()),
    }), f"{d}/media.parquet")
    if pdfs is not None:
        pq.write_table(pa.table({
            "media_ref": pa.array(list(pdfs), pa.string()),
            "pdf": pa.array(list(pdfs.values()), pa.binary()),
        }), f"{d}/pdfs.parquet")


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(_doc, min_size=1, max_size=6),
    media_entries=st.lists(_media_entry, min_size=len(_REFS), max_size=len(_REFS)),
    pdf_entries=st.lists(_pdf_entry, min_size=len(_REFS), max_size=len(_REFS)),
    ship_pdfs=st.booleans(),
)
def test_extract_spans_equals_driver_walk(
    spark, tmp_path_factory, docs, media_entries, pdf_entries, ship_pdfs
):
    from ocr_spark.pipeline.job import extract_spans, read_blobs, read_documents

    docs = [(f"d{i}", spans) for i, spans in enumerate(docs)]
    media = {r: _blob(e) for r, e in zip(_REFS, media_entries) if e[0] != "absent"}
    pdfs = (
        {r: _blob(e) for r, e in zip(_REFS, pdf_entries) if e[0] != "absent"}
        if ship_pdfs else None
    )
    d = tempfile.mkdtemp(dir=tmp_path_factory.getbasetemp())
    _write_corpus(d, docs, media, pdfs)

    got = extract_spans(read_documents(spark, d), read_blobs(spark, d)).select(
        "doc_id", "ord", "kind", "text", "media_ref"
    ).collect()
    assert Counter(map(tuple, got)) == Counter(_oracle(docs, media, pdfs))


def _manifest_row(run_id, buckets, rows):
    """The manifest row ``extract()`` commits for a bucket holding ``rows``
    in a run cut into ``buckets``."""
    return (
        run_id,
        len({r[0] for r in rows}),
        len(rows),
        sum(r[2] == "media" for r in rows),
        str(sum(zlib.crc32(f"{r[0]}\x1f{r[1]}\x1f{r[3] or ''}".encode()) for r in rows)),
        buckets,
    )


def _cut_manifest(manifest_dir, keep):
    """Keep only the manifest rows of the buckets in ``keep``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(manifest_dir)
    kept = pa.array(sorted(keep), table.schema.field("partition_id").type)
    table = table.filter(pc.is_in(table["partition_id"], value_set=kept))
    shutil.rmtree(manifest_dir)
    os.makedirs(manifest_dir)
    pq.write_table(table, f"{manifest_dir}/part-00000.parquet")


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(_doc, min_size=1, max_size=6),
    media_entries=st.lists(_media_entry, min_size=len(_REFS), max_size=len(_REFS)),
    pdf_entries=st.lists(_pdf_entry, min_size=len(_REFS), max_size=len(_REFS)),
    ship_pdfs=st.booleans(),
    cut=st.integers(1, 5).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.sets(st.integers(0, n - 1)),
            # a second bucket count, never the first
            st.integers(1, 4).map(lambda k: k + (k >= n)),
        )
    ),
)
def test_extract_resume_commits_the_driver_walk(
    spark, tmp_path_factory, docs, media_entries, pdf_entries, ship_pdfs, cut
):
    from ocr_spark.pipeline.job import SPANS_WITH_BUCKET, extract
    from ocr_spark.schemas import MANIFEST

    buckets, keep, other = cut
    docs = [(f"d{i}", spans) for i, spans in enumerate(docs)]
    media = {r: _blob(e) for r, e in zip(_REFS, media_entries) if e[0] != "absent"}
    pdfs = (
        {r: _blob(e) for r, e in zip(_REFS, pdf_entries) if e[0] != "absent"}
        if ship_pdfs else None
    )
    d = tempfile.mkdtemp(dir=tmp_path_factory.getbasetemp())
    _write_corpus(d, docs, media, pdfs)
    out = f"{d}/out"

    first = extract(spark, d, out, run_id="run-0", buckets=buckets)
    assert (first["buckets_skipped"], first["buckets_done"]) == (0, buckets)
    _cut_manifest(f"{out}/_manifest", keep)
    again = extract(spark, d, out, run_id="run-1", buckets=buckets)
    assert (again["buckets_skipped"], again["buckets_done"]) == (
        len(keep), buckets - len(keep)
    )

    def files():
        return {p: p.read_bytes() for p in Path(out).rglob("*") if p.is_file()}

    before = files()
    sc = spark.sparkContext
    group = f"rerun-with-{other}-buckets-{os.path.basename(d)}"
    sc.setJobGroup(group, "a rerun cut into another bucket count")
    try:
        with pytest.raises(ValueError, match=f"in {buckets} buckets; extract with {other} buckets"):
            extract(spark, d, out, run_id="run-2", buckets=other)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert files() == before

    want = [
        (*row, zlib.crc32(row[0].encode()) % buckets)
        for row in _oracle(docs, media, pdfs)
    ]
    # explicit schema: an output with no span rows has no files to infer from
    got = (
        spark.read.schema(SPANS_WITH_BUCKET).parquet(f"{out}/spans")
        .select("doc_id", "ord", "kind", "text", "media_ref", "bucket")
        .collect()
    )
    assert Counter(map(tuple, got)) == Counter(want)

    manifest = spark.read.schema(MANIFEST).parquet(f"{out}/_manifest").collect()
    assert sorted(r.partition_id for r in manifest) == list(range(buckets))
    for r in manifest:
        assert (
            r.run_id, r.doc_count, r.span_count, r.media_count, r.checksum, r.buckets
        ) == _manifest_row(
            "run-0" if r.partition_id in keep else "run-1", buckets,
            [w for w in want if w[5] == r.partition_id],
        )
