"""Correctness of one extract() run: the committed spans of every document
against the by-construction truth, compared in both directions."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

COLUMNS = ["doc_id", "ord", "kind", "text", "media_ref"]


def read_committed(out_dir: str) -> pa.Table:
    """Every span row extract() committed under ``out_dir``."""
    return pq.read_table(f"{out_dir}/spans", columns=COLUMNS)


def _by_doc(table: pa.Table) -> dict[str, list[tuple]]:
    docs: dict[str, list[tuple]] = {}
    cols = [table.column(c).to_pylist() for c in COLUMNS]
    for doc, *span in zip(*cols):
        docs.setdefault(doc, []).append(tuple(span))
    for spans in docs.values():
        spans.sort(key=lambda s: s[0])
    return docs


def failed_docs(truth: pa.Table, committed: pa.Table) -> int:
    """Documents whose committed (ord, kind, text, media_ref) sequence is not
    exactly their truth: wrong, missing or extra spans, missing documents,
    and documents that are not in the truth at all."""
    want, got = _by_doc(truth), _by_doc(committed)
    return sum(want.get(d) != got.get(d) for d in want.keys() | got.keys())
