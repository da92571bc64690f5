"""Vectorized HTML/boilerplate stripper for text spans.

New design (the reference engine has no HTML handling): block-level
text/link-density scoring in the spirit of the public content-extraction
literature (Boilerpipe / Arc90 readability heuristics), implemented as
vectorized pandas string ops so the whole Arrow batch is processed at once —
no per-row Python in the hot path.

Pipeline per batch:
  1. drop <script>/<style>/<noscript>/<template> subtrees and comments
  2. drop boilerplate containers (<nav>/<footer>/<header>/<aside>/<form>),
     innermost-first to fixpoint — nested same-tag containers are peeled
     inside-out, so no container tail ever leaks into block scoring
  3. split the remainder into blocks at block-level tags
  4. per block (exploded, still vectorized): word count and link density
     (words inside <a> anchors / total words)
  5. keep blocks with >= MIN_WORDS words and link density <= MAX_LINK_DENSITY
  6. rejoin kept blocks in document order, strip inline tags, unescape basic
     entities, collapse whitespace
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

MIN_WORDS = 3
MAX_LINK_DENSITY = 0.5

_DROP_SUBTREES = re.compile(
    r"<(script|style|noscript|template)\b[^>]*>.*?</\1\s*>|<!--.*?-->",
    re.IGNORECASE | re.DOTALL,
)
_CONTAINER_TAGS = ("nav", "footer", "header", "aside", "form")
_DROP_CONTAINERS = re.compile(
    # innermost-first: a container matches only if it holds no same-tag
    # opener, so nested <nav>..<nav>..</nav>..</nav> is peeled inside-out
    # by the fixpoint loop in _drop_containers (no tail leakage)
    r"<(nav|footer|header|aside|form)\b[^>]*>(?:(?!<\1\b).)*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
_DROP_CONTAINERS_LAZY = re.compile(
    # open-to-first-close pairing for MALFORMED html (unbalanced tags):
    # innermost-first would consume the inner pair and leave an unclosed
    # outer opener's boilerplate in content; first-open-to-first-close at
    # least drops it up to the surviving close tag
    r"<(nav|footer|header|aside|form)\b[^>]*>.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
_TAG_OPEN = {t: re.compile(rf"<{t}\b", re.IGNORECASE) for t in _CONTAINER_TAGS}
_TAG_CLOSE = {t: re.compile(rf"</{t}\b", re.IGNORECASE) for t in _CONTAINER_TAGS}
_BLOCK_SPLIT = re.compile(
    r"</?(?:div|p|h[1-6]|ul|ol|li|table|thead|tbody|tr|td|th|section|article|"
    r"main|blockquote|pre|figure|figcaption|br|hr|body|html|head|title)\b[^>]*/?>",
    re.IGNORECASE,
)
_ANCHOR = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.IGNORECASE | re.DOTALL)
_TAG = re.compile(r"<[^>]+>")
_WS = re.compile(r"\s+")

_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last, so &amp;lt; doesn't double-decode
]


# Each replacement pass strictly shrinks the strings, so the loop always
# terminates at a true fixpoint; the cap only bounds adversarial cost
# (a K-deep same-tag nest needs K innermost-first passes, each a full
# regex sweep). Rows still holding a container opener after the cap get
# the residual sweep below: the subtree is dropped wholesale rather than
# leaking its text into block scoring.
_MAX_FIXPOINT_PASSES = 256
_RESIDUAL_CONTAINER = re.compile(
    # first remaining opener to its last same-tag close; only when no close
    # tag exists at all does the match extend to end of string (the EOS
    # branch must be a separate alternative — `(?:</tag>|$)` would let the
    # greedy .* always run to EOS)
    r"<(nav|footer|header|aside|form)\b[^>]*>(?:.*</\1\s*>|.*$)",
    re.IGNORECASE | re.DOTALL,
)


def _fixpoint(s: pd.Series, pattern: re.Pattern) -> pd.Series:
    for _ in range(_MAX_FIXPOINT_PASSES):
        s2 = s.str.replace(pattern, " ", regex=True)
        if s2.equals(s):
            return s
        s = s2
    # the sweep must hit ONLY the rows that are still shrinking: a row's
    # output must never depend on which other rows share its Arrow batch
    # (span-sequence equality is per document), and converged rows with a
    # dangling opener are legal output of the paired pattern
    s2 = s.str.replace(pattern, " ", regex=True)
    unconverged = s2 != s
    s = s2
    if unconverged.any():
        s.loc[unconverged] = s.loc[unconverged].str.replace(
            _RESIDUAL_CONTAINER, " ", regex=True
        )
    return s


def _drop_containers(s: pd.Series) -> pd.Series:
    """Remove boilerplate containers to fixpoint, still fully vectorized.

    Rows whose container tags balance (the overwhelmingly common case) are
    peeled innermost-first, so K passes handle K-deep same-tag nesting with
    no tail leakage. Rows with unbalanced tags (truncated/malformed web
    HTML: an unclosed <nav> whose only close tag belongs to an inner nav)
    fall back to first-open-to-first-close pairing — innermost-first would
    consume the inner pair and leave the outer boilerplate in content. Both
    paths operate on whole sub-series; the balance test is 10 vectorized
    str.count calls."""
    balanced = pd.Series(True, index=s.index)
    for t in _CONTAINER_TAGS:
        balanced &= s.str.count(_TAG_OPEN[t]) == s.str.count(_TAG_CLOSE[t])
    out = s.copy()
    if balanced.any():
        out[balanced] = _fixpoint(s[balanced], _DROP_CONTAINERS)
    if (~balanced).any():
        out[~balanced] = _fixpoint(s[~balanced], _DROP_CONTAINERS_LAZY)
    return out


def _clean_text(s: pd.Series) -> pd.Series:
    s = s.str.replace(_TAG, " ", regex=True)
    for ent, rep in _ENTITIES:
        s = s.str.replace(ent, rep, regex=False)
    return s.str.replace(_WS, " ", regex=True).str.strip()


def strip_html(html: pd.Series) -> pd.Series:
    """Extract main content from a batch of HTML strings (nulls pass through;
    docs with no surviving block yield empty string)."""
    idx = html.index
    out = pd.Series([None] * len(idx), index=idx, dtype=object)
    notnull = html.notna()
    if not notnull.any():
        return out
    s = html[notnull].astype(str)

    s = s.str.replace(_DROP_SUBTREES, " ", regex=True)
    s = _drop_containers(s)

    bf = s.str.split(_BLOCK_SPLIT).explode().rename("block").reset_index()
    bf.columns = ["doc", "block"]
    bf = bf[bf["block"].notna()].reset_index(drop=True)  # block id = row pos

    blocks = bf["block"]
    text = _clean_text(blocks)
    words = text.str.split().str.len().fillna(0).astype(np.int64)

    # words inside anchors, per block (extractall keeps the block id at level 0)
    anchors = blocks.str.extractall(_ANCHOR)[0]
    if len(anchors):
        anchor_words = (
            _clean_text(anchors).str.split().str.len().groupby(level=0).sum()
        )
        anchor_words = anchor_words.reindex(blocks.index).fillna(0).astype(np.int64)
    else:
        anchor_words = pd.Series(0, index=blocks.index, dtype=np.int64)

    link_density = np.where(words > 0, anchor_words / np.maximum(words, 1), 0.0)
    keep = (words.values >= MIN_WORDS) & (link_density <= MAX_LINK_DENSITY)

    kept = bf.loc[keep, ["doc"]].assign(text=text[keep])
    joined = kept.groupby("doc", sort=False)["text"].agg(" ".join)

    out[joined.index] = joined.values
    out[notnull & out.isna()] = ""
    return out
