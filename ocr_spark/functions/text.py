"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language ID, document fingerprinting.

Everything here is JVM-side ``pyspark.sql.functions`` (whole-stage codegen,
no Python in the hot path) so it scales linearly with executors; each
operator has an ANSI-SQL twin in ``__spark_entry__.oracle_sql`` that DuckDB
verifies value-for-value.

Conventions shared with the oracles (do not change one side only):
  * tokens  = split(trim(text), '\\s+')  — single-space semantics
  * all derived integer columns are cast to BIGINT
  * ratios are computed as CAST(a AS DOUBLE)/b — bit-deterministic division
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves 'pd.Series' hints here
from pyspark.sql import Column, DataFrame, functions as F

from .. import forget_zip_finders

# marker stopwords per language for the heuristic language IDer; deliberately
# tiny and fixed so the SQL twin stays readable. Tie-break: language list order.
LANG_MARKERS = {
    "en": ["the", "a", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "de": ["der", "die", "das", "und", "nicht", "ist"],
    "fr": ["le", "la", "de", "et", "les", "est"],
}

PUNCT_CLASS = r"[.!?,;:]"


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def _n_marker_hits(toks: str, lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"size(filter({toks}, t -> array_contains(array({arr}), lower(t))))"


def token_stats(df: DataFrame) -> DataFrame:
    t = tokens(F.col("text"))
    return df.select(
        F.col("doc_id"),
        F.length(F.col("text")).cast("long").alias("n_chars"),
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(F.transform(t, lambda x: F.lower(x)))).cast("long").alias("n_distinct_tokens"),
    )


def quality_scores(df: DataFrame) -> DataFrame:
    """Quality features: length, punctuation count, stopword count/ratio,
    mean token length — the standard cheap filters before expensive dedup."""
    d = df.select(
        F.col("doc_id"),
        F.col("text").alias("_t"),
        tokens(F.col("text")).alias("_toks"),
    )
    n_tokens = F.size("_toks").cast("long")
    n_chars = F.length("_t").cast("long")
    n_punct = (F.length("_t") - F.length(F.regexp_replace("_t", PUNCT_CLASS, ""))).cast("long")
    n_stop = F.expr(_n_marker_hits("_toks", "en")).cast("long")
    token_chars = F.expr("aggregate(_toks, 0L, (acc, t) -> acc + length(t))")
    return d.select(
        F.col("doc_id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stop"),
        (n_stop.cast("double") / n_tokens).alias("stop_ratio"),
        (token_chars.cast("double") / n_tokens).alias("mean_token_len"),
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Heuristic language ID: marker-stopword hit counts per language,
    argmax with deterministic tie-break (language declaration order, then
    'und' when all scores are zero)."""
    d = df.select(F.col("doc_id"), tokens(F.col("text")).alias("_toks"))
    scores = {lang: F.expr(_n_marker_hits("_toks", lang)).cast("long") for lang in LANG_MARKERS}
    out = d
    for lang, s in scores.items():
        out = out.withColumn(f"s_{lang}", s)
    best = F.greatest(*[F.col(f"s_{lang}") for lang in LANG_MARKERS])
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:  # first language reaching the max wins
        pred = pred.when(F.col(f"s_{lang}") == best, F.lit(lang))
    return out.select(
        F.col("doc_id"),
        pred.alias("lang_pred"),
        *[F.col(f"s_{lang}") for lang in LANG_MARKERS],
    )


def fingerprints(df: DataFrame) -> DataFrame:
    """Document fingerprints: md5 over whitespace-normalized lowercased text
    (exact-dup key) and over the first 3 tokens (crude near-dup prefix key)."""
    d = df.select(F.col("doc_id"), F.col("text").alias("_t"), tokens(F.col("text")).alias("_toks"))
    norm = F.lower(F.regexp_replace(F.trim("_t"), r"\s+", " "))
    prefix = F.concat_ws(" ", F.slice("_toks", 1, 3))
    return d.where(F.size("_toks") >= 3).select(
        F.col("doc_id"),
        F.md5(norm).alias("fp_norm"),
        F.md5(prefix).alias("fp_prefix3"),
    )


# PII patterns intentionally simple and fully shared with the SQL twin:
# the goal is deterministic, engine-portable scrubbing, not maximal recall
# (production recall layers more patterns the same way). Order matters —
# URLs first (the class includes '@' so a userinfo-style email inside a
# URL is consumed whole instead of spliced), then emails, then phones so
# user@host digits are not half-eaten. The patterns are deliberately
# BACKSLASH-FREE ([.] not \., [+]? not \+?, '-' last in classes): Spark
# SQL string literals process backslash escapes while DuckDB's do not,
# so any backslash would make the two engines compile different regexes
# from the same source text.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PII_URL = "https?://[A-Za-z0-9./_%?&=#:~+@-]+"
PII_PHONE = "[+]?[0-9][0-9(). -]{7,}[0-9]"


def redact_pii(df: DataFrame) -> DataFrame:
    """Deterministic PII scrubbing: URLs, then emails, then phone-like
    digit runs replaced with typed placeholders, plus per-doc match counts
    (the audit trail a removal pipeline needs). Pure regexp chain —
    whole-stage codegen, no Python; the output carries md5(redacted) so
    the oracle verifies the full redacted text without shipping it."""
    after_url = F.regexp_replace(F.col("text"), PII_URL, "<URL>")
    after_email = F.regexp_replace(after_url, PII_EMAIL, "<EMAIL>")
    redacted = F.regexp_replace(after_email, PII_PHONE, "<PHONE>")

    # Match counts WITHOUT re-running the regex chain (it used to be run
    # ~2x over, 6 regex scans per doc instead of 3): each stage's count is
    # the placeholder-occurrence DELTA across that one replace. Exact, not
    # heuristic: the inserted literal is the whole placeholder and none of
    # the pattern classes contain '<' or '>', so an insertion can never
    # splice with surrounding text into an extra occurrence, and
    # pre-existing literal placeholders cancel in the subtraction.
    # Occurrences are counted with length/replace — cheap byte scans, no
    # regex — and Catalyst CSE shares the three chained regexp_replace
    # stages across all output columns.
    def _cnt(col, lit):
        return (F.length(col) - F.length(F.replace(col, F.lit(lit), F.lit("")))) / len(lit)

    n_url = (_cnt(after_url, "<URL>") - _cnt(F.col("text"), "<URL>")).cast("long")
    n_email = (_cnt(after_email, "<EMAIL>") - _cnt(after_url, "<EMAIL>")).cast("long")
    n_phone = (_cnt(redacted, "<PHONE>") - _cnt(after_email, "<PHONE>")).cast("long")
    return df.select(
        F.col("doc_id"),
        n_email.alias("n_email"),
        n_url.alias("n_url"),
        n_phone.alias("n_phone"),
        F.md5(redacted).alias("redacted_md5"),
    )


def repetition_scores(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals: the fraction of duplicate
    LINES per document and the fraction of characters living in those
    duplicate instances — the standard web-text repetition filters. One
    explode + two hash-aggs. All sums stay BIGINT (exact, order-free);
    the two fractions are single double divisions at the end."""
    lines = df.select(
        F.col("doc_id"), F.explode(F.split(F.col("text"), "\n")).alias("line")
    ).where(F.length(F.trim("line")) > 0)
    per_line = lines.groupBy("doc_id", "line").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    agg = per_line.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_lines"),
        # a line occurring n times contributes n-1 duplicate instances
        F.sum(F.col("n") - 1).cast("long").alias("n_dup_lines"),
        F.sum((F.col("n") - 1) * F.length("line")).cast("long").alias("dup_chars"),
        F.sum(F.col("n") * F.length("line")).cast("long").alias("total_chars"),
    )
    return agg.select(
        "doc_id",
        "n_lines",
        "n_dup_lines",
        (F.col("dup_chars").cast("double") / F.col("total_chars")).alias("dup_char_frac"),
        (F.col("n_dup_lines").cast("double") / F.col("n_lines")).alias("dup_line_frac"),
    )


# --------------------------------------------------------------------------
# n-gram language ID (the statistical complement to the stopword heuristic
# above). Profiles are tiny in-code char-trigram frequency tables built from
# the deterministic seed sentences below — no external data, reproducible.
# Scoring is vectorized: one pass hashing all trigrams of a batch into the
# profile space, then a dot product per language.
# --------------------------------------------------------------------------

_LANG_SEED_TEXT = {
    "en": (
        "the quick brown fox jumps over the lazy dog and the people of the "
        "city went to the market where they would buy bread and talk about "
        "the weather because it was the thing that they all shared together"
    ),
    "es": (
        "el rapido zorro marron salta sobre el perro perezoso y la gente de "
        "la ciudad fue al mercado donde compraban pan y hablaban del tiempo "
        "porque era la cosa que todos compartian juntos cada manana"
    ),
    "de": (
        "der schnelle braune fuchs springt ueber den faulen hund und die "
        "leute der stadt gingen zum markt wo sie brot kauften und ueber das "
        "wetter sprachen weil es das war was sie alle miteinander teilten"
    ),
    "fr": (
        "le rapide renard brun saute par dessus le chien paresseux et les "
        "gens de la ville allaient au marche ou ils achetaient du pain et "
        "parlaient du temps parce que cetait la chose quils partageaient"
    ),
}

_NGRAM_DIM = 4096


def _trigram_hashes(text: str):
    import numpy as np

    s = " " + text.lower() + " "
    if len(s) < 3:
        return np.zeros(0, dtype=np.int64)
    b = np.frombuffer(s.encode("utf-8", "ignore"), dtype=np.uint8).astype(np.int64)
    tri = b[:-2] * 31 * 31 + b[1:-1] * 31 + b[2:]
    return tri % _NGRAM_DIM


def _lang_profiles():
    import numpy as np

    profiles = {}
    for lang, text in _LANG_SEED_TEXT.items():
        v = np.bincount(_trigram_hashes(text), minlength=_NGRAM_DIM).astype(np.float64)
        v = np.log1p(v)
        profiles[lang] = v / (np.linalg.norm(v) or 1.0)
    return profiles


def make_lang_id_ngram_udf():
    """Arrow-batched char-trigram language IDer: cosine of the document's
    hashed-trigram frequency vector against each committed profile; argmax
    with deterministic language-order tie-break, 'und' when no trigrams."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    profiles = _lang_profiles()
    langs = list(profiles)

    @pandas_udf(T.StringType())
    def lang_udf(texts: pd.Series) -> pd.Series:
        import numpy as np

        P = np.stack([profiles[lang] for lang in langs])  # (L, D)

        # Whole-batch vectorization: concatenate every padded doc into one
        # byte buffer, hash all trigrams in one numpy pass, then count
        # (doc, trigram) pairs chunk-by-chunk with a flat bincount that is
        # immediately sparsified (flatnonzero) so the scoring work is
        # proportional to the distinct trigrams actually present, not to
        # docs x DIM. Chunking bounds the flat counter at CHUNK*DIM cells
        # (~16 MB) regardless of Arrow batch size; per-row Python is only
        # the cheap encode step. Measured 1.7x the per-row form on a
        # 10k-doc batch with bit-identical predictions (see commit note).
        CHUNK = 512
        raw = texts.tolist()
        enc = [
            b"  " if t is None else (" " + t.lower() + " ").encode("utf-8", "ignore")
            for t in raw
        ]
        n_docs = len(enc)
        lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=n_docs)
        offs = np.concatenate(([0], np.cumsum(lens)))
        total = int(offs[-1])
        norms2 = np.zeros(n_docs)
        scores = np.zeros((n_docs, len(langs)))
        if total >= 3:
            buf = np.frombuffer(b"".join(enc), dtype=np.uint8).astype(np.int32)
            tri = (buf[:-2] * 31 * 31 + buf[1:-1] * 31 + buf[2:]) % _NGRAM_DIM
            # drop the 2 tail positions of every doc: those trigrams would
            # straddle the boundary into the next doc's bytes
            valid = np.ones(total - 2, dtype=bool)
            bad = np.concatenate([offs[1:] - 2, offs[1:] - 1])
            valid[bad[bad < total - 2]] = False
            tri_v = tri[valid]
            n_valid = np.maximum(lens - 2, 0)
            voffs = np.concatenate(([0], np.cumsum(n_valid)))
            doc_v = np.repeat(np.arange(n_docs, dtype=np.int32), n_valid)
            PT = P.T  # (D, L)
            for a in range(0, n_docs, CHUNK):
                b = min(a + CHUNK, n_docs)
                s, e = voffs[a], voffs[b]
                key = (doc_v[s:e] - a) * np.int32(_NGRAM_DIM) + tri_v[s:e]
                flat = np.bincount(key, minlength=(b - a) * _NGRAM_DIM)
                nz = np.flatnonzero(flat)
                w = np.log1p(flat[nz].astype(np.float64))
                d_u = nz // _NGRAM_DIM
                t_u = nz % _NGRAM_DIM
                norms2[a:b] = np.bincount(d_u, weights=w * w, minlength=b - a)
                contrib = PT[t_u] * w[:, None]  # (nnz, L)
                for li in range(len(langs)):
                    scores[a:b, li] = np.bincount(
                        d_u, weights=contrib[:, li], minlength=b - a
                    )
        # dividing by the (positive) norm never changes the per-doc argmax
        best = np.argmax(scores, axis=1)
        lang_arr = np.array(langs, dtype=object)
        out = np.where(norms2 == 0, "und", lang_arr[best])
        out = np.where([t is None for t in raw], None, out)
        forget_zip_finders()
        return pd.Series(out, index=texts.index, dtype=object)

    return lang_udf


def lang_id_ngram(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("doc_id"), make_lang_id_ngram_udf()(F.col("text")).alias("lang_pred")
    )
