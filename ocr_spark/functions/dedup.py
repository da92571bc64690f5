"""Deduplication operators for training-data pipelines: exact hash dedup,
MinHash + LSH banding, n-gram Jaccard, SimHash.

Design for 100 TB:
  * All hashing is md5 via JVM built-ins (whole-stage codegen); no Python.
  * Shingling explodes to (doc_id, shingle) — one shuffle per groupBy,
    map-side partial aggregation handled by Catalyst hash-agg.
  * LSH candidate pairs come from an equi-join on (band, minhash) — a plain
    shuffle-hash/sort-merge join on a high-cardinality key, so it scales
    without cartesian products; Jaccard is then computed only on docs that
    share at least one shingle (equi-join on shingle), never all-pairs.
  * SimHash computes the 64 bit-columns on the *vocabulary* (distinct
    tokens) and joins back — at web scale vocabulary << corpus, so the
    expensive bit decomposition runs once per distinct token.

Every operator has a DuckDB oracle twin in ``__spark_entry__`` using the
same md5/token conventions (see functions/text.py header).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text import tokens

# Every operator reads (doc_id, text); the DuckDB twins in __spark_entry__
# read these constants.
SHINGLE_WORDS = 3  # words per shingle (MinHash, Jaccard and winnowing)
MINHASH_BANDS = 4
WINNOW_WINDOW = 4  # hashes per winnowing window
SIMHASH_MAX_HAMMING = 3
SIMHASH_BANDS = 4  # > SIMHASH_MAX_HAMMING: the pigeonhole guarantee
JACCARD_MIN_COMMON = 2  # shared shingles for a Jaccard pair

def _shingles() -> Column:
    """The word shingles of the token array ``_toks``, in order. A doc with
    fewer than SHINGLE_WORDS tokens has none (sequence() would otherwise
    generate a *descending* range in Spark)."""
    return F.expr(
        f"CASE WHEN size(_toks) < {SHINGLE_WORDS} THEN array() "
        f"ELSE transform(sequence(1, size(_toks) - {SHINGLE_WORDS - 1}), i -> concat_ws(' ', "
        + ", ".join(f"_toks[i - 1 + {j}]" for j in range(SHINGLE_WORDS))
        + ")) END"
    )


def exact_duplicates(df: DataFrame) -> DataFrame:
    """Exact dedup groups: md5 of raw text, groups with >1 member.
    At scale: one hash-agg shuffle on a uniformly distributed key."""
    return (
        df.select(F.md5(F.col("text")).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.count(F.lit(1)).cast("long").alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def shingles(df: DataFrame) -> DataFrame:
    """Distinct word shingles per doc: (doc_id, shingle)."""
    return (
        df.select(F.col("doc_id"), tokens(F.col("text")).alias("_toks"))
        .select(F.col("doc_id"), F.explode(_shingles()).alias("shingle"))
        .distinct()
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """MinHash signature per (doc, band): min over shingles of
    md5(band || '|' || shingle). One band per independent hash function —
    band size 1, so each band IS an LSH bucket key (collision prob = Jaccard).
    Output: (doc_id, band, minhash)."""
    banded = sh.select(
        F.col("doc_id"),
        F.explode(F.expr(f"sequence(0, {MINHASH_BANDS - 1})")).alias("band"),
        F.col("shingle"),
    )
    return (
        banded.select(
            F.col("doc_id"),
            F.col("band").cast("long").alias("band"),
            F.md5(F.concat_ws("|", F.col("band").cast("string"), F.col("shingle"))).alias("h"),
        )
        .groupBy("doc_id", "band")
        .agg(F.min("h").alias("minhash"))
    )


def cap_shingle_df(sh: DataFrame, df_max: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``df_max`` (web-scale
    stop-phrases: a shingle shared by 10^6 docs would explode the self-join
    group to ~10^12 pairs). Standard MinHashLSH practice — such a shingle
    carries no near-dup signal (any Jaccard above a useful threshold implies
    many OTHER shared shingles too).

    Implemented as a count window over shingle, not a separate agg +
    anti-join: the downstream self-join needs ``sh`` shuffled (and, for
    sort-merge, sorted) by shingle anyway, so the cap rides the exchange and
    sort the join already pays — measured faster than the uncapped query at
    sf0.1, and ~2x faster than the broadcast-anti-join form.

    Input rows are first deduplicated on (doc_id, shingle) so the window
    count IS document frequency even for callers whose shingle stream
    carries repeats; for `shingles()` output (already distinct) Catalyst
    removes the redundant aggregate."""
    from pyspark.sql import Window

    w = Window.partitionBy("shingle")
    return (
        sh.dropDuplicates(["doc_id", "shingle"])
        .withColumn("_df", F.count(F.lit(1)).over(w))
        .where(F.col("_df") <= df_max)
        .drop("_df")
    )


def cap_hot_buckets(
    sig: DataFrame,
    bucket_max: int,
    keys: tuple[str, ...] = ("band", "minhash"),
) -> DataFrame:
    """Drop degenerate ``keys`` buckets holding more than ``bucket_max``
    docs before any bucket self-join (a bucket of B docs emits B^2/2
    pairs; such buckets only arise from stop-phrase shingles / all-zero
    signatures, which carry no near-dup signal). Count window over the
    bucket key — rides the exchange+sort the downstream self-join already
    pays (the measured-fast cap form, see cap_shingle_df). The single
    home of this cap shape: every bucket-join caller uses it."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        sig.withColumn("_n", F.count(F.lit(1)).over(w))
        .where(F.col("_n") <= bucket_max)
        .drop("_n")
    )


def lsh_candidate_pairs(sig: DataFrame, bucket_max: int | None = None) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any (band, minhash) bucket.
    Equi-join on the bucket key — no cartesian product; skew-resistant
    because md5 buckets are uniform. ``bucket_max`` caps degenerate buckets
    via cap_hot_buckets. Output: (doc_a, doc_b) distinct."""
    if bucket_max is not None:
        sig = cap_hot_buckets(sig, bucket_max)
    a = sig.select(F.col("doc_id").alias("doc_a"), "band", "minhash")
    b = sig.select(F.col("doc_id").alias("doc_b"), "band", "minhash")
    return (
        a.join(b, ["band", "minhash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_pairs(sh: DataFrame, df_max: int | None = None) -> DataFrame:
    """n-gram Jaccard similarity for every doc pair sharing at least
    JACCARD_MIN_COMMON shingles. The shingle equi-join only materializes
    co-occurring pairs; per-doc set sizes are broadcast back via two cheap
    aggregations.

    ``df_max`` applies cap_shingle_df first, so Jaccard is computed over the
    DF-capped shingle space (numerator AND denominators) — the self-join
    group per shingle is then bounded by df_max at any corpus size.

    The (capped) shingle frame has three consumers (per-doc sizes + both
    self-join sides). They are identical subtrees, so Spark's exchange reuse
    runs the scan -> tokenize -> explode -> distinct -> window subtree once
    and the other consumers read its shuffle output (ReusedExchange): each
    source row is read once, with no cache.
    Output: (doc_a, doc_b, n_common, n_a, n_b, jaccard)."""
    if df_max is not None:
        sh = cap_shingle_df(sh, df_max)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .where(F.col("n_common") >= JACCARD_MIN_COMMON)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def dedup_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-duplicate candidate pairs: the step
    that turns pairwise matches into dedup GROUPS (keep one canonical doc
    per component, drop the rest). Iterative min-label propagation — each
    node adopts the smallest label among itself and its neighbors until no
    label changes. Output: (doc_id, component) where component = min doc_id
    reachable in the undirected candidate graph.

    Scale design: each iteration does a neighbor-min step (join + hash-agg,
    one shuffle) AND a pointer-jumping step (label := label-of-label), so
    convergence is O(log diameter) — 20 iterations covers ~10^6-hop chains.
    Lineage is truncated per iteration with localCheckpoint so the plan does
    not grow exponentially; the driver-side convergence check moves one
    count per iteration, not data. The driver loop is the standard Spark
    shape for iterative graph algorithms (GraphFrames' connectedComponents
    alternates the same two steps internally).

    Non-convergence within ``max_iters`` raises, so a silently
    under-merged grouping can never reach the manifest.
    """
    edges_fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = edges_fwd.unionByName(
        edges_fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)

    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("n_min"))
        )
        stepped = labels.join(
            neighbor_min, labels.doc_id == neighbor_min.src, "left"
        ).select(
            "doc_id",
            F.least(
                F.col("component"), F.coalesce("n_min", F.col("component"))
            ).alias("component"),
            F.col("component").alias("_old"),
        )
        # pointer jumping: component := component(component). Labels are
        # always node ids (mins over node ids), so the self-join resolves;
        # this halves the remaining chain length every iteration.
        mapping = stepped.select(
            F.col("doc_id").alias("m_node"), F.col("component").alias("m_comp")
        )
        new_labels = (
            stepped.join(mapping, stepped.component == mapping.m_node, "left")
            .select(
                "doc_id",
                F.coalesce("m_comp", "component").alias("component"),
                "_old",
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.where(F.col("component") != F.col("_old")).count()
        # rebinding drops the previous checkpoint's last reference; the
        # ContextCleaner then releases its cached blocks, so at most two
        # label snapshots are live at once (not one per iteration)
        labels = new_labels.drop("_old")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"dedup_components did not converge in {max_iters} iterations "
        f"({changed} labels still changing) — the candidate graph is far "
        "larger-diameter than any near-dup clustering should produce; "
        "raise max_iters only after checking the upstream candidate caps"
    )


def simhash_bits(df: DataFrame) -> DataFrame:
    """64-bit SimHash, emitted long-form as (doc_id, bit_idx, bit).

    Token hash bits come from the first 16 hex chars of md5(token): bit j is
    bit (3 - j%4) of hex digit j//4. Per-doc bit j = 1 iff the token-count
    weighted sum of (2*bit - 1) is > 0. The bit table is computed on the
    distinct-token vocabulary and joined back (vocab << corpus at scale).
    """
    doc_tokens = (
        df.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    vocab_bits = (
        doc_tokens.select("token")
        .distinct()
        .select(
            "token",
            F.explode(F.expr("sequence(0, 63)")).alias("bit_idx"),
        )
        .withColumn(
            "digit",
            F.expr("instr('0123456789abcdef', substring(md5(token), CAST(bit_idx / 4 AS INT) + 1, 1)) - 1"),
        )
        .withColumn("contrib", F.expr("2 * (shiftright(digit, 3 - bit_idx % 4) % 2) - 1"))
        .select("token", F.col("bit_idx").cast("long").alias("bit_idx"), "contrib")
    )
    return (
        doc_tokens.join(vocab_bits, "token")
        .groupBy("doc_id", "bit_idx")
        .agg(F.sum(F.col("cnt") * F.col("contrib")).alias("s"))
        .select(
            F.col("doc_id"),
            "bit_idx",
            F.when(F.col("s") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("bit"),
        )
    )


def simhash_signature(bits: DataFrame) -> DataFrame:
    """Fold the long-form (doc_id, bit_idx, bit) table from
    :func:`simhash_bits` into one signed 64-bit signature per doc.
    bit_or of disjoint shifted bits — bit 63 lands in the sign bit, exact
    in two's complement, and bit_or cannot overflow the way SUM of 2^63
    would. Output: (doc_id, simhash BIGINT)."""
    return bits.groupBy("doc_id").agg(
        F.expr("bit_or(shiftleft(bit, CAST(bit_idx AS INT)))").alias("simhash")
    )


def simhash_signatures_direct(df: DataFrame) -> DataFrame:
    """Same signatures as ``simhash_signature(simhash_bits(df))``, one
    shuffle instead of three explosions: the md5 hex is computed once per
    DISTINCT token, joined back to the (doc, token, cnt) counts, and all
    64 bit sums fold inside a single hash-agg (64 conditional-sum columns,
    whole-stage codegen). The long form shuffles |doc,token| x 64 rows
    through the (doc, bit) aggregate — measured ~3x slower end-to-end at
    sf0.1 (11.2 -> 3.7 s warm for simhash_near_dups). Computing the hex
    inline per (doc, token) row instead of the vocab join was measured a
    wash (1.1-1.8 s vs 1.1-1.4 s for the signature leg alone): the join
    trades |doc,token| md5 evaluations for one small distinct — kept
    because vocabulary << corpus grows ever more true at scale.
    Bit definition identical to simhash_bits (bit j from hex digit j//4);
    equality with the folded form is pinned by a test."""
    doc_tokens = (
        df.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    vocab = (
        doc_tokens.select("token").distinct()
        .select("token", F.substring(F.md5("token"), 1, 16).alias("_hex"))
    )
    joined = doc_tokens.join(vocab, "token")
    # per-bit signed sum: s_j = sum(cnt * (2*bit_j - 1)); doc bit j = s_j > 0
    terms = []
    for j in range(64):
        bit = (
            f"((instr('0123456789abcdef', substring(_hex, {j // 4 + 1}, 1)) - 1)"
            f" >> {3 - j % 4}) % 2"
        )
        s = f"sum(cnt * (2 * ({bit}) - 1))"
        # shiftleft(1L, 63) wraps to min-long; the total stays in BIGINT
        # range (min-long + at most 2^63 - 1), so the sum is exact
        terms.append(f"CASE WHEN {s} > 0 THEN shiftleft(1L, {j}) ELSE 0L END")
    sig = " + ".join(terms)
    return joined.groupBy("doc_id").agg(F.expr(sig).alias("simhash"))


def simhash_near_dups(df: DataFrame, bucket_max: int | None = None) -> DataFrame:
    """SimHash near-duplicate pairs with EXACT recall at distance
    SIMHASH_MAX_HAMMING via pigeonhole banding: the 64-bit signature splits
    into SIMHASH_BANDS contiguous (64/SIMHASH_BANDS)-bit band keys; any pair
    within hamming distance < SIMHASH_BANDS must agree exactly on at least
    one band, so a (band, band_key) equi-join finds every such pair — no
    cartesian product, cost = sum of squared band-bucket sizes. Each
    candidate is then re-checked with the exact
    ``bit_count(sig_a ^ sig_b)``.

    ``bucket_max`` caps degenerate band buckets (e.g. the all-zero
    signature shared by every token-free doc) with the same count-window
    form as cap_hot_buckets — it rides the join's own exchange+sort.
    Output: (doc_a, doc_b, hamming), distinct pairs.
    """
    width = 64 // SIMHASH_BANDS
    mask = (1 << width) - 1
    sig = simhash_signatures_direct(df)
    bands = sig.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BANDS - 1}), "
                # mask AFTER the shift: >> is arithmetic, the mask clears
                # the sign extension from the top band
                f"b -> shiftright(simhash, b * {width}) & {mask}L)"
            )
        ).alias("band", "band_key"),
    )
    if bucket_max is not None:
        bands = cap_hot_buckets(bands, bucket_max, keys=("band", "band_key"))
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"),
        "band", "band_key",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"),
        "band", "band_key",
    )
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
        .select(
            "doc_a",
            "doc_b",
            F.expr("bit_count(sig_a ^ sig_b)").cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. local algorithm):
    hash every word shingle in order, slide a window of WINNOW_WINDOW
    hashes, keep each window's minimum, dedupe. Guarantees any shared run of
    SHINGLE_WORDS + WINNOW_WINDOW - 1 tokens between two docs shares a
    fingerprint.

    One shuffle (the per-doc window sort); at scale the ordered shingle
    stream comes straight off the tokenizer, so cost is O(tokens) per doc.
    Output: (doc_id, fp) distinct.
    """
    from pyspark.sql import Window

    hashed = (
        df.select(F.col("doc_id"), tokens(F.col("text")).alias("_toks"))
        .select(F.col("doc_id"), F.posexplode(_shingles()).alias("pos", "sh"))
        .select(F.col("doc_id"), "pos", F.md5("sh").alias("h"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(WINNOW_WINDOW - 1), 0)
    return (
        hashed.withColumn("fp", F.min("h").over(w))
        .where(F.col("pos") >= WINNOW_WINDOW - 1)  # full windows only
        .select("doc_id", "fp")
        .distinct()
    )
