"""Corpus-curation operators: benchmark decontamination, PII
scrubbing, repetition signals.

These are training-data pipeline steps the reference engine does not
have (its domain is abuse rules); they complete the dedup/similarity
family in ``operators.dedup`` for LLM-corpus work at 100 TB:

- ``decontaminate``: flag documents sharing any word k-shingle with a
  benchmark/eval set (the n-gram-overlap decontamination used for
  train/test hygiene). Plan shape: distinct-shingle explode on both
  sides, equi-join on the shingle (benchmark side broadcast — eval
  sets are small by construction), one hash aggregate. No cross join,
  no driver materialization.
- ``pii_scrub``: redact emails / phone numbers / IPv4s with typed
  placeholders and count per category. Pure JVM regexp expressions
  over one projection — no shuffle at all.
- ``repetition_signals``: Gopher-style repetitiousness measures
  (top-unigram fraction, top-bigram fraction, distinct-token ratio)
  as pure array expressions per row — no explode, no shuffle; the
  O(distinct × n) per-row comparison cost is bounded by document
  token count, not corpus size.

All three are DuckDB-replayable (oracle SQL in entrypoint.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import shingles, tokens

# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Documents from ``docs`` that share at least one word k-shingle
    with any document in ``bench`` → (doc_id, n_hit_shingles),
    n_hit_shingles = how many of the doc's distinct shingles appear
    anywhere in the benchmark set.

    ``broadcast_bench=True`` ships the distinct benchmark shingle set
    to every executor (eval suites are MBs against a TB corpus); set
    False to let AQE pick the join strategy for large benchmark sides.
    """
    doc_sh = docs.select(
        F.col(id_col).alias("_id"), F.explode(shingles(F.col(text_col), k)).alias("_s")
    )
    bench_sh = (
        bench.select(F.explode(shingles(F.col(text_col), k)).alias("_s")).distinct()
    )
    if broadcast_bench:
        bench_sh = F.broadcast(bench_sh)
    return (
        doc_sh.join(bench_sh, "_s")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
        .select(F.col("_id").alias(id_col), F.col("n_hit_shingles").cast("long"))
        .orderBy(id_col)
    )


def _bloom_positions(shingle: Column, n_hashes: int, m: int) -> Column:
    """Distinct Bloom bit positions of one shingle: ``n_hashes``
    32-bit hashes mod ``m``, sliced 8-hex-chars-at-a-time from
    ``ceil(n_hashes / 4)`` md5 digests seeded ``bloom:{i}:`` — ONE md5
    per shingle for the default ``n_hashes=4`` (the same sliced-digest
    trick as minhash, 4× fewer digest computations than hashing per
    position). Replayed verbatim by the DuckDB oracle
    (entrypoint._BLOOM_POS_LAMBDA)."""
    digests = [
        F.md5(F.concat(F.lit(f"bloom:{i}:"), shingle.cast("string")).cast("binary"))
        for i in range((n_hashes + 3) // 4)
    ]
    return F.array_distinct(
        F.array(
            *[
                F.conv(F.substring(digests[j // 4], 1 + 8 * (j % 4), 8), 16, 10).cast(
                    "long"
                )
                % F.lit(m)
                for j in range(n_hashes)
            ]
        )
    )


def decontaminate_bloom(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 4,
    m: int = 65536,
) -> DataFrame:
    """Bloom-prefiltered decontamination — the 100 TB scale path for
    :func:`decontaminate`.

    Direct shingle-join decontamination broadcasts the benchmark's
    *distinct shingle strings*; for a large eval corpus that broadcast
    is GBs of text. This variant broadcasts only the benchmark's Bloom
    filter — the distinct *bit positions* set by its shingles, at most
    ``m`` integers regardless of benchmark size — and joins the
    document shingles' positions against it. A shingle whose
    ``n_hashes`` positions are all present is a *candidate*; candidates
    (a tiny, false-positive-bounded subset) are then exact-verified
    against the true benchmark shingle set, so the result is exact
    while the full-corpus join key is an int, not a string.

    Plan shape: the benchmark's bit positions are aggregated ONCE and
    packed into an ``m``-bit bitmap (``m/64`` longs — 8 KB at the
    default ``m=65536``) embedded in the plan as a literal array, the
    one bounded driver materialization (dimension-table class, like
    the IVF codebook: ≤ ``m`` bits regardless of benchmark size). The
    corpus-side prefilter is then a pure per-row expression — filter
    the document's shingle array to those whose ``n_hashes`` positions
    are all set (``getbit`` probes into the literal) — so the full
    corpus is never exploded, joined, or re-aggregated: only the tiny
    false-positive-bounded candidate set is exploded and
    broadcast-verified against the true benchmark shingles. One corpus
    scan, one shuffle (the final per-doc aggregate), no cross join.

    Output: one row per contaminated-or-candidate document —
    ``(id_col, n_candidate_shingles, n_hit_shingles)`` where
    ``n_candidate_shingles`` counts shingles passing the Bloom filter
    and ``n_hit_shingles`` those verified as true benchmark shingles
    (the difference is the observed false-positive count).
    """
    bench_sh_col = shingles(F.col(text_col), k)
    pos_rows = (
        bench.select(F.explode(bench_sh_col).alias("_s"))
        .distinct()
        .select(F.explode(_bloom_positions(F.col("_s"), n_hashes, m)).alias("_pos"))
        .distinct()
        .collect()
    )
    n_words = (m + 63) // 64
    words = [0] * n_words
    for r in pos_rows:
        p = int(r["_pos"])
        words[p >> 6] |= 1 << (p & 63)
    # two's-complement fold so each word fits a signed Spark long
    bitmap = F.lit([w - (1 << 64) if w >= (1 << 63) else w for w in words])

    def _bit_set(p: Column) -> Column:
        word = F.element_at(bitmap, F.shiftright(p, 6).cast("int") + 1)
        return F.call_function("getbit", word, p.bitwiseAND(F.lit(63))) == 1

    cand_arr = F.filter(
        shingles(F.col(text_col), k),
        lambda s: F.forall(_bloom_positions(s, n_hashes, m), _bit_set),
    )
    cand = docs.select(F.col(id_col).alias("_id"), F.explode(cand_arr).alias("_s"))
    bench_sh = F.broadcast(
        bench.select(F.explode(bench_sh_col).alias("_s"))
        .distinct()
        .withColumn("_true", F.lit(1))
    )
    return (
        cand.join(bench_sh, "_s", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_candidate_shingles"),
            F.count("_true").alias("n_hit_shingles"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("n_candidate_shingles").cast("long"),
            F.col("n_hit_shingles").cast("long"),
        )
        .orderBy(id_col)
    )


# ---------------------------------------------------------------------------
# Gopher-style quality filter
# ---------------------------------------------------------------------------

# small closed-class English word set shared with the DuckDB oracle
# (Gopher's "stop word" presence check, Rae et al. 2021 §A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
) -> DataFrame:
    """Gopher-rules document quality filter (Rae et al. 2021 §A1.1):
    per-document heuristic metrics plus the composite pass/fail
    verdict. Every metric is a pure per-row array/regexp expression —
    no shuffle, embarrassingly parallel at any corpus size — and every
    expression has an exact DuckDB twin (ratios rounded to 6 decimals
    to absorb last-ulp division differences).

    Metrics: word count, mean word length, symbol-to-word ratio
    ('#' characters + '...' runs per word), fraction of words with an
    alphabetic character, distinct-stopword hits, fraction of lines
    starting with a bullet and ending with an ellipsis.
    """
    t = tokens(F.col(text_col))
    lines = F.split(F.col(text_col), "\n")
    base = df.select(F.col(id_col), F.col(text_col), t.alias("_t"), lines.alias("_l"))
    n = F.size(F.col("_t"))
    nl = F.size(F.col("_l"))
    r6 = lambda num, den: F.when(  # noqa: E731
        den > 0, F.round(num.cast("double") / den, 6)
    ).otherwise(F.lit(0.0))
    mean_wl = r6(
        F.aggregate(F.col("_t"), F.lit(0), lambda acc, x: acc + F.length(x)), n
    )
    n_hash = F.length(F.col(text_col)) - F.length(F.regexp_replace(F.col(text_col), "#", ""))
    n_ellipsis = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"\.\.\."), 0))
    symbol_ratio = r6(n_hash + n_ellipsis, n)
    alpha_frac = r6(F.size(F.filter(F.col("_t"), lambda x: x.rlike("[a-z]"))), n)
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.col("_t")), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        )
    )
    bullet_frac = r6(
        F.size(F.filter(F.col("_l"), lambda l: F.ltrim(l).rlike("^[-*•]"))), nl
    )
    ellipsis_frac = r6(
        F.size(F.filter(F.col("_l"), lambda l: F.rtrim(l).rlike("\\.\\.\\.$"))), nl
    )
    scored = base.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stopword_hits"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
    )
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stopword_hits") >= min_stopword_hits)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
    )
    return scored.withColumn("passes", passes).orderBy(id_col)


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns restricted to the regex subset with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    # category -> (pattern, replacement token)
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+\d[\d() -]{6,}\d\b", "<PHONE>"),
}
# scrub order matters (an IPv4 could otherwise be eaten by a greedy
# phone pattern); fixed order keeps engine and oracle identical
PII_ORDER = ("email", "ipv4", "phone")


def pii_count_col(text_col: Column, category: str) -> Column:
    pat, _ = PII_PATTERNS[category]
    return F.size(F.regexp_extract_all(text_col, F.lit(pat), 0)).cast("long")


def pii_scrub_col(text_col: Column) -> Column:
    out = text_col
    for cat in PII_ORDER:
        pat, repl = PII_PATTERNS[cat]
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_scrub(
    df: DataFrame, id_cols: Sequence[str] = ("doc_id",), text_col: str = "text"
) -> DataFrame:
    """(ids, scrubbed text, per-category counts). One narrow
    projection; Catalyst keeps it inside whole-stage codegen."""
    return df.select(
        *[F.col(c) for c in id_cols],
        pii_scrub_col(F.col(text_col)).alias("scrubbed"),
        *[pii_count_col(F.col(text_col), c).alias(f"n_{c}") for c in PII_ORDER],
    )


# ---------------------------------------------------------------------------
# composed curation pipeline
# ---------------------------------------------------------------------------


def curate(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_top_unigram_frac: float = 0.15,
    shingle_k: int = 5,
) -> DataFrame:
    """The end-to-end corpus curation pass as ONE single-scan plan:

      1. fingerprint dedup — keep the min-id doc per sorted-unique
         token-set key;
      2. repetition filter — drop docs whose most frequent token
         exceeds ``max_top_unigram_frac`` of all tokens (Gopher);
      3. decontamination — drop docs sharing any ``shingle_k``-gram
         with the benchmark set (broadcast anti-join);
      4. PII scrub the survivors.

    Plan shape (this matters at 100 TB — the first composed version
    joined the corpus back to itself per stage and executed NINE
    corpus scans / 25 exchanges at sf0.01): tokens are materialized
    once, the repetition signal is an inline column (no join), the
    dedup keeper is ``row_number() == 1`` over the fingerprint window
    (one shuffle, replaces groupBy-min + self-join), and the one
    unavoidable reuse — survivors feed both the contamination probe
    and the anti-join — is persisted, not recomputed. Net: ONE corpus
    scan, two shuffles (fingerprint window + contamination aggregate),
    one broadcast join. Call ``result.unpersist_base()`` to release
    the persisted survivors in long-lived sessions.

    Output: (id, scrubbed text, top_unigram_frac) for surviving docs.
    """
    from pyspark.sql import Window

    from .dedup import tokens as _toks

    base = corpus.select(F.col(id_col), F.col(text_col), _toks(F.col(text_col)).alias("_t"))
    n = F.size(F.col("_t"))
    frac = F.when(
        n > 0,
        F.round(F.array_max(_counts_of(F.col("_t"))).cast("double") / n, 6),
    ).otherwise(F.lit(0.0))
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(F.col("_t"))), " ").cast("binary"))
    sig = base.select(
        F.col(id_col),
        F.col(text_col),
        frac.alias("top_unigram_frac"),
        fp.alias("_fp"),
    )
    w = Window.partitionBy("_fp").orderBy(id_col)
    kept = (
        sig.withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") == 1)
            & (F.col("top_unigram_frac") <= F.lit(max_top_unigram_frac))
        )
        .drop("_rn", "_fp")
        .persist()
    )
    contaminated = decontaminate(
        kept, bench, id_col=id_col, text_col=text_col, k=shingle_k
    ).select(id_col)
    clean = kept.join(contaminated, id_col, "left_anti")
    out = clean.select(
        F.col(id_col),
        pii_scrub_col(F.col(text_col)).alias("scrubbed"),
        "top_unigram_frac",
    ).orderBy(id_col)
    out.unpersist_base = lambda: kept.unpersist(blocking=True)
    return out


# ---------------------------------------------------------------------------
# repetition signals
# ---------------------------------------------------------------------------


def _counts_of(items: Column) -> Column:
    """count of each distinct element, as an array<int> (pure array
    expression: per-row O(distinct × n), zero shuffle)."""
    return F.transform(
        F.array_distinct(items),
        lambda t: F.size(F.filter(items, lambda x: x == t)),
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition measures per document:

    - ``top_unigram_frac``: occurrences of the most frequent token /
      total tokens (Gopher drops docs where this exceeds ~0.2-0.3);
    - ``top_bigram_frac``: same for adjacent-token bigrams;
    - ``distinct_token_ratio``: distinct tokens / total tokens.

    Everything is a per-row array expression — repetitiousness of one
    document never touches another, so the operator is embarrassingly
    parallel at any corpus size.

    The token and bigram arrays are materialized as projected columns
    before the counting expressions reference them: Catalyst does NOT
    common-subexpression-eliminate an array expression referenced from
    several HOF lambdas, so the inline form re-tokenized the document
    once per reference (measured 9.8 s → 0.24 s warm on 500 docs for
    this exact query — the same trap as the lang_id argmax rewrite)."""
    toks = tokens(F.col(text_col))
    n = F.size(F.col("_t"))
    base = df.select(F.col(id_col), toks.alias("_t")).select(
        id_col,
        "_t",
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            # try_element_at: i+1 runs past the array for a one-token
            # doc (ANSI element_at THROWS there); NULL is skipped by
            # concat_ws so the lone token is its own "bigram", the
            # same CASE the DuckDB oracle applies
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("_t"), i),
                F.try_element_at(F.col("_t"), i + 1),
            ),
        ).alias("_b"),
    )
    top_uni = F.array_max(_counts_of(F.col("_t")))
    top_bi = F.array_max(_counts_of(F.col("_b")))
    nd = F.size(F.array_distinct(F.col("_t")))
    frac = lambda num, den: F.when(  # noqa: E731
        den > 0, F.round(num.cast("double") / den, 6)
    ).otherwise(F.lit(0.0))
    return base.select(
        F.col(id_col),
        frac(top_uni, n).alias("top_unigram_frac"),
        frac(top_bi, F.greatest(n - 1, F.lit(1))).alias("top_bigram_frac"),
        frac(nd, n).alias("distinct_token_ratio"),
    )


# ---------------------------------------------------------------------------
# TF-IDF term scoring
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the keyword/relevance
    scoring step of a corpus-analytics pipeline.

    Weight: ``tf * (ln((N + 1) / (df + 1)) + 1)`` (smoothed idf,
    sklearn's ``TfidfVectorizer(smooth_idf=True)`` convention), with
    ``tf`` the raw in-document term count and ``df`` the number of
    documents containing the term.

    Plan shape at 100 TB:

    1. explode tokens -> ONE hash aggregate to (doc, term, tf): the
       shuffle carries (doc_id, term) pairs once — map-side partial
       aggregation collapses repeats before the exchange;
    2. term document-frequency is a second aggregate OVER THE (doc,
       term) FRAME (already one row per doc-term, so ``count(*)`` ==
       distinct-doc count — no count_distinct shuffle);
    3. N rides in as a 1-row broadcast (no driver collect);
    4. idf joins back on the term — vocabulary-sized right side,
       hash-partitioned equi-join; hot stopword terms are naturally
       spread because the left side is (doc, term), not term-grouped;
    5. per-doc top-k via ``row_number`` over a doc-partitioned window:
       partitions are document-sized, never corpus-sized.

    Weights round to 6 decimals (ln is IEEE-double-stable across
    engines; the rounding absorbs last-ulp differences).
    """
    from ..functions.text import tokenize_col
    from pyspark.sql import Window

    tf = (
        docs.select(F.col(id_col), F.explode(tokenize_col(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        df_ = df_.filter(F.col("df") >= min_df)
    n = docs.select(F.count(F.lit(1)).alias("__n"))
    idf = F.log((F.col("__n") + 1).cast("double") / (F.col("df") + 1)) + 1
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n))
        .withColumn("weight", F.round(F.col("tf") * idf, 6))
        .drop("__n", "df")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("weight"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "weight")
    )


def importance_weights(
    docs: DataFrame,
    target_pred: Column,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    via Importance Resampling"): score every document by how much more
    likely its hashed-unigram bag is under the TARGET distribution
    (rows satisfying ``target_pred``) than under the RAW corpus
    distribution. ``log_weight = sum_tokens ln p_tgt(b)/p_raw(b)``
    with add-one smoothing over ``n_buckets`` md5 hash buckets.

    Plan shape at 100 TB:

    1. explode tokens -> ONE (doc, bucket) hash aggregate (map-side
       partial collapses repeats before the exchange);
    2. both bucket histograms come from that frame via conditional
       aggregation — a second aggregate to exactly ``n_buckets`` rows,
       no separate target-side scan;
    3. totals ride as a 1-row broadcast; the n_buckets-row histogram
       broadcast-joins back (constant-size right side at any corpus);
    4. the per-doc sum folds a bucket-sorted collected list so float
       addition order is fixed — bit-reproducible across runs,
       partitionings, AND the DuckDB oracle (an unordered SUM() can
       flip the 6-digit rounding via non-associativity).

    Hash buckets use a 16-bit md5 slice mod n_buckets; keep n_buckets
    a power of two <= 65536 so the modulus is exactly unbiased.
    """
    from ..functions.text import tokenize_col

    b_col = (
        F.conv(F.substring(F.md5(F.col("term").cast("binary")), 1, 4), 16, 10).cast("int")
        % n_buckets
    )
    toks = docs.select(
        F.col(id_col),
        target_pred.alias("_t"),
        F.explode(tokenize_col(F.col(text_col))).alias("term"),
    )
    per_db = (
        toks.select(id_col, "_t", b_col.alias("b"))
        .groupBy(id_col, "_t", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bstats = per_db.groupBy("b").agg(
        F.sum("cnt").alias("nr"),
        F.sum(F.when(F.col("_t"), F.col("cnt")).otherwise(F.lit(0))).alias("nt"),
    )
    tot = bstats.agg(F.sum("nr").alias("tr"), F.sum("nt").alias("tt"))
    lr = bstats.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("nt") + 1) / (F.col("tt") + float(n_buckets)))
            - F.log((F.col("nr") + 1) / (F.col("tr") + float(n_buckets)))
        ).alias("lr"),
    )
    contrib = per_db.join(F.broadcast(lr), "b").select(
        F.col(id_col),
        F.col("cnt"),
        F.struct(F.col("b").alias("b"), (F.col("cnt") * F.col("lr")).alias("c")).alias("s"),
    )
    return (
        contrib.groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("s")),
                    F.lit(0.0),
                    lambda acc, x: acc + x["c"],
                ),
                6,
            ).alias("log_weight"),
        )
        .orderBy(id_col)
    )


def winsorized_quality_z(
    docs: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    p_low: float = 0.05,
    p_high: float = 0.95,
) -> DataFrame:
    """Per-group winsorized quality z-scores: clamp each document's
    quality score to its language's [p_low, p_high] exact percentile
    band, then z-normalize within the language — the standard move
    before mixing language shards with one global quality threshold
    (a raw cutoff keeps only high-resource-language docs; per-language
    z makes thresholds comparable across languages).

    Determinism discipline (rate_anomaly's): scores quantize to
    micro-units (the score is already rounded to 6 decimals, so this
    is exact), percentile bounds round to micro-longs, and the z-score
    computes from INTEGER moment sums via one fixed expression shape —
    no order-dependent float accumulation anywhere, so the DuckDB
    replay is bit-exact. Moment sums ride in decimal(38,0): exact and
    overflow-free to ~1e26 rows/group (a raw long sum of squared
    micro-units overflows past ~9e6 rows/group).

    Plan shape at 100 TB: one projection for the score, two per-group
    aggregates (groups = languages, dimension-sized) broadcast back —
    zero doc-keyed shuffles. Exact percentile state is per-group
    sorted values; flip to approx_percentile if groups ever stop being
    dimension-sized."""
    from ..functions.text import quality_score_col

    qi = F.round(quality_score_col(F.col(text_col)) * 1e6, 0).cast("long")
    base = docs.select(F.col(id_col), F.col(group_col), qi.alias("qi"))
    bounds = base.groupBy(group_col).agg(
        F.round(F.percentile(F.col("qi"), F.lit(float(p_low))), 0).cast("long").alias("bl"),
        F.round(F.percentile(F.col("qi"), F.lit(float(p_high))), 0).cast("long").alias("bh"),
    )
    clamped = base.join(F.broadcast(bounds), group_col).withColumn(
        "qw", F.least(F.greatest(F.col("qi"), F.col("bl")), F.col("bh"))
    )
    mom = clamped.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("qw").cast("decimal(38,0)")).alias("s1"),
        F.sum((F.col("qw") * F.col("qw")).cast("decimal(38,0)")).alias("s2"),
    )
    j = clamped.join(F.broadcast(mom), group_col)
    cnt, s1, s2, qw = (F.col(c).cast("double") for c in ("cnt", "s1", "s2", "qw"))
    var = (s2 - s1 * s1 / cnt) / (cnt - F.lit(1.0))
    z = F.when((F.col("cnt") > 1) & (var > 0), F.round((qw - s1 / cnt) / F.sqrt(var), 4))
    return j.select(
        F.col(id_col),
        F.col(group_col),
        F.round(F.col("qi") / 1e6, 6).alias("quality"),
        F.round(F.col("qw") / 1e6, 6).alias("q_winsor"),
        z.alias("z"),
    ).orderBy(id_col)


def lm_nll(
    docs: DataFrame,
    target_pred: Column,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document language-model negative log-likelihood — the
    CCNet-class perplexity filter (Wenzek et al. 2020 score docs with
    a KenLM trained on the target domain; this is the same pipeline
    with an add-one-smoothed bigram model, trained and scored entirely
    in-engine). Output: ``nll`` = -mean ln P(w_i | w_{i-1}) under the
    model fit on ``target_pred`` rows; perplexity = exp(nll) is a
    display transform, kept OUT of the hashed result so libm exp()
    ulp differences can never flip a rounding.

    Model: vocab = target tokens seen >= min_count (others -> <unk>,
    which cannot collide — tokens are \\w+ only); P(w2|w1) =
    (C(w1,w2)+1) / (C(w1)+V); V = |vocab|+1.

    Plan shape at 100 TB: token-keyed equi-joins against the
    vocab/unigram/bigram model tables (model-sized right sides, AQE
    picks broadcast vs shuffle), per-document windows for the bigram
    pairing (doc-sized partitions, never corpus-sized), and the
    per-doc sum folds position-ordered so float addition order is
    fixed — bit-reproducible and oracle-exact. Docs with < 2 tokens
    have no bigrams and drop out, same as the SQL replay.
    """
    from ..functions.text import tokenize_col

    toks = docs.select(
        F.col(id_col),
        target_pred.alias("_t"),
        F.posexplode(tokenize_col(F.col(text_col))).alias("pos", "tok"),
    )
    rawuni = toks.filter("_t").groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = rawuni.filter(F.col("c") >= min_count).select("tok")
    vn = vocab.agg((F.count(F.lit(1)) + 1).cast("double").alias("v"))
    mapped = (
        toks.join(vocab.withColumn("_known", F.lit(True)), "tok", "left")
        .select(
            id_col,
            "_t",
            "pos",
            F.when(F.col("_known"), F.col("tok")).otherwise(F.lit("<unk>")).alias("mt"),
        )
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    big = mapped.select(
        id_col, "_t", "pos", F.col("mt").alias("w1"), F.lead("mt").over(w).alias("w2")
    )
    uni_m = big.filter("_t").groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    bi_m = (
        big.filter(F.col("_t") & F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    scored = (
        big.filter(F.col("w2").isNotNull())
        .join(bi_m, ["w1", "w2"], "left")
        .join(uni_m, "w1", "left")
        .crossJoin(F.broadcast(vn))
        .select(
            F.col(id_col),
            F.struct(
                F.col("pos").alias("p"),
                F.log(
                    (F.coalesce(F.col("cb"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("cu"), F.lit(0)).cast("double") + F.col("v"))
                ).alias("l"),
            ).alias("s"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                -F.aggregate(
                    F.array_sort(F.collect_list("s")),
                    F.lit(0.0),
                    lambda acc, x: acc + x["l"],
                )
                / F.count(F.lit(1)),
                6,
            ).alias("nll"),
        )
        .orderBy(id_col)
    )


def token_entropy(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document unigram Shannon entropy (nats) — the classic
    low-diversity / degenerate-text quality signal (a doc that is one
    word repeated has H = 0; gibberish with a flat distribution maxes
    out at ln(n_distinct)).

    Determinism: every p = c/n is one integer/integer division and the
    -sum p ln p fold runs in token order (array_sort over (tok, c)
    structs), so float addition order is fixed — the DuckDB oracle is
    hash-exact. Plan at 100 TB: one (doc, token) hash aggregate with
    map-side partials, one doc-keyed rollup; the collected list is
    doc-vocabulary-sized, never corpus-sized.
    """
    from ..functions.text import tokenize_col

    tf = (
        docs.select(id_col, F.explode(tokenize_col(F.col(text_col))).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = tf.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.array_sort(
            F.collect_list(F.struct(F.col("tok").alias("t"), F.col("c").alias("c")))
        ).alias("_arr"),
    )
    n = F.col("n_tokens").cast("double")
    return per.select(
        id_col,
        "n_tokens",
        "n_distinct",
        F.round(
            -F.aggregate(
                F.col("_arr"),
                F.lit(0.0),
                lambda acc, x: acc
                + (x["c"].cast("double") / F.col("n_tokens").cast("double"))
                * F.log(x["c"].cast("double") / F.col("n_tokens").cast("double")),
            ),
            6,
        ).alias("entropy"),
    ).orderBy(id_col)


def bpe_merges(
    docs: DataFrame,
    rounds: int = 6,
    text_col: str = "text",
) -> DataFrame:
    """Byte-pair-encoding tokenizer training in-engine (Sennrich et
    al. 2016): learn the first ``rounds`` merge rules over the corpus.

    This runs the way real BPE trainers do: ONE corpus-scale pass
    builds the word-frequency table (hash aggregate, map-side
    partials), and every merge round after that operates on the
    DISTINCT-WORD table weighted by frequency — dimension-class work
    (vocabulary-sized, never corpus-sized), so 100 TB of text costs
    one aggregate plus ``rounds`` tiny jobs. The word table persists
    across rounds (call ``result.unpersist_base()`` in long-lived
    sessions).

    Per round: adjacent symbol pairs explode per distinct word
    (weighted by word count), one hash aggregate picks the most
    frequent pair (ties broken lexicographically — fully
    deterministic, no floats anywhere), the 1-row winner collects to
    the driver (dimension-table class, like the k-means codebook) and
    re-enters as literals in the merge fold: a left fold over each
    word's symbol list that joins the winning pair greedily
    left-to-right, exactly the BPE merge step. Symbols are kept as a
    ``\\x01``-joined string so the fold is pure string surgery the
    DuckDB oracle replays verbatim with ``list_reduce``.

    Output: one row per learned merge —
    ``(round, p1, p2, merged, pair_count)``.
    """
    words, _cur, merges = _bpe_train(docs, rounds, text_col)
    out = docs.sparkSession.createDataFrame(
        merges, "round int, p1 string, p2 string, merged string, pair_count long"
    ).orderBy("round")
    out.unpersist_base = lambda: words.unpersist(blocking=True)
    return out


_BPE_DELIM = "\x01"


def _bpe_train(docs: DataFrame, rounds: int, text_col: str):
    """Shared BPE training loop: returns (persisted word table, the
    per-word symbol frame after all merge rounds, merges list)."""
    from ..functions.text import tokenize_col

    d = _BPE_DELIM
    words = (
        docs.select(F.explode(tokenize_col(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select(
            "w",
            "wc",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.col("w").substr(i, F.lit(1)),
                ),
                d,
            ).alias("syms"),
        )
        .persist()
    )
    cur = words
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, rounds + 1):
        arr = F.split(F.col("syms"), d)
        n = F.size(arr)
        pairs = (
            cur.select(
                "wc",
                F.explode(
                    F.zip_with(
                        F.slice(arr, F.lit(1), n - 1),
                        F.slice(arr, F.lit(2), n - 1),
                        lambda x, y: F.struct(x.alias("p1"), y.alias("p2")),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
            .agg(F.sum("wc").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "p1", "p2").limit(1).collect()
        if not best:
            break
        p1, p2, cnt = best[0]["p1"], best[0]["p2"], int(best[0]["cnt"])
        merges.append((r, p1, p2, p1 + p2, cnt))

        def make_step(p1: str, p2: str):
            # factory closure, NOT default params: Spark binds extra
            # lambda params to the element index
            def step(acc, x):
                is_merge = (
                    (acc == F.lit(p1)) | acc.endswith(F.lit(d + p1))
                ) & (x == F.lit(p2))
                return F.when(
                    is_merge,
                    F.concat(
                        acc.substr(F.lit(1), F.length(acc) - F.lit(len(p1))),
                        F.lit(p1 + p2),
                    ),
                ).otherwise(F.concat(acc, F.lit(d), x))

            return step

        step = make_step(p1, p2)
        cur = cur.select(
            "w",
            "wc",
            F.aggregate(
                F.slice(arr, F.lit(2), n - 1), F.element_at(arr, 1), step
            ).alias("syms"),
        )
    return words, cur, merges


def bpe_encode(
    docs: DataFrame,
    rounds: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train BPE merges (:func:`bpe_merges`) and ENCODE the corpus with
    them: per document, the BPE token count and the compression ratio
    (chars per BPE token) — the number a tokenizer-budget pipeline
    actually needs per doc.

    Encoding never touches document text a second time: every doc
    token joins the distinct-word table's final segmentation
    (word-keyed equi-join; the word table is model-sized so AQE
    broadcasts it), and the per-doc rollup is one hash aggregate.
    ``chars_per_token`` is one integer/integer division —
    bit-reproducible, oracle-hash-exact.
    """
    words, cur, _merges = _bpe_train(docs, rounds, text_col)
    from ..functions.text import tokenize_col

    seg = cur.select(
        "w",
        F.size(F.split(F.col("syms"), _BPE_DELIM)).alias("_nsym"),
    )
    toks = docs.select(
        id_col, F.explode(tokenize_col(F.col(text_col))).alias("w")
    )
    out = (
        toks.join(seg, "w")
        .groupBy(id_col)
        .agg(
            F.sum("_nsym").cast("long").alias("n_bpe_tokens"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
        )
        .withColumn(
            "chars_per_token",
            F.round(
                F.col("n_chars").cast("double") / F.col("n_bpe_tokens").cast("double"),
                6,
            ),
        )
        .orderBy(id_col)
    )
    out.unpersist_base = lambda: words.unpersist(blocking=True)
    return out


def bpe_oracle_sql(
    rounds: int, rtokens: str, table: str = "documents", encode: bool = False
) -> str:
    """DuckDB replay of :func:`bpe_merges` (and, with ``encode=True``,
    :func:`bpe_encode`): the word-frequency table, then each merge
    round unrolled into (pair-count, argmax-winner, merge-fold) CTEs —
    the fold is ``list_reduce`` with the identical greedy
    left-to-right string surgery. ``rtokens`` is the DuckDB tokenizer
    expression over ``text``."""
    parts = [
        f"WITH toks AS (SELECT unnest({rtokens}) AS w FROM {table}),",
        "wds AS (SELECT w, count(*) AS wc FROM toks GROUP BY w),",
        "s0 AS (SELECT w, wc, array_to_string(list_transform("
        "range(1, length(w) + 1), i -> substr(w, CAST(i AS INT), 1)), chr(1))"
        " AS syms FROM wds)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
p{r} AS (
  SELECT sp[i] AS p1, sp[i + 1] AS p2, sum(wc) AS cnt FROM (
    SELECT wc, string_split(syms, chr(1)) AS sp FROM s{r - 1}
  ), LATERAL unnest(generate_series(1, len(sp) - 1)) AS u{r}(i)
  GROUP BY 1, 2
),
b{r} AS (SELECT {r} AS round, p1, p2, cnt FROM p{r} ORDER BY cnt DESC, p1, p2 LIMIT 1)"""
        )
        if r < rounds or encode:
            parts.append(
                f""",
s{r} AS (
  SELECT w, wc,
    list_reduce(string_split(syms, chr(1)), (acc, x) ->
      CASE WHEN (acc = b.p1 OR ends_with(acc, chr(1) || b.p1)) AND x = b.p2
           THEN substr(acc, 1, length(acc) - length(b.p1)) || b.p1 || b.p2
           ELSE acc || chr(1) || x END) AS syms
  FROM s{r - 1} CROSS JOIN b{r} b
)"""
            )
    if encode:
        parts.append(
            f""",
enc AS (SELECT doc_id, unnest({rtokens}) AS w FROM {table}),
fin AS (SELECT w, len(string_split(syms, chr(1))) AS nsym FROM s{rounds})
SELECT doc_id, CAST(sum(nsym) AS BIGINT) AS n_bpe_tokens,
  CAST(sum(length(w)) AS BIGINT) AS n_chars,
  round(CAST(sum(length(w)) AS DOUBLE) / sum(nsym), 6) AS chars_per_token
FROM enc JOIN fin USING (w) GROUP BY doc_id ORDER BY doc_id"""
        )
        return "".join(parts)
    union = " UNION ALL ".join(f"SELECT * FROM b{r}" for r in range(1, rounds + 1))
    parts.append(
        f"""
SELECT round, p1, p2, p1 || p2 AS merged, CAST(cnt AS BIGINT) AS pair_count
FROM ({union}) ORDER BY round"""
    )
    return "".join(parts)


def nb_classifier(
    docs: DataFrame,
    class_a_pred: Column,
    class_b_pred: Column,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document quality-classifier log-odds — the GPT-3 / CCNet
    "Wikipedia-vs-CommonCrawl" filter class (Brown et al. 2020 §A
    train a linear classifier on good-vs-raw text and keep docs the
    classifier favors; fastText is the usual engine). This is the
    same pipeline with an add-one-smoothed multinomial Naive Bayes —
    the counts-based member of the linear-classifier family, so
    training is TWO hash aggregates instead of SGD and every model
    weight is ln of a ratio of integers: fully deterministic under
    any partitioning, no iterative fitting, no RNG.

    Model: vocab = tokens seen >= ``min_count`` in the union of both
    training classes (others -> ``<unk>``, which cannot collide —
    tokens are \\w+ only); per-token weight
    ``l(t) = ln((ca+1)/(Na+V)) - ln((cb+1)/(Nb+V))`` with Na/Nb the
    mapped class token totals and V = |vocab|+1; the doc score is
    ``prior + sum l(t_i)`` with ``prior = ln(da/db)`` over training
    doc counts. ``pred_a`` compares the ROUNDED score so a libm ulp
    can never flip the label across engines.

    Plan shape at 100 TB: the model is one token-keyed conditional
    hash aggregate (vocab-sized, map-side partials); scoring is one
    equi-join of doc tokens against that model table (AQE broadcasts
    model-sized sides) plus a 1-row scalar broadcast; the per-doc sum
    folds position-ordered so float addition order is fixed —
    bit-reproducible and oracle-hash-exact, same contract as
    :func:`lm_nll`. Docs with zero tokens drop out (no token rows),
    same as the SQL replay.
    """
    from ..functions.text import tokenize_col

    toks = docs.select(
        F.col(id_col),
        class_a_pred.alias("_a"),
        class_b_pred.alias("_b"),
        F.posexplode(tokenize_col(F.col(text_col))).alias("pos", "tok"),
    )
    rawc = (
        toks.filter(F.col("_a") | F.col("_b"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = rawc.filter(F.col("c") >= min_count).select("tok")
    mapped = toks.join(vocab.withColumn("_known", F.lit(True)), "tok", "left").select(
        id_col,
        "_a",
        "_b",
        "pos",
        F.when(F.col("_known"), F.col("tok")).otherwise(F.lit("<unk>")).alias("mt"),
    )
    model = (
        mapped.filter(F.col("_a") | F.col("_b"))
        .groupBy("mt")
        .agg(
            F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("_b"), 1).otherwise(0)).alias("cb"),
        )
    )
    totals = model.agg(
        F.sum("ca").cast("double").alias("na"), F.sum("cb").cast("double").alias("nb")
    )
    vn = vocab.agg((F.count(F.lit(1)) + 1).cast("double").alias("v"))
    prior = docs.agg(
        F.log(
            F.sum(class_a_pred.cast("int")).cast("double")
            / F.sum(class_b_pred.cast("int")).cast("double")
        ).alias("prior")
    )
    scal = F.broadcast(totals.crossJoin(vn).crossJoin(prior))
    scored = (
        mapped.join(model, "mt", "left")
        .crossJoin(scal)
        .select(
            F.col(id_col),
            "prior",
            F.struct(
                F.col("pos").alias("p"),
                (
                    F.log(
                        (F.coalesce(F.col("ca"), F.lit(0)) + 1).cast("double")
                        / (F.col("na") + F.col("v"))
                    )
                    - F.log(
                        (F.coalesce(F.col("cb"), F.lit(0)) + 1).cast("double")
                        / (F.col("nb") + F.col("v"))
                    )
                ).alias("l"),
            ).alias("s"),
        )
    )
    log_odds = F.round(
        F.first("prior")
        + F.aggregate(
            F.array_sort(F.collect_list("s")), F.lit(0.0), lambda acc, x: acc + x["l"]
        ),
        6,
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            log_odds.alias("log_odds"),
        )
        .select(id_col, "n_tokens", "log_odds", (F.col("log_odds") > 0).alias("pred_a"))
        .orderBy(id_col)
    )


# --------------------------------------------------------------------------
# unigram-LM (SentencePiece-class) subword segmentation
# --------------------------------------------------------------------------

_UG_BIG = 1 << 40  # per-piece base cost: lexicographic (pieces, -freq)
_UG_HALF = 1 << 39
_UG_START_CAP = 64  # substring-extraction start-position cap (both engines)


def unigram_encode(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece_len: int = 4,
    vocab_size: int = 64,
) -> DataFrame:
    """Unigram-style subword segmentation (the SentencePiece inference
    family, Kudo 2018) — BPE's sibling: instead of replaying learned
    merges, pick the segmentation that optimizes a corpus-frequency
    objective via Viterbi DP over each word.

    The objective is deliberately INTEGER, not float log-probs:
    minimize piece count, tie-broken by maximizing the total corpus
    frequency of the chosen pieces — one BIGINT cost cell per DP state
    (``pieces * 2^40 - sum_freq``), so the segmentation is exactly
    reproducible across engines (a float ``-log p`` objective can flip
    argmin ties on last-ulp ``ln`` differences between JVM and C
    libms; the integer objective recovers the same "prefer frequent
    long pieces" behavior with zero ambiguity).

    Pipeline (all dimension-class after the first aggregate):
      1. ONE corpus-scale pass builds the distinct-word frequency
         table (hash aggregate, map-side partials);
      2. candidate pieces = all substrings (start <= 64, length <=
         ``max_piece_len``) of distinct words, weighted by word
         frequency — vocabulary-sized explode, never corpus-sized;
      3. top-``vocab_size`` pieces by (freq desc, piece asc) collect
         to the driver (dimension-table class, like the BPE winner and
         the k-means codebook) and re-enter as ONE literal map;
      4. Viterbi DP per distinct word: an array fold whose step takes
         the least of ``max_piece_len`` candidate costs (map lookup,
         missing piece = infinity; single chars always admissible at
         frequency 0 so coverage is total) — pure JVM expressions;
      5. encode rollup = doc tokens equi-join the word segmentation
         (model-sized side, AQE broadcasts), one hash aggregate.

    Output: ``id_col, n_unigram_tokens, n_chars, chars_per_token`` —
    the per-doc token-budget numbers, mirroring :func:`bpe_encode`.
    """
    from ..functions.text import tokenize_col

    L = int(max_piece_len)
    words = (
        docs.select(F.explode(tokenize_col(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .persist()
    )
    n = F.length("w")
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.least(n, F.lit(_UG_START_CAP))),
            lambda i: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(L), n - i + 1)),
                lambda j: F.col("w").substr(i, j),
            ),
        )
    )
    pieces = (
        words.select(F.explode(subs).alias("p"), "wc")
        .groupBy("p")
        .agg(F.sum("wc").alias("total"))
    )
    vocab = [
        (r["p"], int(r["total"]))
        for r in pieces.orderBy(F.desc("total"), "p")
        .limit(int(vocab_size))
        .collect()
    ]
    m = F.create_map(
        *[
            F.lit(x)
            for p, t in vocab
            for x in (p, t)
        ]
    )

    def step(acc, i):
        cands = [
            F.element_at(acc, i)
            + F.lit(_UG_BIG)
            - F.coalesce(
                F.element_at(m, F.col("w").substr(i, F.lit(1))).cast("long"),
                F.lit(0).cast("long"),
            )
        ]
        for j in range(2, L + 1):
            piece = F.col("w").substr(i - F.lit(j) + F.lit(1), F.lit(j))
            val = F.element_at(m, piece).cast("long")
            cands.append(
                F.when(
                    (i >= F.lit(j)) & val.isNotNull(),
                    F.element_at(acc, i - F.lit(j) + F.lit(1))
                    + F.lit(_UG_BIG)
                    - val,
                )
            )
        return F.concat(acc, F.array(F.least(*cands)))

    dp = F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(F.lit(0).cast("long")),
        step,
    )
    seg = words.select(
        "w",
        F.element_at(dp, -1).alias("_cost"),
    ).select(
        "w",
        F.expr(
            f"CAST((_cost + {_UG_HALF}) DIV {_UG_BIG} AS BIGINT)"
        ).alias("_np"),
    )
    toks = docs.select(
        id_col, F.explode(tokenize_col(F.col(text_col))).alias("w")
    )
    out = (
        toks.join(seg, "w")
        .groupBy(id_col)
        .agg(
            F.sum("_np").cast("long").alias("n_unigram_tokens"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
        )
        .withColumn(
            "chars_per_token",
            F.round(
                F.col("n_chars").cast("double")
                / F.col("n_unigram_tokens").cast("double"),
                6,
            ),
        )
        .orderBy(id_col)
    )
    out.unpersist_base = lambda: words.unpersist(blocking=True)
    return out


def unigram_oracle_sql(
    rtokens: str,
    table: str = "documents",
    id_col: str = "doc_id",
    max_piece_len: int = 4,
    vocab_size: int = 64,
) -> str:
    """DuckDB replay of :func:`unigram_encode`: identical piece table,
    identical top-V tie-break, and the identical integer Viterbi as a
    recursive CTE that carries the last ``max_piece_len`` DP cells as
    columns (the working-table trick — standard recursion only sees
    the previous row, so the DP band rides along)."""
    L = int(max_piece_len)
    big, half = _UG_BIG, _UG_HALF
    cands = [
        f"r.d0 + {big} - coalesce(mp[substr(r.w, r.pos + 1, 1)][1], CAST(0 AS BIGINT))"
    ]
    for j in range(2, L + 1):
        piece = f"substr(r.w, r.pos + 2 - {j}, {j})"
        cands.append(
            f"CASE WHEN r.pos >= {j - 1} AND mp[{piece}][1] IS NOT NULL"
            f" THEN r.d{j - 1} + {big} - mp[{piece}][1] END"
        )
    shift = ", ".join(f"r.d{j} AS d{j + 1}" for j in range(L - 1))
    init_nulls = ", ".join(
        f"CAST(NULL AS BIGINT) AS d{j}" for j in range(1, L)
    )
    return f"""
WITH t AS (SELECT {id_col}, {rtokens} AS toks FROM {table}),
tok AS (SELECT {id_col}, unnest(toks) AS w FROM t),
words AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM tok GROUP BY w),
pieces AS (
  SELECT substr(words.w, i, j) AS p, CAST(sum(words.wc) AS BIGINT) AS total
  FROM words, range(1, {_UG_START_CAP + 1}) r1(i), range(1, {L + 1}) r2(j)
  WHERE i <= least(length(words.w), {_UG_START_CAP})
    AND i + j - 1 <= length(words.w)
  GROUP BY 1
),
vocab AS (SELECT p, total FROM pieces ORDER BY total DESC, p LIMIT {int(vocab_size)}),
m AS (SELECT map_from_entries(list(struct_pack(k := p, v := total))) AS mp FROM vocab),
dp AS (
  WITH RECURSIVE r AS (
    SELECT words.w AS w, 0 AS pos, CAST(0 AS BIGINT) AS d0, {init_nulls}
    FROM words
    UNION ALL
    SELECT r.w, r.pos + 1,
      least({", ".join(cands)}) AS d0,
      {shift}
    FROM r, m
    WHERE r.pos < length(r.w)
  )
  SELECT w, (d0 + {half}) // {big} AS np FROM r WHERE pos = length(w)
)
SELECT tok.{id_col},
  CAST(sum(dp.np) AS BIGINT) AS n_unigram_tokens,
  CAST(sum(length(tok.w)) AS BIGINT) AS n_chars,
  round(CAST(sum(length(tok.w)) AS DOUBLE) / CAST(sum(dp.np) AS DOUBLE), 6)
    AS chars_per_token
FROM tok JOIN dp USING (w)
GROUP BY 1 ORDER BY 1
"""


def span_corruption(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block: int = 10,
    span_len: int = 2,
) -> DataFrame:
    """T5-style span-corruption training-example generation (Raffel
    et al. 2020 §3.1.4): mask deterministic token spans, emit the
    corrupted input (spans collapsed to sentinels ``<X_b>``) and the
    target (each sentinel followed by the tokens it hides) →
    ``(doc_id, n_tokens, n_masked, corrupted, target)``.

    Span placement is SEEDED, not random: token positions are split
    into blocks of ``block``; a block longer than ``span_len`` masks
    the ``span_len``-token run starting at ``md5(doc_id:b) %
    (block_len - span_len + 1)`` — non-overlap by construction
    (block-local spans), corruption rate ≈ span_len/block, and every
    engine replays the identical mask (the md5-slice idiom the
    sketches use), so the oracle is hash-exact where a real RNG would
    be untestable.

    Plan shape: pure per-row array HOFs over the token list — zero
    joins, zero shuffles, zero Python; scales with tokens scanned.
    """
    if span_len < 1 or block <= span_len:
        raise ValueError("need block > span_len >= 1")
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    B, L = int(block), int(span_len)
    did = F.col(id_col).cast("string")

    def bstart(b):
        return b * B

    def blen(b):
        return F.least(F.lit(B), n - bstart(b))

    def span_at(b):
        # start offset of block b's masked span (NULL if block too short)
        room = blen(b) - L + 1
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(did, F.lit(":"), b.cast("string")).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return F.when(blen(b) > L, F.pmod(h, room))

    nblocks = F.floor((n + B - 1) / F.lit(B)).cast("int")
    blocks = F.when(n > 0, F.sequence(F.lit(0), nblocks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    positions = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )

    def tok_of(p):
        return F.element_at(toks, p + 1)

    def piece(p):
        b = F.floor(p / F.lit(B)).cast("int")
        off = p - b * B
        s = span_at(b)
        return (
            F.when(s.isNull() | (off < s) | (off >= s + L), tok_of(p))
            .when(off == s, F.concat(F.lit("<X_"), b.cast("string"), F.lit(">")))
            # interior of a masked span: dropped
        )

    corrupted = F.array_join(
        F.filter(F.transform(positions, piece), lambda x: x.isNotNull()), " "
    )

    def tgt(b):
        s = span_at(b)
        masked = F.array_join(
            F.slice(toks, (bstart(b) + s + 1).cast("int"), L), " "
        )
        return F.when(
            s.isNotNull(),
            F.concat(F.lit("<X_"), b.cast("string"), F.lit("> "), masked),
        )
    target = F.array_join(
        F.filter(F.transform(blocks, tgt), lambda x: x.isNotNull()), " "
    )
    n_masked = F.aggregate(
        blocks,
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.when(span_at(b).isNotNull(), F.lit(L)).otherwise(F.lit(0)),
    )
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        n_masked.alias("n_masked"),
        corrupted.alias("corrupted"),
        target.alias("target"),
    )


def span_corruption_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    block: int = 10,
    span_len: int = 2,
) -> str:
    """DuckDB oracle replaying the identical seeded masks."""
    B, L = int(block), int(span_len)
    s_expr = (
        f"CAST(('0x' || substr(md5(CAST({id_col} AS VARCHAR) || ':' || "
        f"CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) "
        f"% (least({B}, n - b*{B}) - {L} + 1)"
    )
    return f"""
WITH d AS (
  SELECT {id_col}, string_split({text_col}, ' ') AS toks,
         len(string_split({text_col}, ' ')) AS n
  FROM {table}
),
m AS (
  SELECT {id_col}, toks, n,
    list_transform(
      range(0, CAST((n + {B} - 1) // {B} AS BIGINT)),
      b -> CASE WHEN least({B}, n - b*{B}) > {L}
                THEN {s_expr} END
    ) AS spans
  FROM d
)
SELECT {id_col},
  CAST(n AS BIGINT) AS n_tokens,
  CAST(len(list_filter(spans, s -> s IS NOT NULL)) * {L} AS BIGINT) AS n_masked,
  array_to_string(
    list_filter(
      list_transform(range(0, CAST(n AS BIGINT)), p ->
        CASE
          WHEN spans[CAST(p // {B} AS INT) + 1] IS NULL
            OR p - (p // {B}) * {B} < spans[CAST(p // {B} AS INT) + 1]
            OR p - (p // {B}) * {B} >= spans[CAST(p // {B} AS INT) + 1] + {L}
          THEN toks[CAST(p AS INT) + 1]
          WHEN p - (p // {B}) * {B} = spans[CAST(p // {B} AS INT) + 1]
          THEN '<X_' || CAST(p // {B} AS VARCHAR) || '>'
        END),
      x -> x IS NOT NULL),
    ' ') AS corrupted,
  array_to_string(
    list_filter(
      list_transform(range(0, CAST((n + {B} - 1) // {B} AS BIGINT)), b ->
        CASE WHEN spans[CAST(b AS INT) + 1] IS NOT NULL
             THEN '<X_' || CAST(b AS VARCHAR) || '> ' ||
                  array_to_string(
                    toks[CAST(b*{B} + spans[CAST(b AS INT) + 1] + 1 AS INT)
                         : CAST(b*{B} + spans[CAST(b AS INT) + 1] + {L} AS INT)],
                    ' ')
        END),
      x -> x IS NOT NULL),
    ' ') AS target
FROM m
"""


def curriculum_buckets(
    docs: DataFrame,
    probs: tuple = (0.25, 0.5, 0.75),
    id_col: str = "doc_id",
    score_col: str = "n_chars",
) -> DataFrame:
    """Curriculum-ordering bucket assignment: split the corpus into
    len(probs)+1 difficulty tiers by exact score quantiles (easy →
    hard data scheduling, Bengio et al. 2009), WITHOUT the global-sort
    trap.

    The naive form is ``ntile(k) OVER (ORDER BY score)`` — an
    un-partitioned window that funnels EVERY row through ONE task (the
    single-partition window is the classic 100 TB cliff). Instead:
    ONE map-side-combinable aggregate computes the exact interpolated
    quantile boundaries (``percentile`` — counts-map merge, memory
    bounded by distinct scores; swap in ``approx_percentile`` when
    scores are continuous), the 1-row boundary frame broadcasts, and
    bucket assignment is a per-row array fold ``1 + |{b : score > b}|``
    — embarrassingly parallel, no corpus shuffle at all.

    Difference vs ntile semantics: equal scores always land in the
    same bucket here (boundary ties break by value, not row position),
    which is what a curriculum actually wants — ntile splits ties
    arbitrarily to equalize bucket sizes. Integer scores + exact
    boundaries keep the DuckDB ``quantile_cont`` replay hash-exact.
    """
    bounds = docs.agg(
        F.percentile(
            F.col(score_col).cast("double"),
            F.array(*[F.lit(float(p)) for p in probs]),
        ).alias("_bs")
    )
    score = F.col(score_col).cast("double")
    bucket = F.lit(1) + F.aggregate(
        F.col("_bs"),
        F.lit(0),
        lambda acc, b: acc + F.when(score > b, 1).otherwise(0),
    )
    return docs.crossJoin(F.broadcast(bounds)).select(
        id_col,
        F.col(score_col).cast("long").alias("score"),
        bucket.cast("long").alias("bucket"),
    )


def curriculum_buckets_sql(
    table: str,
    probs: tuple = (0.25, 0.5, 0.75),
    id_col: str = "doc_id",
    score_col: str = "n_chars",
) -> str:
    """DuckDB oracle for :func:`curriculum_buckets` (quantile_cont
    boundaries + the same strictly-greater array fold)."""
    plist = ", ".join(str(float(p)) for p in probs)
    return f"""
WITH bounds AS (
  SELECT quantile_cont(CAST({score_col} AS DOUBLE), [{plist}]) AS bs FROM {table}
)
SELECT d.{id_col},
  CAST(d.{score_col} AS BIGINT) AS score,
  CAST(1 + len(list_filter(b.bs, x -> CAST(d.{score_col} AS DOUBLE) > x)) AS BIGINT) AS bucket
FROM {table} d, bounds b
"""


# --------------------------------------------------------------------------
# WordPiece (Schuster & Nakajima 2012; the BERT tokenizer) — the third
# canonical subword algorithm next to BPE and unigram-LM
# --------------------------------------------------------------------------


def _wordpiece_train(docs: DataFrame, rounds: int, text_col: str):
    """Shared WordPiece training loop. Same distributed shape as
    :func:`_bpe_train` — ONE corpus-scale word-frequency aggregate,
    then every round runs on the DISTINCT-WORD table — but the merge
    argmax is WordPiece's LIKELIHOOD score
    ``count(pair) / (count(p1) * count(p2))`` instead of raw pair
    count, and symbols carry the ``##`` continuation convention
    (non-initial pieces are ``##``-prefixed; a merge strips the
    ``##`` off its right element). The score needs the current
    per-symbol totals, so each round runs TWO model-sized hash
    aggregates (pairs + symbols) and joins them — still
    dimension-class work. The score division is a single
    integer/integer double division (IEEE-exact in both engines);
    ties break lexicographically on (p1, p2).

    Returns (persisted word table, final per-word symbol frame,
    merges list of (round, p1, p2, merged, pair_count, p1_count,
    p2_count)).
    """
    from ..functions.text import tokenize_col

    d = _BPE_DELIM
    words = (
        docs.select(F.explode(tokenize_col(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select(
            "w",
            "wc",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.when(
                        i == 1, F.col("w").substr(i, F.lit(1))
                    ).otherwise(
                        F.concat(F.lit("##"), F.col("w").substr(i, F.lit(1)))
                    ),
                ),
                d,
            ).alias("syms"),
        )
        .persist()
    )
    cur = words
    merges: list[tuple[int, str, str, str, int, int, int]] = []
    for r in range(1, rounds + 1):
        arr = F.split(F.col("syms"), d)
        n = F.size(arr)
        pairs = (
            cur.select(
                "wc",
                F.explode(
                    F.zip_with(
                        F.slice(arr, F.lit(1), n - 1),
                        F.slice(arr, F.lit(2), n - 1),
                        lambda x, y: F.struct(x.alias("p1"), y.alias("p2")),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
            .agg(F.sum("wc").alias("cnt"))
        )
        scnt = (
            cur.select("wc", F.explode(arr).alias("s"))
            .groupBy("s")
            .agg(F.sum("wc").alias("sc"))
        )
        scored = (
            pairs.join(scnt.select(F.col("s").alias("p1"), F.col("sc").alias("c1")), "p1")
            .join(scnt.select(F.col("s").alias("p2"), F.col("sc").alias("c2")), "p2")
            .select(
                "p1",
                "p2",
                "cnt",
                "c1",
                "c2",
                (
                    F.col("cnt").cast("double")
                    / (F.col("c1") * F.col("c2")).cast("double")
                ).alias("score"),
            )
        )
        best = scored.orderBy(F.desc("score"), "p1", "p2").limit(1).collect()
        if not best:
            break
        b = best[0]
        p1, p2 = b["p1"], b["p2"]
        merged = p1 + p2[2:]  # strip the continuation marker
        merges.append(
            (r, p1, p2, merged, int(b["cnt"]), int(b["c1"]), int(b["c2"]))
        )

        def make_step(p1: str, p2: str, merged: str):
            def step(acc, x):
                is_merge = (
                    (acc == F.lit(p1)) | acc.endswith(F.lit(d + p1))
                ) & (x == F.lit(p2))
                return F.when(
                    is_merge,
                    F.concat(
                        acc.substr(F.lit(1), F.length(acc) - F.lit(len(p1))),
                        F.lit(merged),
                    ),
                ).otherwise(F.concat(acc, F.lit(d), x))

            return step

        step = make_step(p1, p2, merged)
        cur = cur.select(
            "w",
            "wc",
            F.aggregate(
                F.slice(arr, F.lit(2), n - 1), F.element_at(arr, 1), step
            ).alias("syms"),
        )
        # unlike the BPE loop (one consumer per round), each WordPiece
        # round evaluates cur TWICE (pair counts + symbol counts), so
        # the nested fold lineage would re-optimize and re-execute
        # doubled per round — materialize the (distinct-word-sized)
        # segmentation instead, same trick as dedup_groups
        cur = cur.localCheckpoint(eager=False)
    return words, cur, merges


def wordpiece_merges(
    docs: DataFrame,
    rounds: int = 6,
    text_col: str = "text",
) -> DataFrame:
    """WordPiece tokenizer training in-engine: the first ``rounds``
    likelihood-scored merges. Output one row per merge —
    ``(round, p1, p2, merged, pair_count, p1_count, p2_count)``, all
    strings/integers so the unrolled-CTE DuckDB replay is hash-exact
    (the score itself is implied: ``pair_count/(p1_count*p2_count)``).
    """
    words, _cur, merges = _wordpiece_train(docs, rounds, text_col)
    out = docs.sparkSession.createDataFrame(
        merges,
        "round int, p1 string, p2 string, merged string,"
        " pair_count long, p1_count long, p2_count long",
    ).orderBy("round")
    out.unpersist_base = lambda: words.unpersist(blocking=True)
    return out


def wordpiece_encode(
    docs: DataFrame,
    rounds: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    encode_docs: DataFrame | None = None,
) -> DataFrame:
    """Train WordPiece (:func:`wordpiece_merges`), then ENCODE the way
    real WordPiece inference works: unlike BPE (which replays merge
    rules), WordPiece keeps only the final VOCABULARY and tokenizes
    each word by GREEDY LONGEST-MATCH-FIRST — at each cursor take the
    longest vocab piece (``##``-prefixed when not word-initial) that
    matches; a position with no match makes the whole word ``[UNK]``
    (the BERT convention).

    Distributed shape: the vocab (initial alphabet + merged pieces —
    dimension-table class, like the BPE winners and the IVF codebook)
    collects to the driver and re-enters as ONE literal map; the
    greedy runs as a pure-JVM array fold over each DISTINCT word
    (word-length iterations, each either consumes >=1 char or marks
    the word unknown), and the per-doc rollup is one equi-join of doc
    tokens against the word table + one hash aggregate — document
    text is never touched a second time.

    ``encode_docs`` encodes a DIFFERENT frame with the vocab trained
    on ``docs`` (the production split: train on the snapshot, encode
    the incoming batch) — unseen characters go through the [UNK]
    path. Defaults to encoding the training frame itself, where every
    char is in the alphabet and [UNK] is unreachable.

    Output: ``id_col, n_wordpiece_tokens, n_unk_words, n_chars``
    (an [UNK] word contributes exactly 1 token and its chars).
    """
    words, _cur, merges = _wordpiece_train(docs, rounds, text_col)
    d = _BPE_DELIM
    alphabet = [
        r["s"]
        for r in words.select(
            F.explode(F.split("syms", d)).alias("s")
        ).distinct().collect()
    ]
    vocab = sorted(set(alphabet) | {m[3] for m in merges})
    # consumed chars per piece (## is a marker, not content)
    max_consume = max(
        (len(p) - 2 if p.startswith("##") else len(p)) for p in vocab
    )
    vset = F.create_map(*[F.lit(x) for p in vocab for x in (p, 1)])

    n = F.length("w")

    def gstep(acc, _i):
        pos = F.element_at(acc, 1)
        ntok = F.element_at(acc, 2)
        bad = F.element_at(acc, 3)
        done = (bad == 1) | (pos > n)
        cands = []
        for j in range(max_consume, 0, -1):
            raw = F.col("w").substr(pos, F.lit(j))
            piece = F.when(pos == 1, raw).otherwise(F.concat(F.lit("##"), raw))
            ok = (pos + F.lit(j) - 1 <= n) & F.element_at(vset, piece).isNotNull()
            cands.append(F.when(ok, F.lit(j)))
        ml = F.greatest(*cands) if len(cands) > 1 else cands[0]
        return F.when(done, acc).otherwise(
            F.when(
                ml.isNull(), F.array(pos, ntok, F.lit(1))
            ).otherwise(F.array(pos + ml, ntok + 1, F.lit(0)))
        )

    fold = F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(F.lit(1), F.lit(0), F.lit(0)),
        gstep,
    )
    from ..functions.text import tokenize_col

    target = encode_docs if encode_docs is not None else docs
    toks = target.select(
        id_col, F.explode(tokenize_col(F.col(text_col))).alias("w")
    )
    # the greedy runs over the DISTINCT words of the frame being
    # encoded (which may contain words — even characters — the
    # training vocab never saw)
    seg = toks.select("w").distinct().select(
        "w",
        F.element_at(fold, 2).alias("_ntok"),
        F.element_at(fold, 3).alias("_bad"),
    ).select(
        "w",
        F.when(F.col("_bad") == 1, F.lit(1)).otherwise(F.col("_ntok")).alias("_np"),
        F.col("_bad").alias("_unk"),
    )
    out = (
        toks.join(seg, "w")
        .groupBy(id_col)
        .agg(
            F.sum("_np").cast("long").alias("n_wordpiece_tokens"),
            F.sum("_unk").cast("long").alias("n_unk_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
        )
        .orderBy(id_col)
    )
    out.unpersist_base = lambda: words.unpersist(blocking=True)
    return out


def wordpiece_oracle_sql(
    rounds: int,
    rtokens: str,
    table: str = "documents",
    id_col: str = "doc_id",
    encode: bool = False,
) -> str:
    """DuckDB replay of :func:`wordpiece_merges` (and, with
    ``encode=True``, :func:`wordpiece_encode`): each training round
    unrolls into (pair-count, symbol-count, score-argmax, merge-fold)
    CTEs with the identical double-division score and lexicographic
    tie-break; the greedy longest-match encode replays as a recursive
    CTE whose candidate-length probe unrolls ``2^rounds`` static
    cases (>= the provable max piece consumption after ``rounds``
    merges, so the two greedies see identical match sets)."""
    parts = [
        f"WITH toks AS (SELECT unnest({rtokens}) AS w FROM {table}),",
        "wds AS (SELECT w, count(*) AS wc FROM toks GROUP BY w),",
        "s0 AS (SELECT w, wc, array_to_string(list_transform("
        "range(1, length(w) + 1), i -> CASE WHEN i = 1 THEN"
        " substr(w, CAST(i AS INT), 1) ELSE '##' ||"
        " substr(w, CAST(i AS INT), 1) END), chr(1)) AS syms FROM wds)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
p{r} AS MATERIALIZED (
  SELECT sp[i] AS p1, sp[i + 1] AS p2, sum(wc) AS cnt FROM (
    SELECT wc, string_split(syms, chr(1)) AS sp FROM s{r - 1}
  ), LATERAL unnest(generate_series(1, len(sp) - 1)) AS u{r}(i)
  GROUP BY 1, 2
),
c{r} AS MATERIALIZED (
  SELECT s, sum(wc) AS sc FROM (
    SELECT wc, unnest(string_split(syms, chr(1))) AS s FROM s{r - 1}
  ) GROUP BY 1
),
b{r} AS MATERIALIZED (
  SELECT {r} AS round, p1, p2, p1 || substr(p2, 3) AS merged,
         cnt, x1.sc AS c1, x2.sc AS c2
  FROM p{r} JOIN c{r} x1 ON p{r}.p1 = x1.s JOIN c{r} x2 ON p{r}.p2 = x2.s
  ORDER BY CAST(cnt AS DOUBLE) / CAST(x1.sc * x2.sc AS DOUBLE) DESC, p1, p2
  LIMIT 1
)"""
        )
        if r < rounds or encode:
            parts.append(
                f""",
s{r} AS MATERIALIZED (
  SELECT w, wc,
    list_reduce(string_split(syms, chr(1)), (acc, x) ->
      CASE WHEN (acc = b.p1 OR ends_with(acc, chr(1) || b.p1)) AND x = b.p2
           THEN substr(acc, 1, length(acc) - length(b.p1)) || b.merged
           ELSE acc || chr(1) || x END) AS syms
  FROM s{r - 1} CROSS JOIN b{r} b
)"""
            )
    if not encode:
        union = " UNION ALL ".join(
            f"SELECT * FROM b{r}" for r in range(1, rounds + 1)
        )
        parts.append(
            f"""
SELECT round, p1, p2, merged, CAST(cnt AS BIGINT) AS pair_count,
  CAST(c1 AS BIGINT) AS p1_count, CAST(c2 AS BIGINT) AS p2_count
FROM ({union}) ORDER BY round"""
        )
        return "".join(parts)

    bunion = " UNION ALL ".join(
        f"SELECT merged FROM b{r}" for r in range(1, rounds + 1)
    )
    J = 2 ** rounds
    ml_cases = " ".join(
        f"WHEN r.pos + {j} - 1 <= length(r.w) AND list_contains(vl.v,"
        f" CASE WHEN r.pos = 1 THEN substr(r.w, CAST(r.pos AS INT), {j})"
        f" ELSE '##' || substr(r.w, CAST(r.pos AS INT), {j}) END) THEN {j}"
        for j in range(J, 0, -1)
    )
    parts.append(
        f""",
enc AS (SELECT {id_col}, unnest({rtokens}) AS w FROM {table}),
encw AS (SELECT DISTINCT w FROM enc),
alpha AS (SELECT DISTINCT unnest(string_split(syms, chr(1))) AS piece FROM s0),
vocab AS (SELECT piece FROM alpha UNION SELECT merged AS piece FROM ({bunion})),
vl AS (SELECT list(piece) AS v FROM vocab),
g AS (
  WITH RECURSIVE r AS (
    SELECT encw.w AS w, CAST(1 AS BIGINT) AS pos,
           CAST(0 AS BIGINT) AS ntok, 0 AS bad
    FROM encw
    UNION ALL
    SELECT q.w,
      CASE WHEN q.ml = 0 THEN q.pos ELSE q.pos + q.ml END,
      CASE WHEN q.ml = 0 THEN q.ntok ELSE q.ntok + 1 END,
      CASE WHEN q.ml = 0 THEN 1 ELSE 0 END
    FROM (
      SELECT r.w AS w, r.pos AS pos, r.ntok AS ntok,
        CASE {ml_cases} ELSE 0 END AS ml
      FROM (SELECT * FROM r WHERE bad = 0 AND pos <= length(w)) r
      CROSS JOIN vl
    ) q
  )
  SELECT w,
    CASE WHEN bad = 1 THEN CAST(1 AS BIGINT) ELSE ntok END AS np,
    CAST(bad AS BIGINT) AS unk
  FROM r WHERE bad = 1 OR pos > length(w)
)
SELECT enc.{id_col},
  CAST(sum(g.np) AS BIGINT) AS n_wordpiece_tokens,
  CAST(sum(g.unk) AS BIGINT) AS n_unk_words,
  CAST(sum(length(enc.w)) AS BIGINT) AS n_chars
FROM enc JOIN g USING (w)
GROUP BY 1 ORDER BY 1"""
    )
    return "".join(parts)


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    top_k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Collocation mining by Dunning's log-likelihood ratio (G²)
    (Dunning 1993, "Accurate Methods for the Statistics of Surprise
    and Coincidence") — the standard significance test for "these two
    words co-occur more than chance" that, unlike raw PMI, does not
    explode on rare pairs: the 2×2 contingency test weights evidence
    by count, so ``(of, the)`` with thousands of occurrences and a
    hapax typo pair are ranked on the same scale. The classic corpus
    step before phrase merging ("new_york" becomes one token) in a
    tokenizer/embedding pipeline.

    Plan at 100 TB: per-row adjacent-bigram construction as array HOFs
    (zero shuffle; the token array is let-bound by walking a
    single-element array so tokenization runs once per row, the
    textrank_turns lesson), ONE corpus-scale (w1, w2) hash aggregate
    with map-side partials, and everything after runs on the
    bigram-TYPE frame (vocabulary-squared bounded, in practice far
    smaller): marginals are two aggregates over that frame joined back
    by equi-join (AQE broadcasts vocabulary-sized sides), the grand
    total is a 1-row broadcast. No row-keyed second shuffle, no cross
    join, nothing driver-side.

    Determinism: the contingency cells k11=c(w1,w2), k12=c1−k11,
    k21=c2−k11, k22=N−c1−c2+k11 are exact BIGINT sums; expecteds are
    computed in doubles with ONE fixed parenthesization
    (k·ln(k/((row·col)/N)), casts before multiply so c1·c2 cannot
    overflow long at web scale), the four terms add in fixed cell
    order, and 0·ln0 cells contribute exactly 0.0 — so the DuckDB
    replay is hash-exact. Output is the top_k pairs by rounded G²
    (desc, then w1, w2 — a total order, so both engines cut the same
    set).
    """
    from ..functions.text import tokenize_col

    # let-bind the token array: transform()'s lambda variable cannot
    # be re-inlined by CollapseProject, so tokenize runs once per row
    # even though both slice() calls read it
    bigrams = F.element_at(
        F.transform(
            F.array(tokenize_col(F.col(text_col))),
            lambda t: F.zip_with(
                F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
        ),
        1,
    )
    bg = (
        docs.select(F.explode(bigrams).alias("_bg"))
        .select(F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        # four consumers below (marginals ×2, total, candidates) —
        # compute the corpus-scale aggregate once
        .persist()
    )
    c1 = bg.groupBy("w1").agg(F.sum("pair_count").alias("c1"))
    c2 = bg.groupBy("w2").agg(F.sum("pair_count").alias("c2"))
    n = bg.agg(F.sum("pair_count").alias("n_bigrams"))

    cand = (
        bg.filter(F.col("pair_count") >= min_count)
        .join(c1, "w1")
        .join(c2, "w2")
        .join(F.broadcast(n))
    )

    nd = F.col("n_bigrams").cast("double")

    def _term(k: Column, row: Column, col: Column) -> Column:
        kd = k.cast("double")
        e = (row.cast("double") * col.cast("double")) / nd
        return F.when(k > 0, kd * F.log(kd / e)).otherwise(F.lit(0.0))

    k11 = F.col("pair_count")
    k12 = F.col("c1") - k11
    k21 = F.col("c2") - k11
    k22 = F.col("n_bigrams") - F.col("c1") - F.col("c2") + k11
    row1, row2 = F.col("c1"), F.col("n_bigrams") - F.col("c1")
    col1, col2 = F.col("c2"), F.col("n_bigrams") - F.col("c2")
    g2 = F.round(
        2.0
        * (
            _term(k11, row1, col1)
            + _term(k12, row1, col2)
            + _term(k21, row2, col1)
            + _term(k22, row2, col2)
        ),
        6,
    )
    out = (
        cand.select("w1", "w2", "pair_count", "c1", "c2", g2.alias("g2"))
        .orderBy(F.desc("g2"), "w1", "w2")
        .limit(top_k)
    )
    out.unpersist_base = lambda: bg.unpersist(blocking=True)
    return out


def logreg_train(
    feats: DataFrame,
    feature_cols: Sequence[str],
    label_col: str = "y",
    iterations: int = 15,
    lr: float = 0.5,
    feat_scale: float = 100.0,
    quant: int = 10**9,
) -> DataFrame:
    """In-engine TRAINED binary quality classifier: logistic
    regression by full-batch gradient descent — the learnable
    complement to :func:`nb_classifier` (whose closed-form counts
    cannot weigh correlated real-valued signals against each other).
    The fasttext-linear-classifier class of data-curation filters
    (CCNet / GPT-3 quality scoring), trained entirely inside the
    engine: no sampling, no RNG, no sklearn.

    Determinism is the kmeans integer-moment discipline extended to
    SGD-free GD: ``feats`` carries INTEGER feature columns (counts)
    and an INTEGER 0/1 label; each iteration computes the per-row
    gradient contribution ``(sigmoid(w·x) − y) · x_j`` as a DOUBLE but
    QUANTIZES it to integer micro-units (``round(g · quant)`` →
    BIGINT) before the corpus sum, so the reduction is a sum of longs
    — partition-order independent, bit-reproducible, and replayable
    verbatim by the DuckDB oracle's unrolled per-iteration CTEs. The
    weight update ``w_j −= lr · S_j / (N · quant)`` then happens in
    exact agreement on both sides because every operand is the same
    IEEE double.

    Scale shape: ONE hash aggregate per iteration (d+1 long sums,
    map-side partials) over the persisted feature frame; the driver
    holds only the (d+1)-float weight vector between rounds (the
    kmeans-codebook bounded-materialization class). Long-sum headroom:
    |contribution| <= max_count/feat_scale · quant per row, so with
    the defaults a single training run supports ~1e8 rows per unit of
    max feature value — lower ``quant`` for larger corpora (documented
    bound, checked nowhere: counts are data).

    Returns a (d+1)-row frame ``(feature, weight)``, weights rounded
    to 6 (Spark HALF_UP == DuckDB round — not Python's half-even).
    """
    w = logreg_fit(
        feats, feature_cols, label_col, iterations, lr, feat_scale, quant
    )
    d = len(feature_cols)
    rows = [("intercept", w[0])] + [
        (feature_cols[j], w[j + 1]) for j in range(d)
    ]
    out = feats.sparkSession.createDataFrame(rows, "feature string, weight double")
    return out.select("feature", F.round("weight", 6).alias("weight"))


def logreg_fit(
    feats: DataFrame,
    feature_cols: Sequence[str],
    label_col: str = "y",
    iterations: int = 15,
    lr: float = 0.5,
    feat_scale: float = 100.0,
    quant: int = 10**9,
) -> "list[float]":
    """The GD loop behind :func:`logreg_train`, returning the RAW
    (unrounded) weight vector [intercept, w_1..w_d] — what
    classifier-eval scoring needs, since the DuckDB replay's final
    weights CTE is unrounded too.

    Fixed-small-rounds contract (the iterative-op discipline shared by
    pagerank/eigencentrality/kmeans/pca_power): ``iterations`` is a
    FIXED bounded constant, each round is ONE full-scan aggregate of
    d+1 quantized BIGINT sums, and the only driver state is the
    (d+1)-float weight vector — so cost is iterations × one
    map-side-combined scan job, independent of row count in driver
    memory and linear in data. Standard for distributed GD; at 100 TB
    the knob to turn is iterations (or mini-batch sampling), never the
    per-round shape."""
    if iterations < 1:
        raise ValueError("logreg_train: iterations must be >= 1")
    if not feature_cols:
        raise ValueError("logreg_train: need at least one feature column")
    base = feats.select(
        F.col(label_col).cast("int").alias("_y"),
        *[F.col(c).cast("long").alias(f"_x{j}") for j, c in enumerate(feature_cols)],
    ).persist()
    n = base.count()
    if n == 0:
        base.unpersist()
        raise ValueError("logreg_train: empty training frame")
    d = len(feature_cols)
    w = [0.0] * (d + 1)  # w[0] = intercept
    qf = float(quant)
    for _ in range(int(iterations)):
        z: Column = F.lit(w[0])
        for j in range(d):
            z = z + F.lit(w[j + 1]) * (
                F.col(f"_x{j}").cast("double") / F.lit(float(feat_scale))
            )
        sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        resid = sig - F.col("_y").cast("double")
        aggs = [
            F.sum(F.round(resid * F.lit(qf), 0).cast("long")).alias("q0")
        ]
        for j in range(d):
            fj = F.col(f"_x{j}").cast("double") / F.lit(float(feat_scale))
            aggs.append(
                F.sum(F.round((resid * fj) * F.lit(qf), 0).cast("long")).alias(
                    f"q{j + 1}"
                )
            )
        sums = base.agg(*aggs).collect()[0]
        for j in range(d + 1):
            w[j] = w[j] - float(lr) * (sums[j] / (n * qf))
    base.unpersist(blocking=True)
    return w


def logreg_ctes(
    feats_sql: str,
    n_features: int,
    iterations: int = 15,
    lr: float = 0.5,
    feat_scale: float = 100.0,
    quant: int = 10**9,
) -> "tuple[str, str]":
    """The unrolled GD iteration CTE chain shared by
    :func:`logreg_oracle_sql` (weights output) and the classifier-eval
    oracle (which scores with the final weights). Returns
    (comma-joined CTE definitions WITHOUT the leading WITH, name of
    the final weights CTE)."""
    d = int(n_features)
    qf = repr(float(quant))
    fs = repr(float(feat_scale))
    lrs = repr(float(lr))
    parts = [f"feats AS MATERIALIZED ({feats_sql})"]
    parts.append(
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM feats)"
    )
    parts.append(
        "w_0 AS MATERIALIZED (SELECT "
        + ", ".join(f"CAST(0.0 AS DOUBLE) AS w{j}" for j in range(d + 1))
        + ")"
    )
    for t in range(1, int(iterations) + 1):
        prev = f"w_{t - 1}"
        z = logreg_z_sql(prev, d, feat_scale)
        qs = [f"CAST(round(resid * {qf}, 0) AS BIGINT) AS q0"]
        for j in range(d):
            qs.append(
                f"CAST(round((resid * (CAST(x{j} AS DOUBLE) / {fs})) * {qf}, 0)"
                f" AS BIGINT) AS q{j + 1}"
            )
        xs = ", ".join(f"x{j}" for j in range(d))
        ws = [
            f"(SELECT w{j} FROM {prev}) - {lrs} * (CAST(sum(q{j}) AS DOUBLE)"
            f" / ((SELECT n FROM nn) * {qf})) AS w{j}"
            for j in range(d + 1)
        ]
        parts.append(
            f"w_{t} AS MATERIALIZED (\n"
            f"  SELECT {', '.join(ws)}\n"
            f"  FROM (\n"
            f"    SELECT {', '.join(qs)}\n"
            f"    FROM (\n"
            f"      SELECT {xs},\n"
            f"        (1.0 / (1.0 + exp(-({z})))) - CAST(y AS DOUBLE) AS resid\n"
            f"      FROM feats)))"
        )
    return ",\n".join(parts), f"w_{int(iterations)}"


def logreg_z_sql(weights_cte: str, n_features: int, feat_scale: float) -> str:
    """The left-associated dot-product chain
    ``((w0 + w1·f1) + w2·f2) + …`` with weights read from a 1-row CTE
    — the exact parenthesization :func:`logreg_train` folds into its
    literal Spark expression."""
    fs = repr(float(feat_scale))
    z = f"(SELECT w0 FROM {weights_cte})"
    for j in range(int(n_features)):
        z = (
            f"({z} + (SELECT w{j + 1} FROM {weights_cte})"
            f" * (CAST(x{j} AS DOUBLE) / {fs}))"
        )
    return z


def logreg_oracle_sql(
    feats_sql: str,
    feature_names: Sequence[str],
    iterations: int = 15,
    lr: float = 0.5,
    feat_scale: float = 100.0,
    quant: int = 10**9,
) -> str:
    """DuckDB replay of :func:`logreg_train`: one MATERIALIZED CTE per
    GD iteration (the kmeans/pagerank unrolled discipline), weights
    threaded as scalar subqueries, the identical left-associated
    ``((w0 + w1·f1) + w2·f2) + …`` dot-product chain, the identical
    ``round(resid·f·quant)``→BIGINT quantization, the identical
    update arithmetic — every float op matches the Spark side's
    literal-folded expression bit-for-bit because its operands are
    bit-identical."""
    body, last = logreg_ctes(
        feats_sql, len(feature_names), iterations, lr, feat_scale, quant
    )
    sel = [
        f"SELECT 'intercept' AS feature, round((SELECT w0 FROM {last}), 6) AS weight"
    ]
    for j, name in enumerate(feature_names):
        sel.append(
            f"SELECT '{name}', round((SELECT w{j + 1} FROM {last}), 6)"
        )
    union = "\nUNION ALL ".join(sel)
    return f"WITH {body}\nSELECT * FROM (\n{union}\n) ORDER BY feature"


def classifier_eval(
    scored: DataFrame,
    label_col: str = "y",
    score_col: str = "s",
    pred_col: str = "pred",
) -> DataFrame:
    """Binary-classifier evaluation over a scored frame → ONE row
    ``(n, n_pos, n_neg, tp, fp, tn, fn, accuracy, auc)`` — the
    train→calibrate→EVALUATE closer for the in-engine classifiers
    (:func:`logreg_train`, :func:`nb_classifier`).

    AUC is the exact Mann-Whitney rank statistic WITH tie credit,
    computed entirely in integers: scores group to distinct values
    (one hash aggregate), a cumulative count over the score order
    gives each group's [min_rank, max_rank], every member of a tied
    group takes the average rank — so ``2·Σ_pos ranks =
    Σ_g pos_g·(min+max)`` stays an exact long — and
    ``AUC = (2Σ − n_pos(n_pos+1)) / (2·n_pos·n_neg)`` is ONE double
    division of exact integers. Degenerate single-class inputs return
    NULL auc rather than a 0/0.

    Scale note: the rank pass is a window over the DISTINCT-score
    frame in one total order — a rank statistic is inherently a
    global order; at extreme cardinality, bucket scores first (the
    hist_quantiles discipline) and accept binned AUC. Confusion
    counts are one map-side-partial aggregate over the full frame.
    """
    y = F.col(label_col).cast("long")
    p = F.col(pred_col).cast("long")
    conf = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("n_pos"),
        F.sum(p * y).cast("long").alias("tp"),
        F.sum(p * (1 - y)).cast("long").alias("fp"),
        F.sum((1 - p) * (1 - y)).cast("long").alias("tn"),
        F.sum((1 - p) * y).cast("long").alias("fn"),
    )
    groups = scored.groupBy(F.col(score_col).alias("_s")).agg(
        F.count(F.lit(1)).cast("long").alias("_cnt"),
        F.sum(y).cast("long").alias("_pos"),
    )
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, 0)
    ranked = groups.select(
        "_pos",
        "_cnt",
        F.sum("_cnt").over(w).cast("long").alias("_cum"),
    )
    rstat = ranked.agg(
        F.sum(
            F.col("_pos") * ((F.col("_cum") - F.col("_cnt") + 1) + F.col("_cum"))
        )
        .cast("long")
        .alias("_two_sum")
    )
    joined = conf.join(rstat)
    n_neg = F.col("n") - F.col("n_pos")
    auc = F.when(
        (F.col("n_pos") >= 1) & (n_neg >= 1),
        F.round(
            (
                F.col("_two_sum") - F.col("n_pos") * (F.col("n_pos") + 1)
            ).cast("double")
            / (F.lit(2) * F.col("n_pos") * n_neg).cast("double"),
            6,
        ),
    )
    return joined.select(
        "n",
        "n_pos",
        n_neg.cast("long").alias("n_neg"),
        "tp",
        "fp",
        "tn",
        "fn",
        F.round(
            (F.col("tp") + F.col("tn")).cast("double") / F.col("n").cast("double"),
            6,
        ).alias("accuracy"),
        auc.alias("auc"),
    )


def classifier_eval_sql(scored_sql: str) -> str:
    """DuckDB replay of :func:`classifier_eval`. ``scored_sql`` must
    select (y, s, pred). Same distinct-score grouping, cumulative
    min/max rank arithmetic, and single-division metrics; DuckDB's
    HUGEINT sums cast back to BIGINT before any arithmetic that must
    match Spark's long math."""
    return f"""
escored AS ({scored_sql}),
econf AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS n_pos,
    CAST(sum(pred * y) AS BIGINT) AS tp,
    CAST(sum(pred * (1 - y)) AS BIGINT) AS fp,
    CAST(sum((1 - pred) * (1 - y)) AS BIGINT) AS tn,
    CAST(sum((1 - pred) * y) AS BIGINT) AS fn
  FROM escored
),
egroups AS (
  SELECT s, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos
  FROM escored GROUP BY s
),
eranked AS (
  SELECT pos, cnt,
    CAST(sum(cnt) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM egroups
),
erstat AS (
  SELECT CAST(sum(pos * ((cum - cnt + 1) + cum)) AS BIGINT) AS two_sum FROM eranked
)
SELECT n, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg, tp, fp, tn, fn,
  round(CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy,
  CASE WHEN n_pos >= 1 AND n - n_pos >= 1
       THEN round(CAST(two_sum - n_pos * (n_pos + 1) AS DOUBLE)
                  / CAST(2 * n_pos * (n - n_pos) AS DOUBLE), 6)
  END AS auc
FROM econf, erstat
"""


def calibration_bins(
    scored: DataFrame,
    n_bins: int = 10,
    label_col: str = "y",
    prob_col: str = "p",
    quant: int = 10**6,
    ece_quant: int = 10**9,
) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE, Naeini
    et al. AAAI 2015) over a probability-scored frame — the
    calibration companion to :func:`classifier_eval`'s
    discrimination metrics: AUC says the ranking is right, the
    reliability curve says whether "0.9" actually means 90%.

    ``scored`` must carry a label column and a probability column in
    [0, 1]. Probabilities bin to ``floor(p * n_bins)`` (capped at the
    top bin so p=1.0 lands in it); per bin, accuracy is the positive
    fraction and confidence the mean probability.

    Determinism discipline: per-row probabilities QUANTIZE to
    ``round(p * quant)`` BIGINT before the bin sum, and each bin's
    ECE contribution ``|acc - conf| * n_b`` quantizes to
    ``round(... * ece_quant)`` BIGINT before the cross-bin sum — both
    reductions are partition-order-independent sums of longs (the
    kmeans/logreg integer-moment discipline), so every output double
    is one fixed-shape division of exact integers and the DuckDB
    replay is hash-exact.

    Scale shape: ONE map-side-partial hash aggregate to ``n_bins``
    rows; the ECE window runs over that bounded frame only.

    Output: one row per non-empty bin —
    ``(bin, n, n_pos, confidence, accuracy, gap, ece)`` (``ece`` is
    the same scalar on every row, reported alongside for one-frame
    reads; doubles rounded to 6).
    """
    if int(n_bins) < 1:
        raise ValueError("calibration_bins: n_bins must be >= 1")
    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("long")
    qf = float(quant)
    eq = float(ece_quant)
    binc = F.least(
        F.floor(p * F.lit(float(n_bins))).cast("int"), F.lit(int(n_bins) - 1)
    )
    grp = scored.groupBy(binc.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("n_pos"),
        F.sum(F.round(p * F.lit(qf), 0).cast("long")).cast("long").alias("_cq"),
    )
    nd = F.col("n").cast("double")
    conf = F.col("_cq").cast("double") / (nd * F.lit(qf))
    acc = F.col("n_pos").cast("double") / nd
    gap = F.abs(acc - conf)
    contrib = F.round((gap * nd) * F.lit(eq), 0).cast("long")
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = grp.select(
        "bin",
        "n",
        "n_pos",
        conf.alias("_conf"),
        acc.alias("_acc"),
        gap.alias("_gap"),
        F.sum(contrib).over(w_all).cast("long").alias("_tc"),
        F.sum("n").over(w_all).cast("long").alias("_tn"),
    )
    return staged.select(
        "bin",
        "n",
        "n_pos",
        F.round(F.col("_conf"), 6).alias("confidence"),
        F.round(F.col("_acc"), 6).alias("accuracy"),
        F.round(F.col("_gap"), 6).alias("gap"),
        F.round(
            F.col("_tc").cast("double")
            / (F.lit(eq) * F.col("_tn").cast("double")),
            6,
        ).alias("ece"),
    ).orderBy("bin")


def calibration_bins_sql(
    scored_sql: str,
    n_bins: int = 10,
    quant: int = 10**6,
    ece_quant: int = 10**9,
) -> str:
    """DuckDB replay of :func:`calibration_bins`. ``scored_sql`` must
    select ``(y, p)``. Same quantized BIGINT reductions, same
    fixed-shape divisions."""
    qf = repr(float(quant))
    eq = repr(float(ece_quant))
    nb = repr(float(n_bins))
    return f"""
cscored AS ({scored_sql}),
cgrp AS (
  SELECT least(CAST(floor(p * CAST({nb} AS DOUBLE)) AS INT), {int(n_bins) - 1}) AS bin,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS n_pos,
    CAST(sum(CAST(round(p * {qf}, 0) AS BIGINT)) AS BIGINT) AS cq
  FROM cscored GROUP BY 1
),
cstaged AS (
  SELECT bin, n, n_pos,
    CAST(cq AS DOUBLE) / (CAST(n AS DOUBLE) * {qf}) AS conf,
    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
    abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
        - CAST(cq AS DOUBLE) / (CAST(n AS DOUBLE) * {qf})) AS gap,
    CAST(sum(CAST(round((abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
        - CAST(cq AS DOUBLE) / (CAST(n AS DOUBLE) * {qf}))
        * CAST(n AS DOUBLE)) * {eq}, 0) AS BIGINT)) OVER () AS BIGINT) AS tc,
    CAST(sum(n) OVER () AS BIGINT) AS tn
  FROM cgrp
)
SELECT bin, n, n_pos, round(conf, 6) AS confidence, round(acc, 6) AS accuracy,
  round(gap, 6) AS gap,
  round(CAST(tc AS DOUBLE) / ({eq} * CAST(tn AS DOUBLE)), 6) AS ece
FROM cstaged
"""


def zipf_fit(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 500,
    quant: int = 10**6,
) -> DataFrame:
    """Zipf power-law fit over the token frequency head — the
    corpus-statistics signature check (Zipf 1949): natural language
    shows ln(freq) ≈ a + s·ln(rank) with slope s near −1; template
    spam, keyword stuffing and synthetic text bend or flatten the
    line, so (slope, r²) is a cheap whole-corpus quality fingerprint
    alongside per-doc gopher_quality gates.

    Shape: one corpus-scale token hash aggregate (map-side partials)
    → a bounded TakeOrdered head of ``top_n`` types (the fit uses the
    head only — standard practice, and it keeps everything after the
    vocab aggregate driver-bounded) → one window + one 1-row reduce
    over that bounded frame.

    Exactness: ln(rank)/ln(freq) quantize to BIGINT micro-units
    before the OLS moment sums (partition-order-independent longs;
    ln is IEEE-deterministic on identical inputs — the collocations
    precedent), and slope/intercept/r² are fixed-parenthesization
    combinations of those exact integers.

    Output: one row ``(n_types, slope, intercept, r2)`` — intercept
    in ln-frequency units at ln(rank)=0, doubles rounded to 6.
    """
    if int(top_n) < 3:
        raise ValueError("zipf_fit: top_n must be >= 3")
    qf = float(quant)
    toks = F.explode(F.split(F.col(text_col), " ")).alias("_t")
    vocab = (
        docs.select(toks)
        .filter(F.col("_t") != "")
        .groupBy("_t")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    head = vocab.orderBy(F.desc("_c"), "_t").limit(int(top_n))
    w = Window.orderBy(F.desc("_c"), "_t")
    ranked = head.select(
        "_c", F.row_number().over(w).cast("long").alias("_r")
    )
    qx = F.round(F.log(F.col("_r").cast("double")) * F.lit(qf), 0).cast("long")
    qy = F.round(F.log(F.col("_c").cast("double")) * F.lit(qf), 0).cast("long")
    red = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(qx).cast("long").alias("_sx"),
        F.sum(qy).cast("long").alias("_sy"),
        F.sum(qx * qx).cast("long").alias("_sxx"),
        F.sum(qy * qy).cast("long").alias("_syy"),
        F.sum(qx * qy).cast("long").alias("_sxy"),
    )
    nd = F.col("n_types").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    dx = nd * sxx - sx * sx
    dy = nd * syy - sy * sy
    cov = nd * sxy - sx * sy
    slope = cov / dx
    inter = ((sy - (cov / dx) * sx) / nd) / F.lit(qf)
    r2 = (cov * cov) / (dx * dy)
    ok = (F.col("n_types") >= 3) & (dx > 0.0)
    return red.select(
        "n_types",
        F.round(F.when(ok, slope), 6).alias("slope"),
        F.round(F.when(ok, inter), 6).alias("intercept"),
        F.round(F.when(ok & (dy > 0.0), r2), 6).alias("r2"),
    )


def zipf_fit_sql(
    table: str = "documents",
    text_col: str = "text",
    top_n: int = 500,
    quant: int = 10**6,
) -> str:
    """DuckDB replay of :func:`zipf_fit` — same head cut, same
    quantized ln moments, same fixed parenthesization."""
    qf = repr(float(quant))
    return f"""
zvocab AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(string_split({text_col}, ' ')) AS t FROM {table}
  ) WHERE t <> '' GROUP BY t
),
zhead AS (SELECT * FROM zvocab ORDER BY c DESC, t LIMIT {int(top_n)}),
zranked AS (
  SELECT c, CAST(row_number() OVER (ORDER BY c DESC, t) AS BIGINT) AS r
  FROM zhead
),
zq AS (
  SELECT CAST(round(ln(CAST(r AS DOUBLE)) * {qf}, 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(c AS DOUBLE)) * {qf}, 0) AS BIGINT) AS y
  FROM zranked
),
zred AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
    CAST(sum(x * y) AS BIGINT) AS sxy
  FROM zq
)
SELECT n_types,
  round(CASE WHEN n_types >= 3 AND CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
    THEN (CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END, 6) AS slope,
  round(CASE WHEN n_types >= 3 AND CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
    THEN ((CAST(sy AS DOUBLE) - ((CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
          / CAST(n_types AS DOUBLE)) / {qf} END, 6) AS intercept,
  round(CASE WHEN n_types >= 3 AND CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
         AND CAST(n_types AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
    THEN ((CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          * (CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
         / ((CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (CAST(n_types AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END, 6) AS r2
FROM zred
"""


def vocab_coverage(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Good-Turing unseen-mass + Chao1 richness estimate over the
    token vocabulary — the capture-recapture answer to "how much of
    the language have we actually seen?": the Good-Turing estimator
    (Good 1953) says the probability the NEXT token is a never-seen
    type is ≈ singletons/N, and Chao1 (Chao 1984, bias-corrected)
    extrapolates the total vocabulary from the singleton/doubleton
    ratio. The pair drives "is more crawling worth it" calls and
    flags synthetic corpora (template text has almost no singleton
    tail, organic text keeps unseen_mass stubbornly high).

    Shape: one corpus-scale token hash aggregate (map-side partials)
    → one 1-row reduce over the vocab frame. All counts are BIGINT;
    the two estimates are single fixed divisions of exact integers
    (the bias-corrected Chao1 ``V + n1(n1−1)/(2(n2+1))`` is defined
    even with zero doubletons).

    Output: one row ``(n_tokens, vocab_size, singletons, doubletons,
    unseen_mass, chao1)``.
    """
    toks = F.explode(F.split(F.col(text_col), " ")).alias("_t")
    vocab = (
        docs.select(toks)
        .filter(F.col("_t") != "")
        .groupBy("_t")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    red = vocab.agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum((F.col("_c") == 1).cast("long")).cast("long").alias("singletons"),
        F.sum((F.col("_c") == 2).cast("long")).cast("long").alias("doubletons"),
    )
    n1 = F.col("singletons")
    n2 = F.col("doubletons")
    unseen = F.when(
        F.col("n_tokens") >= 1,
        n1.cast("double") / F.col("n_tokens").cast("double"),
    )
    chao1 = F.col("vocab_size").cast("double") + (n1 * (n1 - 1)).cast(
        "double"
    ) / (F.lit(2.0) * (n2 + 1).cast("double"))
    return red.select(
        "n_tokens",
        "vocab_size",
        "singletons",
        "doubletons",
        F.round(unseen, 6).alias("unseen_mass"),
        F.round(chao1, 6).alias("chao1"),
    )


def vocab_coverage_sql(table: str = "documents", text_col: str = "text") -> str:
    """DuckDB replay of :func:`vocab_coverage`."""
    return f"""
vcvocab AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(string_split({text_col}, ' ')) AS t FROM {table}
  ) WHERE t <> '' GROUP BY t
),
vcred AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
    CAST(count(*) AS BIGINT) AS vocab_size,
    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singletons,
    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS doubletons
  FROM vcvocab
)
SELECT n_tokens, vocab_size, singletons, doubletons,
  round(CASE WHEN n_tokens >= 1
    THEN CAST(singletons AS DOUBLE) / CAST(n_tokens AS DOUBLE) END, 6) AS unseen_mass,
  round(CAST(vocab_size AS DOUBLE)
        + CAST(singletons * (singletons - 1) AS DOUBLE)
          / (2.0 * CAST(doubletons + 1 AS DOUBLE)), 6) AS chao1
FROM vcred
"""


def readability(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade (Flesch 1948,
    Kincaid 1975) per document with a deterministic vowel-group
    syllable heuristic — the curation axis the length/punct ratios
    (gopher_quality) miss: two documents with identical token counts
    can sit 40 Flesch points apart, and a pretraining mix wants that
    dial (filter unreadable boilerplate, stratify by grade level).

    Heuristic conventions (pinned by tests, shared verbatim by the
    oracle): words = nonempty ``\\s+`` splits of the lowercased
    text; syllables per word = max(1, count of ``[aeiouy]+`` runs)
    (the floor makes vowel-less tokens — numbers, 'hmm' — count 1);
    sentences = max(1, count of ``[.!?]+`` runs). Then
    ``flesch = 206.835 − 1.015·(W/S) − 84.6·(Y/W)`` and
    ``fk_grade = 0.39·(W/S) + 11.8·(Y/W) − 15.59`` as fixed
    parenthesizations of exact-integer-derived doubles, rounded 6;
    NULL for word-less documents.

    Engine shape: pure JVM array/regex expressions in one projection
    — no Python, no shuffle, whole-stage codegen; scales as a map.
    """
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != ""
    )
    syl_of = lambda w: F.greatest(  # noqa: E731
        F.lit(1), F.size(F.regexp_extract_all(w, F.lit(r"[aeiouy]+"), F.lit(0)))
    )
    n_words = F.size(words).cast("long")
    n_syll = F.aggregate(
        F.transform(words, syl_of), F.lit(0).cast("long"), lambda a, x: a + x
    )
    n_sent = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[.!?]+"), F.lit(0))),
    ).cast("long")
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = n_syll.cast("double") / n_words.cast("double")
    flesch = (
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    )
    fk = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    ok = n_words >= 1
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        F.when(ok, n_syll).otherwise(F.lit(0)).cast("long").alias("n_syllables"),
        F.round(F.when(ok, flesch), 6).alias("flesch"),
        F.round(F.when(ok, fk), 6).alias("fk_grade"),
    ).orderBy(id_col)


def readability_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB replay of :func:`readability` — same split/regex
    conventions, same fixed-order double algebra."""
    return f"""rwords AS (
  SELECT {id_col},
    list_filter(string_split_regex(lower({text_col}), '\\s+'),
                w -> w <> '') AS ws,
    CAST(greatest(1, len(regexp_extract_all({text_col}, '[.!?]+'))) AS BIGINT)
      AS n_sentences
  FROM {table}
),
rsyl AS (
  SELECT {id_col}, CAST(len(ws) AS BIGINT) AS n_words, n_sentences,
    CAST(coalesce(list_sum(list_transform(ws,
      w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))), 0) AS BIGINT)
      AS n_syllables
  FROM rwords
)
SELECT {id_col}, n_words, n_sentences, n_syllables,
  round(CASE WHEN n_words >= 1 THEN
    206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
            - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
  END, 6) AS flesch,
  round(CASE WHEN n_words >= 1 THEN
    0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) - 15.59
  END, 6) AS fk_grade
FROM rsyl"""


def distinctive_terms(
    turns: DataFrame,
    group_col: str = "role",
    group_a: str = "user",
    group_b: str = "assistant",
    text_col: str = "text",
    a0: float = 100.0,
    min_count: int = 5,
    k: int = 25,
) -> DataFrame:
    """Weighted log-odds with an informative Dirichlet prior (Monroe,
    Colaresi & Quinn 2008, "Fightin' Words") — WHICH words make group
    A sound like A and B like B, with the two failure modes of naive
    contrasts fixed: raw count ratios crown rare words (one use vs
    zero is an infinite ratio), and tf-idf ignores variance. The
    pooled-prior log-odds delta is shrunk exactly where evidence is
    thin (α_w ∝ pooled frequency) and z-scored by its estimated
    variance ``1/(y_aw+α_w) + 1/(y_bw+α_w)``, so a term needs both a
    usage skew AND the volume to back it. Safety reading: run it
    label-vs-clean and the flagged cohort's vocabulary falls out —
    the template words of an automation campaign.

    Terms are lowercase ``[a-z]+`` runs (engine-identical in Java
    regex and RE2). Per-term counts are exact BIGINTs from ONE
    term-keyed hash aggregate (map-side partials; the explode is the
    only fan-out and scales as a map). δ and z are fixed
    parenthesizations over those integers; round(…,6) absorbs the
    JVM-vs-libm ln 1-ulp gap. Output: the top ``k`` A-distinctive
    (side='a', z desc) and top ``k`` B-distinctive (side='b', z asc)
    terms among those with pooled count ≥ ``min_count`` — two
    bounded TakeOrdereds, never a full sort.

    Columns: ``(side, term, y_a, y_b, delta, z)``.
    """
    if float(a0) <= 0:
        raise ValueError("distinctive_terms: a0 must be > 0")
    if int(k) < 1:
        raise ValueError("distinctive_terms: k must be >= 1")
    g = F.col(group_col)
    toks = turns.filter(g.isin([group_a, group_b])).select(
        (g == group_a).cast("int").alias("_ga"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0))
        ).alias("_t"),
    )
    per = toks.groupBy("_t").agg(
        F.sum("_ga").cast("long").alias("y_a"),
        F.sum(F.lit(1) - F.col("_ga")).cast("long").alias("y_b"),
    )
    tot = per.agg(
        F.sum("y_a").cast("long").alias("_na"),
        F.sum("y_b").cast("long").alias("_nb"),
    )
    j = per.filter((F.col("y_a") + F.col("y_b")) >= int(min_count)).join(
        F.broadcast(tot)
    )
    n = (F.col("_na") + F.col("_nb")).cast("double")
    alpha_w = (
        (F.col("y_a") + F.col("y_b")).cast("double") * F.lit(float(a0)) / n
    )
    la = F.log(
        (F.col("y_a").cast("double") + alpha_w)
        / (F.col("_na").cast("double") + F.lit(float(a0)) - F.col("y_a").cast("double") - alpha_w)
    )
    lb = F.log(
        (F.col("y_b").cast("double") + alpha_w)
        / (F.col("_nb").cast("double") + F.lit(float(a0)) - F.col("y_b").cast("double") - alpha_w)
    )
    delta = la - lb
    var = F.lit(1.0) / (F.col("y_a").cast("double") + alpha_w) + F.lit(1.0) / (
        F.col("y_b").cast("double") + alpha_w
    )
    scored = j.select(
        F.col("_t").alias("term"),
        "y_a",
        "y_b",
        F.round(delta, 6).alias("delta"),
        F.round(delta / F.sqrt(var), 6).alias("z"),
    )
    top_a = scored.orderBy(F.desc("z"), "term").limit(int(k)).select(
        F.lit("a").alias("side"), "term", "y_a", "y_b", "delta", "z"
    )
    top_b = scored.orderBy(F.asc("z"), "term").limit(int(k)).select(
        F.lit("b").alias("side"), "term", "y_a", "y_b", "delta", "z"
    )
    return top_a.unionByName(top_b)


def distinctive_terms_sql(
    table: str,
    group_col: str = "role",
    group_a: str = "user",
    group_b: str = "assistant",
    text_col: str = "text",
    a0: float = 100.0,
    min_count: int = 5,
    k: int = 25,
) -> str:
    """DuckDB replay of :func:`distinctive_terms` — same counts, same
    fixed-order double algebra, same two bounded top-k arms."""
    a0r = repr(float(a0))
    return f"""dtoks AS (
  SELECT CAST({group_col} = '{group_a}' AS INT) AS ga, t.t AS t
  FROM {table},
    unnest(regexp_extract_all(lower({text_col}), '[a-z]+')) AS t(t)
  WHERE {group_col} IN ('{group_a}', '{group_b}')
),
dper AS (
  SELECT t, CAST(sum(ga) AS BIGINT) AS y_a,
    CAST(sum(1 - ga) AS BIGINT) AS y_b
  FROM dtoks GROUP BY t
),
dtot AS (
  SELECT CAST(sum(y_a) AS BIGINT) AS na, CAST(sum(y_b) AS BIGINT) AS nb
  FROM dper
),
dscored AS (
  SELECT t AS term, y_a, y_b,
    round(
      ln((CAST(y_a AS DOUBLE) + CAST(y_a + y_b AS DOUBLE) * {a0r} / CAST(na + nb AS DOUBLE))
         / (CAST(na AS DOUBLE) + {a0r} - CAST(y_a AS DOUBLE)
            - CAST(y_a + y_b AS DOUBLE) * {a0r} / CAST(na + nb AS DOUBLE)))
      - ln((CAST(y_b AS DOUBLE) + CAST(y_a + y_b AS DOUBLE) * {a0r} / CAST(na + nb AS DOUBLE))
           / (CAST(nb AS DOUBLE) + {a0r} - CAST(y_b AS DOUBLE)
              - CAST(y_a + y_b AS DOUBLE) * {a0r} / CAST(na + nb AS DOUBLE))), 6) AS delta,
    round(
      (ln((CAST(y_a AS DOUBLE) + CAST(y_a + y_b AS DOUBLE) * {a0r} / CAST(na + nb AS DOUBLE))
          / (CAST(na AS DOUBLE) + {a0r} - CAST(y_a AS DOUBLE)
             - CAST(y_a + y_b AS DOUBLE) * {a0r} / CAST(na + nb AS DOUBLE)))
       - ln((CAST(y_b AS DOUBLE) + CAST(y_a + y_b AS DOUBLE) * {a0r} / CAST(na + nb AS DOUBLE))
            / (CAST(nb AS DOUBLE) + {a0r} - CAST(y_b AS DOUBLE)
               - CAST(y_a + y_b AS DOUBLE) * {a0r} / CAST(na + nb AS DOUBLE))))
      / sqrt(1.0 / (CAST(y_a AS DOUBLE) + CAST(y_a + y_b AS DOUBLE) * {a0r} / CAST(na + nb AS DOUBLE))
             + 1.0 / (CAST(y_b AS DOUBLE) + CAST(y_a + y_b AS DOUBLE) * {a0r} / CAST(na + nb AS DOUBLE))), 6) AS z
  FROM dper, dtot
  WHERE y_a + y_b >= {int(min_count)}
)
SELECT side, term, y_a, y_b, delta, z FROM (
  SELECT 'a' AS side, term, y_a, y_b, delta, z
  FROM dscored ORDER BY z DESC, term LIMIT {int(k)}
)
UNION ALL
SELECT side, term, y_a, y_b, delta, z FROM (
  SELECT 'b' AS side, term, y_a, y_b, delta, z
  FROM dscored ORDER BY z ASC, term LIMIT {int(k)}
)"""


def heaps_fit(
    docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = 16,
    quant: int = 10**6,
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (Heaps 1978): ``V(n) ≈ K·n^β``
    — how fast NEW types keep appearing as the corpus grows. Natural
    corpora sit at β ≈ 0.4–0.6; template/duplicated text saturates
    (β → 0) and randomized/noisy text runs high — the growth-curve
    complement to zipf_fit's static head, and the practical answer
    to 'how much more vocab will 10× more data buy?'.

    The scale trick: the textbook curve needs documents in a global
    ORDER (a corpus-scale sort). Instead, docs assign to
    ``n_buckets`` pseudo-random md5 buckets and the growth curve is
    read at bucket-prefix checkpoints: V(k) = types whose MINIMUM
    bucket ≤ k — ONE term-keyed min aggregate, one bounded
    per-bucket rollup, cumulative sums over the ≤ n_buckets frame.
    No global sort, no row_number over the corpus; the md5 order is
    deterministic and exchangeable, which is exactly what a growth
    curve wants (any fixed random order estimates the same β).

    Exactness: the zipf_fit discipline verbatim — ln(docs_cum),
    ln(vocab_cum) quantize to BIGINT micro-units before the OLS
    moment sums; β/lnK/r² are fixed parenthesizations of exact
    integers. Output one row: ``(n_checkpoints, n_docs, vocab,
    beta, ln_k, r2)``.
    """
    if int(n_buckets) < 3:
        raise ValueError("heaps_fit: n_buckets must be >= 3")
    qf = float(quant)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
            ),
            16,
            10,
        )
        .cast("long")
        % int(n_buckets)
    )
    base = docs.select(bucket.alias("_b"), F.col(text_col).alias("_x"))
    docs_per = base.groupBy("_b").agg(
        F.count(F.lit(1)).cast("long").alias("_dn")
    )
    toks = base.select(
        "_b", F.explode(F.split(F.col("_x"), " ")).alias("_t")
    ).filter(F.col("_t") != "")
    firstb = toks.groupBy("_t").agg(F.min("_b").cast("long").alias("_mb"))
    vocab_per = firstb.groupBy("_mb").agg(
        F.count(F.lit(1)).cast("long").alias("_vn")
    )
    w_cum = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    staged = (
        docs_per.join(
            vocab_per.select(F.col("_mb").alias("_b"), "_vn"), "_b", "left"
        )
        .select(
            "_b",
            F.sum("_dn").over(w_cum).cast("long").alias("_dc"),
            F.sum(F.coalesce(F.col("_vn"), F.lit(0)))
            .over(w_cum)
            .cast("long")
            .alias("_vc"),
        )
        .filter((F.col("_dc") >= 1) & (F.col("_vc") >= 1))
    )
    qx = F.round(F.log(F.col("_dc").cast("double")) * F.lit(qf), 0).cast("long")
    qy = F.round(F.log(F.col("_vc").cast("double")) * F.lit(qf), 0).cast("long")
    red = staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_checkpoints"),
        F.max("_dc").cast("long").alias("n_docs"),
        F.max("_vc").cast("long").alias("vocab"),
        F.sum(qx).cast("long").alias("_sx"),
        F.sum(qy).cast("long").alias("_sy"),
        F.sum(qx * qx).cast("long").alias("_sxx"),
        F.sum(qy * qy).cast("long").alias("_syy"),
        F.sum(qx * qy).cast("long").alias("_sxy"),
    )
    nd = F.col("n_checkpoints").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    dx = nd * sxx - sx * sx
    dy = nd * syy - sy * sy
    cov = nd * sxy - sx * sy
    beta = cov / dx
    lnk = ((sy - (cov / dx) * sx) / nd) / F.lit(qf)
    r2 = (cov * cov) / (dx * dy)
    ok = (F.col("n_checkpoints") >= 3) & (dx > 0.0)
    return red.select(
        "n_checkpoints",
        "n_docs",
        "vocab",
        F.round(F.when(ok, beta), 6).alias("beta"),
        F.round(F.when(ok, lnk), 6).alias("ln_k"),
        F.round(F.when(ok & (dy > 0.0), r2), 6).alias("r2"),
    )


def heaps_fit_sql(
    table: str = "documents",
    text_col: str = "text",
    n_buckets: int = 16,
    quant: int = 10**6,
) -> str:
    """DuckDB replay of :func:`heaps_fit` — same md5 buckets, same
    min-bucket vocabulary prefix counts, same quantized OLS."""
    qf = repr(float(quant))
    b = (
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" % {int(n_buckets)}"
    )
    dxe = "CAST(n_checkpoints AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    dye = "CAST(n_checkpoints AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    cove = "CAST(n_checkpoints AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
    return f"""hbase AS (
  SELECT {b} AS b, {text_col} AS x FROM {table}
),
hdocs AS (SELECT b, CAST(count(*) AS BIGINT) AS dn FROM hbase GROUP BY b),
htoks AS (
  SELECT b, t FROM (
    SELECT b, unnest(string_split(x, ' ')) AS t FROM hbase
  ) WHERE t <> ''
),
hfirst AS (SELECT t, CAST(min(b) AS BIGINT) AS mb FROM htoks GROUP BY t),
hvocab AS (SELECT mb AS b, CAST(count(*) AS BIGINT) AS vn FROM hfirst GROUP BY mb),
hstaged AS (
  SELECT d.b,
    CAST(sum(d.dn) OVER (ORDER BY d.b ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS BIGINT) AS dc,
    CAST(sum(coalesce(v.vn, 0)) OVER (ORDER BY d.b ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW) AS BIGINT) AS vc
  FROM hdocs d LEFT JOIN hvocab v ON d.b = v.b
),
hq AS (
  SELECT CAST(round(ln(CAST(dc AS DOUBLE)) * {qf}, 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(vc AS DOUBLE)) * {qf}, 0) AS BIGINT) AS y,
         dc, vc
  FROM hstaged WHERE dc >= 1 AND vc >= 1
),
hred AS (
  SELECT CAST(count(*) AS BIGINT) AS n_checkpoints,
    CAST(max(dc) AS BIGINT) AS n_docs, CAST(max(vc) AS BIGINT) AS vocab,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
    CAST(sum(x * y) AS BIGINT) AS sxy
  FROM hq
)
SELECT n_checkpoints, n_docs, vocab,
  round(CASE WHEN n_checkpoints >= 3 AND {dxe} > 0.0
        THEN ({cove}) / ({dxe}) END, 6) AS beta,
  round(CASE WHEN n_checkpoints >= 3 AND {dxe} > 0.0
        THEN ((CAST(sy AS DOUBLE) - (({cove}) / ({dxe})) * CAST(sx AS DOUBLE))
              / CAST(n_checkpoints AS DOUBLE)) / {qf} END, 6) AS ln_k,
  round(CASE WHEN n_checkpoints >= 3 AND {dxe} > 0.0 AND {dye} > 0.0
        THEN (({cove}) * ({cove})) / (({dxe}) * ({dye})) END, 6) AS r2
FROM hred"""
