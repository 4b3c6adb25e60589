"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, document fingerprinting. All native Spark
expressions (split/regexp/length), engine-portable for oracle checks."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "que", "en"],
    "de": ["der", "die", "das", "und", "zu", "ist"],
    "fr": ["le", "la", "de", "et", "que", "est"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish subword estimate = chars/4 is also
    exposed as `subword_estimate`)."""
    return F.size(F.split(text, " "))


def subword_estimate(text: Column) -> Column:
    return F.ceil(F.length(text) / 4).cast("bigint")


def nonalpha_ratio(text: Column) -> Column:
    """Share of characters outside [a-z0-9 ] after lowercasing — punctuation/
    noise proxy for quality scoring."""
    cleaned = F.regexp_replace(F.lower(text), "[a-z0-9 ]", "")
    return F.length(cleaned) / F.length(text)


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    toks = F.split(text, " ")
    hits = F.size(F.filter(toks, lambda t: t.isin(words)))
    return hits / F.size(toks)


def _membership(words: list[str]):
    # NB: must stay a ONE-argument lambda — F.filter treats a second
    # parameter as the element index
    return lambda t: t.isin(words)


def lang_scores(text: Column) -> list[Column]:
    """Stopword-hit ratio per language (n-gram-free heuristic lang-ID)."""
    toks = F.split(text, " ")
    out = []
    for lang, words in STOPWORDS.items():
        hits = F.size(F.filter(toks, _membership(words)))
        out.append((hits / F.size(toks)).alias(f"score_{lang}"))
    return out


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Predict language by max stopword-hit ratio; ties break in the fixed
    language order en > es > de > fr (deterministic)."""
    t = F.col(text_col)
    scored = df.select("*", *lang_scores(t))
    langs = list(STOPWORDS)
    # greatest + cascaded equality check keeps tie-breaking deterministic
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.when(F.col(f"score_{langs[0]}") == best, langs[0])
    for lg in langs[1:]:
        pred = pred.when(F.col(f"score_{lg}") == best, lg)
    return scored.withColumn("predicted_lang", pred)


def fingerprint(text: Column) -> Column:
    """Normalized document fingerprint: lowercase, collapse whitespace, md5."""
    return F.md5(F.regexp_replace(F.lower(text), r"\s+", " "))


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8, window: int = 4,
                        max_chars: int = 10_000) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD
    2003): hash every k-char gram of the normalized text, then keep the
    minimum hash of each `window` consecutive grams; the distinct minima are
    the doc's fingerprints. Any shared substring of length >= k + window - 1
    yields a shared fingerprint. Returns (id, fingerprint) distinct pairs.

    Spark-first and map-side only — no shuffle until the caller aggregates
    fingerprints. The rolling min is a sparse-table doubling over zip_with
    (least of the array and its d-shifted self, d = 1, 2, ...), NOT
    array_min(slice(grams, j, w)) per position: Catalyst does no CSE inside
    higher-order-function lambdas, so the slice form re-evaluates the whole
    md5 gram array per window position — O(n^2) hashes per doc (measured
    ~1.4 s/doc); the doubling form is O(n log w) lambda calls with a
    constant ~w recompute factor. md5 is the gram hash because it is
    engine-portable (the DuckDB oracle computes the identical set); a
    production variant at 10^12 docs would swap in xxhash64 (~5x cheaper)
    since the hash only needs consistency, not portability. `max_chars` caps
    the per-row gram expansion. Docs shorter than k yield no fingerprints;
    docs with fewer than `window` grams yield one (the min over all grams),
    per the original algorithm."""
    if window < 1:
        raise ValueError("window must be >= 1")
    norm_expr = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "), 1, max_chars)
    # Stage the normalized text behind its own projection: the gram lambda
    # below references it per element, and Catalyst does no CSE inside HOF
    # lambdas — inlined, the lower+regexp_replace over the whole doc would
    # re-run once per gram position (O(len^2) char work per row). The outer
    # projection references __norm more than once, so CollapseProject keeps
    # the boundary.
    df = df.select(F.col(id_col), norm_expr.alias("__norm"))
    norm = F.col("__norm")
    n_grams = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(0))
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — guard the
    # short-doc case explicitly
    grams = F.when(
        n_grams >= 1,
        F.transform(F.sequence(F.lit(1), n_grams),
                    lambda i: F.md5(norm.substr(i, F.lit(k))))
    ).otherwise(F.array().cast("array<string>"))

    def shifted_min(arr, d):
        # element-wise least of arr[j] and arr[j+d] -> minima of (d+1)-spans
        # built from smaller spans; result length = len(arr) - d
        ln = F.size(arr) - F.lit(d)
        return F.zip_with(F.slice(arr, 1, ln), F.slice(arr, 1 + d, ln),
                          lambda a, b: F.least(a, b))

    # Materialize the gram array behind a projection boundary: the outer
    # select references the alias several times, so CollapseProject keeps
    # the two projections separate and the md5 array is computed ONCE per
    # row (inlining would re-evaluate it per reference).
    staged = df.select(F.col(id_col), grams.alias("__grams"))
    g = F.col("__grams")

    # sparse table: T_p holds minima over p consecutive grams
    mins, p = g, 1
    while p * 2 <= window:
        mins = shifted_min(mins, p)
        p *= 2
    if p < window:
        mins = shifted_min(mins, window - p)
    out = F.when(F.size(g) >= window, mins) \
        .when(F.size(g) >= 1, F.array(F.array_min(g))) \
        .otherwise(F.array().cast("array<string>"))
    return (staged.select(F.col(id_col),
                          F.explode(F.array_distinct(out)).alias("fingerprint"))
            .distinct())


def _mode_run_count(arr):
    """Count of the most frequent element = longest equal run of the SORTED
    array — one aggregate() fold, O(n log n) per doc and map-side. (The
    filter-per-distinct alternative is O(distinct * n) per doc: quadratic on
    diverse docs, ~10^10 lambda evaluations on a 100k-token web page.)"""
    run_state = F.aggregate(
        F.array_sort(arr),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(1).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(1)
            ).alias("best")))
    return run_state["best"]


def repetition_features(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Gopher/C4-style repetition signals per doc, pure Catalyst:
    - unique_word_ratio: |distinct words| / |words| (low => repetitive)
    - top_bigram_ratio: occurrences of the most frequent word 2-gram /
      total 2-grams (high => boilerplate loops)
    Low-unique/high-top-bigram docs are the classic "repeated junk" filter
    targets in web-corpus cleaning."""
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    uniq = F.size(F.array_distinct(words))
    bigrams = F.expr(
        f"CASE WHEN size(split({text_col}, ' ')) >= 2 THEN "
        f"transform(sequence(1, size(split({text_col}, ' ')) - 1), "
        f"i -> concat_ws(' ', slice(split({text_col}, ' '), i, 2))) "
        "ELSE array() END")
    top_count = _mode_run_count(bigrams)
    n_bigrams = F.size(bigrams)
    return df.select(
        F.col(id_col),
        F.when(n_words > 0, uniq / n_words).alias("unique_word_ratio"),
        F.when(n_bigrams > 0, top_count / n_bigrams).alias("top_bigram_ratio"))


def quality_filter(df: DataFrame, text_col: str = "text", *,
                   min_tokens: int = 3, max_tokens: int = 100_000,
                   min_mean_token_len: float = 2.0,
                   max_mean_token_len: float = 12.0,
                   max_nonalpha_ratio: float = 0.3,
                   min_stopword_ratio: float = 0.0,
                   max_top_token_ratio: float = 0.5,
                   lang: str = "en") -> DataFrame:
    """Gopher/C4-style document-quality gate (Rae et al. 2021 §A1.1.2, C4
    heuristics): one boolean per rule plus the AND (`passes`) —

    - ok_tokens:      token count in [min_tokens, max_tokens]
    - ok_mean_len:    mean token length in [min_mean_token_len, max_..]
    - ok_nonalpha:    non-[a-z0-9 ] character ratio <= max_nonalpha_ratio
    - ok_stopword:    stopword-hit ratio >= min_stopword_ratio
    - ok_repetition:  most-frequent-token share <= max_top_token_ratio
                      (Gopher's repetition family; per-line/ngram variants
                      live in repetition_features)

    Pure Catalyst — integer lengths divided in IEEE double, identical in
    DuckDB, so the rule booleans are engine-portable for oracle checks.
    Map-side only (no shuffle): at 100 TB this is a streaming filter over
    the scan, and the per-rule booleans make drop-reason accounting a plain
    aggregation."""
    t = F.col(text_col)
    toks = F.split(t, " ")
    n = F.size(toks)
    mean_len = (F.length(t) - n + 1) / n
    top_share = _mode_run_count(toks) / n
    return (df
            .withColumn("ok_tokens", n.between(min_tokens, max_tokens))
            .withColumn("ok_mean_len",
                        mean_len.between(min_mean_token_len,
                                         max_mean_token_len))
            .withColumn("ok_nonalpha",
                        nonalpha_ratio(t) <= max_nonalpha_ratio)
            .withColumn("ok_stopword",
                        stopword_ratio(t, lang) >= min_stopword_ratio)
            .withColumn("ok_repetition", top_share <= max_top_token_ratio)
            .withColumn("passes",
                        F.col("ok_tokens") & F.col("ok_mean_len")
                        & F.col("ok_nonalpha") & F.col("ok_stopword")
                        & F.col("ok_repetition")))
