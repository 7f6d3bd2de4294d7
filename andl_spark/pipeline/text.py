"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are JVM-side (pyspark.sql.functions) — no
Python UDFs — so these run inside whole-stage codegen over a 100 TB
document scan. Each op returns a lazy DataFrame; compose freely.

Ops: token_count, quality_score, lang_id, fingerprint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import local_frame

#: tiny per-language stopword lists for the heuristic scorer.
#: Real deployments swap in fastText-style n-gram profiles; the Spark
#: plumbing (scored struct-array argmax) is identical.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "a", "to"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "del"],
    "de": ["der", "und", "die", "das", "ein"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}

_WORD_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"  # BPE-ish token pattern


def token_count(text: Column | str) -> Column:
    """Whitespace token count (JVM split, no UDF)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(F.trim(c), r"\s+"))


def token_count_bpe(text: Column | str) -> Column:
    """BPE-ish token estimate: words + digits + punctuation marks."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(_WORD_RE))


def word_count(col: Column, word: str) -> Column:
    """Whole-word occurrence count via regexp (case-insensitive)."""
    return F.regexp_count(F.lower(col), F.lit(rf"\b{word}\b"))


def word_set_count(col: Column, words: list[str]) -> Column:
    """Total occurrences of ANY of the whole words, in ONE regexp pass
    (r11). Equals sum(word_count(col, w) for w in words) exactly: each
    \\b-bounded token can match at most one alternative (a whole word
    equals at most one of the list), matches never overlap, and Java
    regex backtracks within the alternation, so alternative order can't
    drop a match. One pass over the text instead of len(words) — at
    corpus scale this is the scan cost of lang_id/quality_score."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pat))


def lang_id(text: Column | str, langs: dict[str, list[str]] | None = None) -> Column:
    """Heuristic language ID: argmax of stopword hit counts, 'und' when
    no stopword fires. Deterministic tie-break by language code order.

    Scale: one pass of regexp counts per language — a fixed, small
    expression tree; no shuffle, no UDF.
    """
    c = F.col(text) if isinstance(text, str) else text
    langs = langs or LANG_STOPWORDS
    # one alternation regexp per language (word_set_count) instead of
    # one per stopword: 5x fewer passes over the text, identical counts
    scored = [
        F.struct(
            word_set_count(c, words).alias("score"),
            F.lit(code).alias("code"),
        )
        for code, words in sorted(langs.items())
    ]
    # array_max on struct(score desc, code asc): max score, then we
    # invert code ordering by taking max of struct — ties broken by the
    # lexicographically LARGEST code; flip to smallest via sort+reverse.
    best = F.sort_array(F.array(*scored), asc=False)[0]
    return F.when(best["score"] > 0, best["code"]).otherwise(F.lit("und"))


def quality_score(text: Column | str) -> Column:
    """Document quality in [0,1] from cheap surface statistics:
    alpha ratio, mean word length band, punctuation density,
    stopword presence. Mirrors Gopher/C4-style filters; weights are
    illustrative, plumbing is the point.
    """
    c = F.col(text) if isinstance(text, str) else text
    n = F.greatest(F.length(c), F.lit(1)).cast("double")
    alpha_ratio = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")) / n
    punct_ratio = F.length(F.regexp_replace(c, r"[^.!?,;:]", "")) / n
    words = F.greatest(F.size(F.split(F.trim(c), r"\s+")), F.lit(1)).cast("double")
    mean_word_len = n / words
    stop_hits = word_set_count(c, LANG_STOPWORDS["en"]).cast("double")
    stop_ratio = F.least(stop_hits / words * 10.0, F.lit(1.0))
    len_band = F.when((mean_word_len >= 3.0) & (mean_word_len <= 10.0), 1.0).otherwise(0.5)
    return (
        alpha_ratio * 0.4 + (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.2
        + len_band * 0.2 + stop_ratio * 0.2
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint of the normalized text
    (lowercase, alphanumeric+space only, collapsed whitespace) — the
    canonical key for exact dedup across formatting variants."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", ""), r"\s+", " "))
    return F.md5(norm)


def lexical_diversity(text: Column | str) -> Column:
    """distinct-word / total-word ratio — the cheap repetition-quality
    signal (low values = boilerplate/spam). Pure JVM array expression."""
    c = F.col(text) if isinstance(text, str) else text
    words = F.split(F.lower(F.trim(c)), r"\s+")
    return F.size(F.array_distinct(words)) / F.size(words)


def corpus_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row corpus profile: doc count, token-count distribution
    (mean + exact p50/p90/p99), mean lexical diversity. Exact
    percentiles here because profiles drive filtering thresholds; at
    extreme scale swap `percentile` for `percentile_approx`, which
    trades a bounded error for a single-pass sketch."""
    n = token_count(text_col)
    pct = F.expr(
        f"percentile(size(split(trim({text_col}), '\\\\s+')), array(0.5, 0.9, 0.99))"
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(n) + F.lit(1e-9), 4).alias("avg_tokens"),
        F.element_at(pct, 1).alias("p50_tokens"),
        F.element_at(pct, 2).alias("p90_tokens"),
        F.element_at(pct, 3).alias("p99_tokens"),
        F.round(F.avg(lexical_diversity(text_col)) + F.lit(1e-9), 4).alias("avg_lexdiv"),
    )


def bigrams(text: Column | str) -> Column:
    """Word-bigram array of the lowercased text — the unit for
    Gopher-style repetition metrics and per-corpus n-gram profiles.
    Pure JVM array expression (split + transform over an index
    sequence), so it stays inside whole-stage codegen."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    n = F.size(toks)
    # zip adjacent tokens; slice lengths clamp to 0 for 1-token docs,
    # so no index expression can go out of bounds (ANSI-safe).
    return F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style per-document repetition signal: the fraction of
    word bigrams that are duplicates (1 - distinct/total). High values
    mean boilerplate / spam / looping generations; training pipelines
    drop docs above a threshold (Rae et al. 2021 use 0.2 for the
    2-gram duplicate fraction).

    Adds `dup_bigram_frac` (NULL for docs with <2 tokens, which have
    no bigrams). Scan-side only — no shuffle; the filter composes with
    downstream dedup in the same stage.
    """
    bg = bigrams(text_col)
    frac = F.when(
        F.size(bg) > 0,
        F.lit(1.0) - F.size(F.array_distinct(bg)) / F.size(bg),
    )
    return df.withColumn("dup_bigram_frac", frac)


def top_ngrams(df: DataFrame, text_col: str = "text", group_col: str = "lang",
               k: int = 3) -> DataFrame:
    """Top-k most frequent word bigrams per group (corpus n-gram
    profile). explode → count per (group, bigram) with map-side
    partial agg → per-group top-k via one window. Ties broken
    lexicographically so the result is deterministic."""
    from pyspark.sql import Window

    counted = (
        df.select(group_col, F.explode(bigrams(text_col)).alias("ngram"))
        .groupBy(group_col, "ngram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(group_col).orderBy(F.col("n").desc(), "ngram")
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def corpus_profile(df: DataFrame, source_col: str = "source",
                   lang_col: str = "lang", text_col: str = "text") -> DataFrame:
    """Corpus profile at every mixture grain in ONE aggregation pass:
    ROLLUP(source, lang) computes the per-(source, lang) mixture rows
    (doc counts, corpus share, exact-dup rate, mean length — what a
    training-mixture composer reads before weighting sources), the
    per-source subtotals, AND the global corpus profile row, each with
    the token-count distribution (mean + exact p50/p90/p99) and mean
    lexical diversity. Subtotal grains surface as source/lang = 'ALL'.

    Scale shape: one shuffle with map-side partial aggregation; rollup
    multiplies map-side rows by the grain count (3), not the data. At
    extreme scale swap `percentile` for `percentile_approx` (bounded
    error, single-pass sketch). The corpus total for `share` rides a
    size-1 broadcast cross join, not a second scan."""
    pct = F.expr(
        f"percentile(size(split(trim({text_col}), '\\\\s+')), array(0.5, 0.9, 0.99))"
    )
    rolled = df.rollup(source_col, lang_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.md5(F.col(text_col))).alias("n_unique"),
        F.round(F.avg(F.length(text_col)) + F.lit(1e-9), 4).alias("avg_chars"),
        F.round(F.avg(token_count(text_col)) + F.lit(1e-9), 4).alias("avg_tokens"),
        F.element_at(pct, 1).alias("p50_tokens"),
        F.element_at(pct, 2).alias("p90_tokens"),
        F.element_at(pct, 3).alias("p99_tokens"),
        F.round(F.avg(lexical_diversity(text_col)) + F.lit(1e-9), 4).alias("avg_lexdiv"),
    )
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    return rolled.crossJoin(F.broadcast(total)).select(
        F.coalesce(F.col(source_col), F.lit("ALL")).alias(source_col),
        F.coalesce(F.col(lang_col), F.lit("ALL")).alias(lang_col),
        "n_docs", "n_unique",
        F.round(F.col("n_docs") / F.col("__total") + F.lit(1e-9), 6).alias("share"),
        F.round(1 - F.col("n_unique") / F.col("n_docs") + F.lit(1e-9), 6).alias("dup_rate"),
        "avg_chars", "avg_tokens", "p50_tokens", "p90_tokens", "p99_tokens",
        "avg_lexdiv",
    )


def source_mixture(df: DataFrame, source_col: str = "source", lang_col: str = "lang",
                   text_col: str = "text") -> DataFrame:
    """Per-(source, lang) mixture report: doc counts, corpus share,
    exact-dup rate (distinct content digests vs rows), mean length —
    the table a training-mixture composer reads before weighting
    sources. One shuffle on (source, lang) with map-side partial
    aggregation; the corpus total rides a size-1 broadcast window."""
    from pyspark.sql import Window

    per = df.groupBy(source_col, lang_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.md5(F.col(text_col))).alias("n_unique"),
        F.round(F.avg(F.length(text_col)) + F.lit(1e-9), 4).alias("avg_chars"),
    )
    total = F.sum("n_docs").over(Window.partitionBy())
    return per.select(
        source_col, lang_col, "n_docs", "n_unique",
        F.round(F.col("n_docs") / total + F.lit(1e-9), 6).alias("share"),
        F.round(1 - F.col("n_unique") / F.col("n_docs") + F.lit(1e-9), 6).alias("dup_rate"),
        "avg_chars",
    )


# ---------------------------------------------------------------------
# unigram-LM quality filter (the CCNet-style statistical scorer)
# ---------------------------------------------------------------------

def train_unigram_lm(
    docs: DataFrame, text_col: str, vocab_cap: int = 50_000,
) -> DataFrame:
    """Train an add-one-smoothed unigram language model on the corpus:
    returns (w, logp, is_oov) for the ``vocab_cap`` most frequent
    lowercase words (ties by word) plus ONE ``is_oov=true`` row
    (w NULL) carrying the shared out-of-vocabulary log-probability —
    a typed flag, not a magic word, so a literal corpus token like
    '__oov__' can never collide with the sentinel. logp =
    log10((c + 1) / (N + V + 1)) with N = total in-vocab token count
    and V = vocab size; OOV mass = 1/(N+V+1).

    Scale: one explode → one count shuffle → top-V cut. The resulting
    model is tiny (V rows) and broadcasts into the scorer.
    """
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        .alias("w")).filter(F.col("w") != "")
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    top = (counts.orderBy(F.col("c").desc(), "w").limit(vocab_cap)
           .localCheckpoint(eager=True))
    agg = top.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")).first()
    n, v = agg["n"] or 0, agg["v"] or 0
    denom = float(n + v + 1)
    model = top.select(
        "w", F.log10((F.col("c") + 1) / F.lit(denom)).alias("logp"),
        F.lit(False).alias("is_oov"))
    oov = local_frame(top.sparkSession, [(None,)], "w string").select(
        "w", F.log10(F.lit(1.0) / F.lit(denom)).alias("logp"),
        F.lit(True).alias("is_oov"))
    return model.unionByName(oov)


def lm_quality_score(
    docs: DataFrame, lm: DataFrame, id_col: str, text_col: str,
) -> DataFrame:
    """Score each doc by its average per-token log10 probability under
    the trained unigram LM (higher = more natural corpus-like text;
    gibberish and boilerplate outliers score low — CCNet's LM-filter
    idea with the simplest possible model). Output: (id, n_tokens,
    avg_logp).

    Every input doc gets a row: NULL/empty/whitespace-only text scores
    (n_tokens 0, avg_logp NULL) instead of silently vanishing — a
    downstream quality filter must SEE the degenerate docs to decide.

    Scale: explode → broadcast join against the tiny model → one
    per-doc aggregate. The corpus shuffles once, on the doc id.
    """
    oov_row = lm.filter(F.col("is_oov")).first()
    if oov_row is None:
        raise ValueError(
            "model has no is_oov row — build it with train_unigram_lm "
            "(a model without OOV mass cannot score unseen words)")
    vocab = lm.filter(~F.col("is_oov")).select("w", "logp")
    words = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.coalesce(
            F.col(text_col), F.lit("")))), r"\s+"))
        .alias("w")).filter(F.col("w") != "")
    scored = (
        words.join(F.broadcast(vocab), "w", "left")
        .select("id", F.coalesce(F.col("logp"),
                                 F.lit(oov_row["logp"])).alias("lp"))
    )
    per_doc = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("lp") + F.lit(1e-9), 6).alias("avg_logp"),
    )
    ids = docs.select(F.col(id_col).alias("id")).distinct()
    return ids.join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "avg_logp",
    )


def unigram_lm_sql(table: str, id_col: str, text_col: str,
                   vocab_cap: int = 50_000) -> str:
    """Self-contained DuckDB mirror of train_unigram_lm +
    lm_quality_score over ``table`` — same vocabulary cut, smoothing,
    OOV handling, and rounding."""
    return f"""
WITH words AS (
  SELECT {id_col} AS id, lower(w) AS w
  FROM {table},
       UNNEST(regexp_split_to_array(trim(lower(COALESCE({text_col}, ''))),
                                    '\\s+')) AS t(w)
  WHERE w <> ''
), counts AS (
  SELECT w, COUNT(*) AS c FROM words GROUP BY w
), top AS (
  SELECT w, c FROM counts ORDER BY c DESC, w LIMIT {vocab_cap}
), consts AS (
  SELECT CAST(SUM(c) + COUNT(*) + 1 AS DOUBLE) AS denom FROM top
), model AS (
  SELECT w, log10((c + 1) / (SELECT denom FROM consts)) AS logp FROM top
), scored AS (
  SELECT words.id, COUNT(*) AS n_tokens,
         ROUND(AVG(COALESCE(model.logp,
                            log10(1.0 / (SELECT denom FROM consts)))) + 1e-9,
               6) AS avg_logp
  FROM words LEFT JOIN model ON words.w = model.w
  GROUP BY words.id
)
SELECT d.id, COALESCE(scored.n_tokens, 0) AS n_tokens, scored.avg_logp
FROM (SELECT DISTINCT {id_col} AS id FROM {table}) d
LEFT JOIN scored ON d.id = scored.id
"""
