"""Text analysis operators: quality scoring, token stats, language-ID
heuristic, document fingerprinting.

Everything here is pure built-in column expressions (whole-stage codegen;
no Python at all) so each has an exact ANSI-SQL DuckDB oracle. The
analyzer-equivalent regex is inlined as SQL-compatible ``[0-9a-z]+``
segmentation of lowercased text — identical to the frozen analyzer on
ASCII corpora (tests assert the equivalence on the documents table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# deterministic function-word lists per language (heuristic lang-ID).
# ASCII-only on purpose: the frozen token regex is [0-9a-z]+, so accented
# forms would never match anyway. Cross-language collisions (de/la/e/…)
# are fine — the vote is a count argmax with a deterministic tie order.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "was", "for", "on",
           "with", "as", "at", "it", "that"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "den", "nicht",
           "mit", "sich", "auf", "ein", "eine", "auch"],
    "es": ["el", "la", "de", "que", "y", "es", "en", "un", "los", "se",
           "no", "por", "las", "para", "como"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "dans", "les",
           "des", "il", "ne", "pas", "pour", "qui"],
    "it": ["di", "che", "il", "non", "e", "la", "per", "una", "in",
           "sono", "mi", "ho", "lo", "ma", "della"],
    "pt": ["de", "que", "o", "a", "e", "do", "da", "em", "um", "para",
           "com", "nao", "uma", "os", "mais"],
    "nl": ["de", "het", "een", "en", "van", "ik", "dat", "niet", "op",
           "te", "zijn", "met", "als", "voor", "maar"],
}

_TOKEN_SQL_RE = "[0-9a-z]+"


def _tokens(text_col):
    # JVM-side segmentation: lowercase → split on non-alnum runs → drop empties
    return F.filter(
        F.split(F.lower(text_col), "[^0-9a-z]+"),
        lambda t: t != "",
    )


def _stop_count_re(words) -> str:
    """Regex counting tokens ∈ ``words``: the token-boundary lookarounds
    pin each alternative to a WHOLE ``[0-9a-z]+`` run (backtracking tries
    every alternative at a position, so alternation order is irrelevant) —
    count of matches == count of tokens in the set, with no array
    materialization or per-element interpreted lambda."""
    return f"(?<![0-9a-z])(?:{'|'.join(words)})(?![0-9a-z])"


def quality_scores(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-doc quality features: token count, mean token length, stopword
    ratio (en), alpha ratio — the usual pre-training quality filters.

    Pure regexp codegen expressions (regexp_count / regexp_replace): the
    previous split→filter→aggregate higher-order-function pipeline ran
    the Catalyst lambda interpreter per token (HOFs never reach
    whole-stage codegen) and materialized a token array per row; counts
    and sums over character runs need neither. Verified exactly equal
    (bit-for-bit, all four columns) against the HOF form on the bench
    corpus."""
    return df.select(F.col(id_col), *quality_columns(text_col))


def quality_columns(text_col: str = "text") -> list:
    """The four :func:`quality_scores` feature columns as expressions over
    ``text_col`` — for callers that fold the features into a wider
    per-doc projection instead of a separate frame."""
    low = F.lower(F.col(text_col))
    n_tok = F.regexp_count(low, F.lit(_TOKEN_SQL_RE))
    sum_len = F.length(F.regexp_replace(low, "[^0-9a-z]", ""))
    stop_n = F.regexp_count(low, F.lit(_stop_count_re(STOPWORDS["en"])))
    return [
        n_tok.cast("long").alias("n_tokens"),
        F.round(
            F.when(n_tok > 0, sum_len.cast("double") / n_tok)
            .otherwise(F.lit(0.0)), 6
        ).alias("mean_token_len"),
        F.round(
            F.when(n_tok > 0, stop_n.cast("double") / n_tok)
            .otherwise(F.lit(0.0)), 6
        ).alias("stopword_ratio"),
        F.round(
            (F.length(F.regexp_replace(low, "[^a-z]", ""))
             .cast("double") /
             F.greatest(F.length(text_col), F.lit(1))), 6
        ).alias("alpha_ratio"),
    ]


def quality_scores_oracle_sql(table: str = "documents",
                              id_col: str = "doc_id",
                              text_col: str = "text") -> str:
    stop = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH toks AS (
  SELECT {id_col},
         list_filter(regexp_split_to_array(lower({text_col}), '[^0-9a-z]+'),
                     t -> t <> '') AS ts
  FROM {table}
)
SELECT {id_col},
       len(ts)::BIGINT AS n_tokens,
       round(CASE WHEN len(ts) > 0
             THEN list_sum(list_transform(ts, t -> length(t)))::DOUBLE / len(ts)
             ELSE 0.0 END, 6) AS mean_token_len,
       round(CASE WHEN len(ts) > 0
             THEN len(list_filter(ts, t -> list_contains([{stop}], t)))::DOUBLE
                  / len(ts)
             ELSE 0.0 END, 6) AS stopword_ratio,
       round(length(regexp_replace(lower(d.{text_col}), '[^a-z]', '', 'g'))::DOUBLE
             / greatest(length(d.{text_col}), 1), 6) AS alpha_ratio
FROM toks JOIN {table} d USING ({id_col})
"""


def lang_id(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """Deterministic stopword-vote language guess (n-gram-free heuristic).

    Picks the language with the highest stopword hit count; ties and
    zero-hit docs → 'unk'. (On the synthetic corpus most docs are 'unk' —
    the operator is about the dataflow shape, exercised for real on the
    Korean/mixed fixture rows.)
    """
    low = F.lower(F.col(text_col))

    def stop_count(words):
        # regexp_count with token-boundary lookarounds == size(filter(
        # tokens, in-set)) — see :func:`_stop_count_re`; codegen, no
        # per-token interpreted lambda, no token-array materialization
        return F.regexp_count(low, F.lit(_stop_count_re(words)))

    counts = [stop_count(words).alias(f"n_{lang}")
              for lang, words in STOPWORDS.items()]
    scored = df.select(F.col(id_col), *counts)
    langs = list(STOPWORDS)
    best = F.greatest(*[F.col(f"n_{lang}") for lang in langs])
    guess = F.lit("unk")
    # deterministic priority order on ties: first language in dict order wins
    for lang in reversed(langs):
        guess = F.when((F.col(f"n_{lang}") == best) & (best > 0),
                       F.lit(lang)).otherwise(guess)
    return scored.select(id_col, guess.alias("lang_guess"))


def lang_id_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    cases = []
    for lang, words in STOPWORDS.items():
        stop = ", ".join(f"'{w}'" for w in words)
        cases.append(
            f"len(list_filter(ts, t -> list_contains([{stop}], t))) AS n_{lang}")
    langs = list(STOPWORDS)
    best = "greatest(" + ", ".join(f"n_{lang}" for lang in langs) + ")"
    when = " ".join(
        f"WHEN n_{lang} = {best} AND n_{lang} > 0 THEN '{lang}'"
        for lang in langs)
    return f"""
WITH toks AS (
  SELECT {id_col},
         list_filter(regexp_split_to_array(lower({text_col}), '[^0-9a-z]+'),
                     t -> t <> '') AS ts
  FROM {table}
), scored AS (
  SELECT {id_col}, {', '.join(cases)} FROM toks
)
SELECT {id_col}, CASE {when} ELSE 'unk' END AS lang_guess FROM scored
"""


def fingerprints(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 over the sorted distinct token set — a
    word-order-insensitive near-identity key (cheap fuzzy dedup tier)."""
    toks = _tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
        .alias("fingerprint"),
    )


def fingerprints_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                            text_col: str = "text") -> str:
    return f"""
SELECT {id_col},
       md5(array_to_string(
             list_sort(list_distinct(
               list_filter(regexp_split_to_array(lower({text_col}),
                                                 '[^0-9a-z]+'),
                           t -> t <> ''))), ' ')) AS fingerprint
FROM {table}
"""


def text_image_dispatch(pages: DataFrame, doc_col: str = "doc_id",
                        page_col: str = "page_number",
                        chars_col: str = "chars",
                        threshold: int = 100,
                        first_pages: int = 3) -> DataFrame:
    """F1: the reference's text-vs-image routing classifier
    (pdf_processor.py:29-55 ``is_text_based``): average character count
    over the first ≤ ``first_pages`` pages; above ``threshold`` → the
    text-extraction branch, else the image/OCR branch.

    Input: one row per page with a character count. Returns
    (doc, avg_chars, route) with route ∈ {'text', 'image'} — the
    ``when/otherwise`` dispatch column downstream pipelines branch on.
    """
    return (pages
            .filter(F.col(page_col) <= first_pages)
            .groupBy(F.col(doc_col))
            .agg(F.avg(F.col(chars_col)).alias("avg_chars"))
            .withColumn("route",
                        F.when(F.col("avg_chars") > threshold, "text")
                        .otherwise("image")))


def indentation_profile(blocks: DataFrame, doc_col: str = "doc_id",
                        x0_col: str = "x0") -> DataFrame:
    """A2: the reference's indentation histogram
    (text_based_converter_refactored.py:212-239
    ``_analyze_indentation_within_body``): round(x0, 1), count, take the
    two most common values; continuation = the smaller, start = the
    larger; a single distinct value yields continuation only (start
    NULL). Ties in count break by x0 ascending (the reference's Counter
    order is insertion-dependent — frozen here deterministically).
    """
    from pyspark.sql import Window

    counts = (blocks
              .withColumn("xr", F.round(F.col(x0_col), 1))
              .groupBy(F.col(doc_col), F.col("xr"))
              .agg(F.count("*").alias("n")))
    w = Window.partitionBy(doc_col).orderBy(
        F.col("n").desc(), F.col("xr").asc())
    top2 = (counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 2))
    return (top2.groupBy(doc_col)
            .agg(F.when(F.count("*") == 2, F.max("xr")).alias("start_indent"),
                 F.min("xr").alias("continuation_indent")))


def font_classify(spans: DataFrame, doc_col: str = "doc_id",
                  size_col: str = "size", font_col: str = "font",
                  height_col: str = "height",
                  text_col: str = "text") -> DataFrame:
    """F2: the reference's font-class projection
    (text_based_converter_refactored.py:241-296): per doc, the dominant
    (size, font, height) triple by summed stripped-span-text length is
    'plain'; each span classifies as 'text' (size == plain size),
    'title' (size > plain), else 'etc'. Docs whose spans are all blank
    fall back to the reference default plain_size = 10.0.

    The reference's ``max(dict)`` tie-break is insertion-order dependent;
    frozen here as (weight desc, size, font, height asc) — deterministic
    and engine-independent.
    """
    from pyspark.sql import Window

    stripped = F.length(F.trim(F.col(text_col)))
    agg = (spans.filter(F.trim(F.col(text_col)) != "")
           .groupBy(doc_col, size_col, font_col, height_col)
           .agg(F.sum(stripped).alias("wl")))
    w = Window.partitionBy(doc_col).orderBy(
        F.col("wl").desc(), F.col(size_col).asc(), F.col(font_col).asc(),
        F.col(height_col).asc())
    plain = (agg.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1)
             .select(F.col(doc_col), F.col(size_col).alias("plain_size"),
                     F.col(font_col).alias("plain_font"),
                     F.col(height_col).alias("plain_height")))
    ps = F.coalesce(F.col("plain_size"), F.lit(10.0))
    return (spans.join(plain, doc_col, "left")
            .withColumn("text_class",
                        F.when(F.col(size_col) == ps, "text")
                        .when(F.col(size_col) > ps, "title")
                        .otherwise("etc")))


# GPT-2-style pre-tokenizer, lookahead-free so one frozen spec runs
# identically under Java regex (Spark) and RE2 (DuckDB oracle):
# optionally-space-prefixed letter runs, digit runs, punctuation runs,
# plus whitespace runs. (The original GPT-2 pattern's (?!\S) lookahead
# and contraction alternates are NOT RE2-expressible; this is the frozen
# approximation — documented, not silent.)
BPE_RE_SPARK = r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
BPE_RE_DUCKDB = r" ?\pL+| ?\pN+| ?[^\s\pL\pN]+|\s+"


def token_counts(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Whitespace and BPE-ish token counts per doc — the two cheap
    length signals a pre-training pipeline budgets by (the analyzer's
    linguistic token count lives in `analyzer.token_count_udf`)."""
    ws = F.size(F.filter(F.split(F.col(text_col), r"\s+"),
                         lambda t: t != ""))
    bpe = F.size(F.regexp_extract_all(F.col(text_col),
                                      F.lit(BPE_RE_SPARK), 0))
    return df.select(F.col(id_col),
                     ws.alias("n_ws_tokens"),
                     bpe.alias("n_bpe_tokens"))


def token_counts_oracle_sql(table: str = "documents",
                            id_col: str = "doc_id",
                            text_col: str = "text") -> str:
    return f"""
SELECT {id_col},
       len(list_filter(regexp_split_to_array({text_col}, '\\s+'),
                       t -> t <> ''))::INTEGER AS n_ws_tokens,
       len(regexp_extract_all({text_col},
           ' ?\\pL+| ?\\pN+| ?[^\\s\\pL\\pN]+|\\s+'))::INTEGER AS n_bpe_tokens
FROM {table}
"""
