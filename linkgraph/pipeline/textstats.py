"""Text analysis operators: token counting, quality scoring,
language-ID heuristic, document fingerprinting.

All JVM-side column expressions (split / regexp_extract_all / md5) so
they run inside whole-stage codegen over the scan — a 10^12-row
documents table never crosses the Python boundary for these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny, deliberately language-distinctive stopword sets
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
}


def token_count_col(text_col: str = "text"):
    """Whitespace token count as a column expression."""
    return F.size(F.split(F.trim(F.col(text_col)), r"\s+"))


# GPT-2-style pre-tokenizer classes: contraction suffixes, letter runs,
# digit runs, punctuation runs. Leftmost-first alternation + greedy
# classes only, so Java regex (Spark), RE2 (DuckDB) and Python `re`
# all split identically — the oracle reproduces it verbatim.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+"


def subword_token_count_col(text_col: str = "text"):
    """BPE-ish piece count — the standard cheap LLM-token estimate when
    no tokenizer binary is in reach (counts the pre-tokenizer pieces a
    byte-BPE would then merge; always ≥ the whitespace count)."""
    return F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0))
    )


def _stop_hits(text_col: str, words: list[str]):
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pat), F.lit(0)))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc structural stats: tokens, chars, punctuation count,
    mean token length."""
    return df.withColumns(
        {
            "n_tokens": token_count_col(text_col).cast("long"),
            "n_chars_m": F.length(F.col(text_col)).cast("long"),
            "n_punct": F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(r"([.,;:!?])"), F.lit(0))
            ).cast("long"),
        }
    ).withColumn(
        "mean_token_len",
        (F.col("n_chars_m") - F.col("n_tokens") + 1) / F.col("n_tokens"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic [0,1] quality: length in range, low punctuation
    density, sane mean token length. Mirrors the structure of
    production quality filters; the exact weights are pinned for
    test determinism."""
    s = text_stats(df, text_col)
    return s.withColumn(
        "quality",
        (
            F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 100000), 0.4).otherwise(0.0)
            + F.when((F.col("n_punct") / F.greatest(F.col("n_chars_m"), F.lit(1))) < 0.1, 0.3).otherwise(0.0)
            + F.when((F.col("mean_token_len") >= 2.0) & (F.col("mean_token_len") <= 12.0), 0.3).otherwise(0.0)
        ).cast("double"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword-ratio language ID: argmax over per-language
    stopword hit counts; 'und' (undetermined) when no stopwords hit.

    The argmax is the same pure (count, label) tie-break pattern as
    LPA — greatest-struct, no window, partition-invariant.
    """
    hits = [
        F.struct(
            _stop_hits(text_col, words).alias("hits"),
            F.lit(lang).alias("lang"),  # tie → lexicographically largest lang
        )
        for lang, words in sorted(STOPWORDS.items())
    ]
    best = F.greatest(*hits)
    return df.withColumn(
        "lang_pred",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def tokenize(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per (doc, token): lowercase, split on non-alphanumeric
    runs, empty tokens dropped. JVM split+explode — the tokenizer is
    pinned to a regex both Spark (Java regex) and DuckDB (RE2)
    evaluate identically, so ranking oracles can re-tokenize."""
    # no `tuning.ensure_min_partitions` here, unlike `dedup.shingles`:
    # on a one-row-group source the round-robin exchange costs more
    # than the split+explode it spreads (tfidf_top_terms over sf0.1,
    # 4 cores: 0.92 s without it, 0.99 s with it)
    return (
        df.select(
            id_col,
            F.explode(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
    )


def tfidf_top_terms(
    df: DataFrame,
    top_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-N terms by TF-IDF (idf = ln((1+N)/(1+df)) + 1,
    the smoothed sklearn form; ties -> lexicographically smallest
    term). Returns (doc_id, term, tfidf rounded to 6 dp — ranking uses
    the ROUNDED value so cross-engine ulps can't flip the cut).

    Scale shape: tf is one (doc,term) hash-agg over the exploded
    tokens (map-side combine absorbs within-partition repeats); df is
    a term-keyed agg OF THE TF TABLE (cardinality sum-of-vocab, never
    re-reads the corpus); N rides along as a broadcast 1-row
    cross-join, so the whole plan has no driver-side action. The
    term-keyed idf join is zipf-skewed at corpus scale — the tf
    pre-aggregation bounds each term's row count by |docs|, and AQE
    skew-join splits the residual hot partitions.
    """
    tok = tokenize(df, id_col, text_col)
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.lit(1.0) + F.col("n")) / (F.lit(1.0) + F.col("df")))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(id_col, "term", "tfidf")
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 score of every document against a fixed query term set.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)); per-term contribution
    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)); documents with no
    query term are omitted (score would be 0). Returns
    (doc_id, bm25 rounded 6).

    Scale shape: the query-term filter lands IMMEDIATELY after
    explode — everything downstream (tf, df, the dl join) is bounded
    by |docs| * |query|, not corpus token count; dl/avgdl/N are
    corpus-level aggregates computed once (avgdl+N share one 1-row
    broadcast).
    """
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    tok = tokenize(df, id_col, text_col)
    dl = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n")
    )
    qtf = (
        tok.filter(F.col("term").isin([str(t) for t in query_terms]))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "c",
            F.col("idf")
            * (F.col("tf") * (F.lit(k1) + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return contrib.groupBy(id_col).agg(F.round(F.sum("c"), 6).alias("bm25"))


def fingerprint_col(text_col: str = "text", prefix_len: int = 64):
    """Deterministic document fingerprint: md5 of the lowercased,
    whitespace-collapsed prefix — robust to trailing noise, cheap, and
    reproducible in any engine (the DuckDB oracle computes the same)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return F.md5(F.substring(norm, 1, prefix_len))
