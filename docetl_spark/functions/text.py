"""Text-analysis column functions for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.

All are pure Spark SQL expressions (JVM-side, whole-stage-codegen'd) —
no Python in the hot path — so they compose with filters/aggregations
and push down/prune like any built-in function.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, Window as W, functions as F, types as T

WS_SPLIT = r"\s+"

# Small per-language stopword lists (public knowledge) for the n-gram/
# stopword-hit language heuristic. Deterministic rule: count distinct
# stopword hits per language; highest count wins; ties and zero hits
# fall back to "und" (undetermined).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "ich", "auf"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "que", "de", "los", "una", "es", "por", "con", "para"],
}


def tokens(col) -> Column:
    """Whitespace tokens (empty string -> empty array)."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, WS_SPLIT)
    )


def token_count(col) -> Column:
    return F.size(tokens(col)).cast("long")


def avg_token_len(col) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col) -> Column:
    n = F.length(col)
    n_punct = n - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    return F.when(n > 0, n_punct.cast("double") / n).otherwise(F.lit(0.0))


def digit_ratio(col) -> Column:
    n = F.length(col)
    n_dig = n - F.length(F.regexp_replace(col, r"[0-9]", ""))
    return F.when(n > 0, n_dig.cast("double") / n).otherwise(F.lit(0.0))


def stopword_ratio(col, lang: str = "en") -> Column:
    toks = F.transform(tokens(F.lower(col)), lambda t: F.regexp_replace(t, r"[^a-z0-9]", ""))
    hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS[lang])))
    return F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col) -> Column:
    """Heuristic [0,1] quality score: rewards mid-length docs, a healthy
    stopword ratio and mean word length; penalizes punctuation/digit
    noise. Weights are fixed constants so the score is deterministic and
    SQL-mirrorable."""
    n_tok = token_count(col).cast("double")
    len_term = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(col) * 4.0, F.lit(1.0))
    wordlen = avg_token_len(col)
    wordlen_term = F.when((wordlen >= 3.0) & (wordlen <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    noise = F.least(punct_ratio(col) * 2.0 + digit_ratio(col), F.lit(1.0))
    score = 0.4 * len_term + 0.2 * stop_term + 0.2 * wordlen_term + 0.2 * (1.0 - noise)
    return F.round(score, 6)


def quality_rules(
    col,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_ratio: float = 0.80,
    min_sentences: int = 3,
) -> Column:
    """Gopher/C4-style rule-based quality flags (published heuristics:
    Gopher appendix A — word-count window, mean-word-length window,
    ≥80% words containing an alphabetic char; C4 — minimum sentence
    count). Returns a struct of per-rule booleans plus ``passes`` (AND
    of all rules), entirely as JVM expressions: a corpus-scale quality
    filter with no Python in the hot path, and the filter on
    ``passes`` pushes down to a column-pruned scan.

    Defaults are the published thresholds; tighten/loosen per corpus.
    """
    toks = tokens(col)
    n = F.size(toks).cast("double")
    sum_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
    mean_len = F.when(n > 0, sum_len / n).otherwise(F.lit(0.0))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))).cast("double")
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    sentences = F.size(F.filter(F.split(col, r"[.!?]"), lambda s: F.trim(s) != ""))
    word_count_ok = (n >= min_words) & (n <= max_words)
    mean_word_len_ok = (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
    alpha_ok = alpha_ratio >= min_alpha_word_ratio
    sentences_ok = sentences >= min_sentences
    return F.struct(
        word_count_ok.alias("word_count_ok"),
        mean_word_len_ok.alias("mean_word_len_ok"),
        alpha_ok.alias("alpha_word_ratio_ok"),
        sentences_ok.alias("sentence_count_ok"),
        (word_count_ok & mean_word_len_ok & alpha_ok & sentences_ok).alias("passes"),
    )


# PII patterns kept to syntax shared by Java regex and RE2 (DuckDB), so
# redaction is oracle-checkable; order matters (emails/IPs first so the
# looser phone pattern can't eat their digit runs)
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "ip": (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    "phone": (r"\+?\d{1,3}[-. ]?\(?\d{2,4}\)?[-. ]?\d{3,4}[-. ]?\d{3,4}", "[PHONE]"),
}


def pii_redact(col, kinds: tuple[str, ...] = ("email", "ip", "phone")) -> Column:
    """Scrub PII spans with typed placeholders — the standard pretraining
    privacy pass. Chained ``regexp_replace`` JVM expressions: a 100 TB
    redaction is one embarrassingly-parallel scan, no Python."""
    out = col
    for k in kinds:
        pat, rep = PII_PATTERNS[k]
        out = F.regexp_replace(out, pat, rep)
    return out


def pii_counts(col, kinds: tuple[str, ...] = ("email", "ip", "phone")) -> Column:
    """Struct of per-kind PII match counts (audit/reporting side of the
    redaction pass)."""
    return F.struct(
        *[F.regexp_count(col, F.lit(PII_PATTERNS[k][0])).cast("long").alias(k) for k in kinds]
    )


def repetition_stats(col, ngram: int = 2) -> Column:
    """Gopher-style repetition signals: ``dup_line_frac`` (1 - distinct
    non-empty lines / lines) and ``top_ngram_share`` (most frequent word
    n-gram's share of all n-grams). High values mark boilerplate/spam.

    Needs a per-row frequency table, so it runs as one Arrow-batched
    pass (an expression formulation would be O(G^2) per row); row-local,
    embarrassingly parallel."""
    from collections import Counter

    # ASCII whitespace only (regex + strip set), matching RE2/DuckDB \s
    # semantics so the oracle replays the tokenization — unicode-aware
    # python \s would diverge on e.g. non-breaking spaces
    ascii_ws = _re.compile(r"\s+", _re.ASCII)
    ascii_chars = " \t\n\r\f\v"

    def stats(text: str | None) -> dict:
        t = text or ""
        lines = [ln for ln in (s.strip(ascii_chars) for s in t.split("\n")) if ln]
        dup_line_frac = 1.0 - len(set(lines)) / len(lines) if lines else 0.0
        toks = [w for w in ascii_ws.split(t.strip(ascii_chars)) if w]
        grams = [" ".join(toks[i : i + ngram]) for i in range(len(toks) - ngram + 1)]
        top_share = max(Counter(grams).values()) / len(grams) if grams else 0.0
        return {"dup_line_frac": round(dup_line_frac, 6), "top_ngram_share": round(top_share, 6)}

    schema = T.StructType(
        [
            T.StructField("dup_line_frac", T.DoubleType(), True),
            T.StructField("top_ngram_share", T.DoubleType(), True),
        ]
    )

    @F.pandas_udf(schema)
    def rep(s: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([stats(t) for t in s])

    return rep(col.cast("string"))


def trim_repeated_lines(col, *, sep: str = "\n", keep_blank: bool = True) -> Column:
    """C4/Gopher-style intra-document repetition cleanup: drop exact
    duplicate lines, keeping the FIRST occurrence and the original
    order. ``keep_blank=True`` (default) always keeps blank/whitespace
    lines so paragraph structure survives; ``sep="\\n\\n"`` dedups at
    paragraph granularity instead.

    Pure JVM higher-order expressions — no UDF, no shuffle, row-local.
    array_position inside the filter lambda makes it O(lines^2) per
    document, which is fine at real document line counts (<= a few
    thousand); CORPUS-wide duplicate passages are passage_dedup's job,
    not this function's.

    ``sep`` is a LITERAL separator (it is both split regex and join
    delimiter), so regex metacharacters are escaped for the split.
    """
    import re as _re_mod

    lines = F.split(col.cast("string"), _re_mod.escape(sep))

    def keeper(x, i):
        first = F.array_position(lines, x) == (i + F.lit(1)).cast("long")
        if keep_blank:
            return (F.trim(x) == "") | first
        return first

    return F.array_join(F.filter(lines, keeper), sep)


def lang_id(col) -> Column:
    """Stopword-hit language heuristic over STOPWORDS; ties/zero -> 'und'.

    Tie-break: deterministic preference order en > de > fr > es (dict
    order above) — mirror the same CASE order in oracle SQL.
    """
    toks = F.transform(tokens(F.lower(col)), lambda t: F.regexp_replace(t, r"[^a-z0-9]", ""))
    out = F.lit("und")
    best = F.lit(0)
    # build nested CASE: evaluate in reverse preference so earlier langs win ties
    for lang in reversed(list(STOPWORDS)):
        hits = F.size(F.array_intersect(toks, F.lit(STOPWORDS[lang]).cast("array<string>")))
        out = F.when(hits >= F.greatest(best, F.lit(1)), F.lit(lang)).otherwise(out)
        best = F.greatest(best, hits)
    return out


def fingerprint(col) -> Column:
    """Document fingerprint: md5 over the normalized token stream
    (lowercase, alnum-only, single-space-joined). Identical after
    formatting changes -> identical fingerprint; the exact-dedup key."""
    norm = F.array_join(
        F.filter(
            F.transform(tokens(F.lower(col)), lambda t: F.regexp_replace(t, r"[^a-z0-9]", "")),
            lambda t: t != "",
        ),
        " ",
    )
    return F.md5(norm)


import re as _re

_NON_ALNUM = _re.compile(r"[^a-z0-9]")
_WS = _re.compile(r"\s+")


def shingles_py(text: str | None, n: int = 3) -> list[str]:
    """Python mirror of the shingle contract: lowercase, alnum-normalize
    each whitespace token, drop empties, space-join n-grams, distinct
    (first-occurrence order); < n tokens -> one whole-doc shingle."""
    toks = [t for t in (_NON_ALNUM.sub("", w) for w in _WS.split((text or "").lower().strip())) if t]
    if not toks:
        return []
    if len(toks) < n:
        return [" ".join(toks)]
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))


def shingles(col, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct, space-joined) for MinHash /
    Jaccard dedup.

    Implemented as an Arrow-batched pandas UDF, NOT a sequence/transform/
    slice expression: higher-order functions are interpreted per element
    and re-evaluate the embedded tokenization subtree at every gram
    position — O(tokens) re-tokenizations per row (measured 10.6s for
    5000 docs; the UDF does one pass, ~0.5s)."""
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def sh(s: pd.Series) -> pd.Series:
        return s.map(lambda t: shingles_py(t, n))

    return sh(col.cast("string"))


def term_stats(df, text_col: str, *, id_col: str, top_n: int | None = None):
    """Corpus vocabulary statistics: per-term total frequency (tf) and
    document frequency (df) over normalized tokens. The first
    diagnostic a corpus build runs — tokenizer coverage, boilerplate
    terms, stopword balance all read off this table.

    Scale: explode → two-level aggregate. The per-(doc, term) count is
    map-side combinable; the per-term rollup then aggregates at
    vocabulary (not corpus) cardinality. ``top_n`` uses
    TakeOrderedAndProject (per-partition top-k + k-row merge), never a
    global sort of the vocabulary.
    """
    per_doc = (
        df.select(F.col(id_col), F.explode(tokens(F.trim(F.lower(F.col(text_col))))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .count()
    )
    stats = per_doc.groupBy("term").agg(
        F.sum("count").alias("tf"),
        F.count("*").cast("long").alias("df"),
    )
    if top_n is not None:
        stats = stats.orderBy(F.col("tf").desc(), F.col("term")).limit(top_n)
    return stats


def cooccurrence_stats(
    df,
    text_col: str,
    *,
    id_col: str,
    vocab_size: int = 100,
    top_pairs: int | None = None,
):
    """Term co-occurrence statistics over the top-``vocab_size`` terms
    (by document frequency): for every vocabulary pair appearing
    together in a document, the pair's document count, each term's
    document count, and the association lift ``N * df_ab / (df_a *
    df_b)`` (PMI's argument, reported WITHOUT the log so the value is a
    deterministic ratio of exact integers — ln() differs by 1 ulp
    between libm and the JVM on ~2% of inputs; callers wanting PMI take
    ``log(lift)`` themselves). Collocation mining / topic-drift
    diagnostics for corpus builds; nothing in the reference computes
    corpus-level term association.

    Scale posture: the O(L^2) pair blow-up is capped by the vocabulary,
    never document length — per-doc distinct terms are semi-joined
    against the broadcast top-V table BEFORE the self-join, so a doc
    contributes at most C(V,2) pairs regardless of size. The self-join
    is an equi-join on the doc id (one shuffle, both sides the same
    pruned projection), ``t_a < t_b`` halves the output, and pair
    counting is map-side combinable. ``top_pairs`` bounds the result
    via TakeOrderedAndProject (per-partition top-k), not a global sort.

    Output: ``t_a``, ``t_b`` (t_a < t_b), ``df_ab``, ``df_a``,
    ``df_b``, ``n_docs``, ``lift`` (double, 6dp).
    """
    toks = (
        df.select(
            F.col(id_col).alias("_doc"),
            F.explode(
                F.array_distinct(tokens(F.trim(F.lower(F.col(text_col)))))
            ).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    dfreq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    vocab = dfreq.orderBy(F.col("_df").desc(), F.col("term")).limit(int(vocab_size))
    # cache: the self-join references this subtree twice and the vocab
    # aggregate feeds it — without the cache the corpus is scanned and
    # tokenized THREE times (vocab pass + both join sides). Bounded at
    # n_docs x vocab_size narrow rows; MEMORY_AND_DISK default spills
    # rather than evicting into recompute at corpus scale. Released via
    # the _docetl_cached_input handle when the caller materializes.
    vt = toks.join(F.broadcast(vocab), "term").cache()
    pairs = (
        vt.alias("a")
        .join(vt.alias("b"), "_doc")
        .filter(F.col("a.term") < F.col("b.term"))
        .groupBy(
            F.col("a.term").alias("t_a"),
            F.col("b.term").alias("t_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("df_ab"),
            F.first(F.col("a._df")).alias("df_a"),
            F.first(F.col("b._df")).alias("df_b"),
        )
    )
    from .stats import broadcast_scalar_join

    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    # broadcast_scalar_join, not crossJoin: a literal-keyed 1-row join
    # constant-folds into BroadcastNestedLoopJoin, which the plan sweep
    # forbids outright (stats.py:15-32 is the factored idiom)
    out = broadcast_scalar_join(
        pairs, n_docs, df_col="df_ab", scalar_col="n_docs"
    ).withColumn(
        "lift",
        F.round(
            (F.col("n_docs") * F.col("df_ab")).cast("double")
            / (F.col("df_a") * F.col("df_b")).cast("double"),
            6,
        ),
    )
    if top_pairs is not None:
        out = out.orderBy(
            F.col("df_ab").desc(), F.col("t_a"), F.col("t_b")
        ).limit(int(top_pairs))
    out._docetl_cached_input = vt  # release handle: .unpersist() when materialized
    return out


def tfdf_keywords(df, text_col: str, *, id_col: str, top: int = 5):
    """Top-``top`` distinctive terms per document — keyword extraction
    by an EXACT-integer tf-idf surrogate::

        score = tf * ((n_docs * 1_000_000) DIV df)

    i.e. term frequency times a fixed-point inverse document frequency.
    The classic ``tf * ln(N/df)`` ranks identically for fixed tf (ln is
    monotone) but ln() differs by 1 ulp between libm and the JVM on ~2%
    of inputs (the cooccurrence_stats lesson) — integer DIV replays
    bit-for-bit in any engine. Rare-term degenerates (df=1 hapax) rank
    first by construction, as with any unsmoothed idf.

    Scale: one explode + map-side-combinable (doc, term) count; the df
    rollup aggregates at vocabulary cardinality; the df join back is
    one shuffle on the term key over (doc x distinct-term) rows; the
    scalar n_docs rides a broadcast hash join (non-foldable key); the
    final per-doc top-k is a bounded window over each doc's distinct
    terms. No driver state.

    Output: id_col, term, tf, df, score, rank (1..top; ties broken by
    term asc).
    """
    from .stats import broadcast_scalar_join

    if top < 1:
        raise ValueError("top must be >= 1")
    per_doc = (
        df.select(F.col(id_col), F.explode(tokens(F.trim(F.lower(F.col(text_col))))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = per_doc.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = df.select(F.col(id_col)).distinct().agg(
        F.count(F.lit(1)).alias("_nd")
    )
    scored = broadcast_scalar_join(
        per_doc.join(dfreq, "term"), n_docs, df_col="tf", scalar_col="_nd"
    ).withColumn("score", F.expr("tf * ((_nd * 1000000) DIV df)"))
    w = W.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top)
        .select(id_col, "term", "tf", "df", "score", "rank")
    )


def ngram_stats(df, text_col: str, *, id_col: str, n: int = 2, top_n: int | None = None):
    """Corpus n-gram table (the LM-building block above term_stats'
    unigrams): per space-joined word n-gram, total occurrence count
    (``tf``, repeats within a doc count) and document frequency
    (``df``). Docs with < n tokens contribute nothing.

    Plan: tokenize ONCE into a materialized array column, then a pure
    JVM transform over its index sequence (the two-step select keeps
    the tokenizer out of the higher-order lambda — embedded, it
    re-evaluates per gram position: the substring_windows lesson), one
    explode, and the same two-level map-side-combinable aggregate as
    term_stats. ``top_n`` bounds output via TakeOrderedAndProject."""
    if n < 1:
        raise ValueError("n must be >= 1")
    from ..session import widen_scan

    tk = tokens(F.trim(F.lower(F.col(text_col))))
    grams = F.expr(
        f"CASE WHEN size(_tk) >= {int(n)} THEN "
        f"transform(sequence(1, size(_tk) - {int(n) - 1}), "
        f"i -> concat_ws(' ', slice(_tk, i, {int(n)}))) "
        f"ELSE array() END"
    )
    per_doc = (
        widen_scan(df.select(F.col(id_col), F.col(text_col)))
        .select(id_col, tk.alias("_tk"))
        .select(id_col, F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .count()
    )
    stats = per_doc.groupBy("gram").agg(
        F.sum("count").alias("tf"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )
    if top_n is not None:
        stats = stats.orderBy(F.col("tf").desc(), F.col("gram")).limit(int(top_n))
    return stats


def readability(col) -> Column:
    """Flesch reading-ease signals as a struct: ``n_words``,
    ``n_sentences`` (non-empty [.!?] splits, floored at 1 when words
    exist), ``n_syllables`` (per-word vowel-group count ``[aeiouy]+``,
    floored at 1 — the standard public heuristic), and ``flesch`` =
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)
    (NULL for empty text). Pure JVM expressions; the vowel-group regex
    and the fixed left-to-right double arithmetic replay exactly in a
    SQL oracle. Complements quality_score/quality_rules for
    readability-targeted corpus cuts."""
    toks = tokens(F.lower(col))
    n_words = F.size(toks).cast("long")
    syll = F.aggregate(
        F.transform(
            toks,
            lambda t: F.greatest(F.regexp_count(t, F.lit("[aeiouy]+")), F.lit(1)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sents = F.size(F.filter(F.split(col, r"[.!?]"), lambda s: F.trim(s) != "")).cast("long")
    sents_f = F.greatest(sents, F.lit(1).cast("long"))
    flesch = F.when(
        n_words > 0,
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / sents_f.cast("double"))
        - F.lit(84.6) * (syll.cast("double") / n_words.cast("double")),
    )
    return F.struct(
        n_words.alias("n_words"),
        F.when(n_words > 0, sents_f).otherwise(sents).alias("n_sentences"),
        F.when(n_words > 0, syll).otherwise(F.lit(0).cast("long")).alias("n_syllables"),
        F.round(flesch, 6).alias("flesch"),
    )


def vocab_profile(df, text_col: str, *, id_col: str, by: list[str] | None = None):
    """Lexical-richness profile per corpus slice: total token count,
    distinct types, hapax legomena (frequency-1 types), and the EXACT
    integer-bp type-token and hapax ratios (types·10000 DIV tokens,
    hapax·10000 DIV types). The corpus-health companion to term_stats —
    a collapsing TTR flags boilerplate/duplication, a collapsing hapax
    share flags template text, language slices compare directly.

    Empty/whitespace-only docs contribute nothing; a slice with zero
    tokens vanishes (no vocabulary to profile). Output: ``by`` +
    ``n_docs`` + ``n_tokens`` + ``n_types`` + ``n_hapax`` + ``ttr_bp``
    + ``hapax_bp``.

    Scale: explode → per-(by, term) count (map-side combinable: the
    shuffle moves vocabulary-cardinality rows, not token-cardinality)
    → one re-agg; n_docs is a second pass over the (id, text)
    projection — two pruned scans beat dragging the doc dimension
    through the vocabulary shuffle.
    """
    reserved = {"n_docs", "n_tokens", "n_types", "n_hapax", "ttr_bp",
                "hapax_bp", "_vp_t", "_vp_n", "_vp_id", "_tok", "_typ",
                "_hap", "_sk"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"vocab_profile reserves column names {clash}")
    per_term = (
        df.select(
            *(by or []),
            F.explode(tokens(F.trim(F.lower(F.col(text_col))))).alias("_vp_t"),
        )
        .filter(F.col("_vp_t") != "")
        .groupBy(*(by or []), "_vp_t")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_vp_n"))
    )
    sums = per_term.groupBy(*(by or [])).agg(
        F.sum("_vp_n").alias("_tok"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_typ"),
        F.sum(F.when(F.col("_vp_n") == 1, 1).otherwise(0)).cast("decimal(38,0)").alias("_hap"),
    )
    # distinct contributing docs per slice (docs with >=1 token)
    docs = (
        df.select(*(by or []), F.col(id_col).alias("_vp_id"))
        .filter(F.size(F.filter(tokens(F.trim(F.lower(F.col(text_col)))),
                                lambda t: t != "")) > 0)
        .groupBy(*(by or []))
        .agg(F.countDistinct("_vp_id").alias("n_docs"))
    )
    # a zero-token corpus vanishes in BOTH paths: the by-path slice has
    # no per_term rows; the global path filters the all-NULL aggregate
    # row a grouping-keyless groupBy().agg() always emits
    sums = sums.filter(F.col("_tok").isNotNull())
    if by:
        joined = sums.join(docs, by, "left")
    else:
        from .stats import broadcast_scalar_join

        joined = broadcast_scalar_join(sums, docs, df_col="_tok", scalar_col="n_docs")
    return joined.select(
        *(by or []),
        "n_docs",
        F.col("_tok").cast("long").alias("n_tokens"),
        F.col("_typ").cast("long").alias("n_types"),
        F.col("_hap").cast("long").alias("n_hapax"),
        F.expr("CAST(_typ * 10000 DIV _tok AS BIGINT)").alias("ttr_bp"),
        F.expr("CAST(_hap * 10000 DIV _typ AS BIGINT)").alias("hapax_bp"),
    )


def zipf_profile(df, text_col: str, *, id_col: str, top_n: int = 50):
    """Zipf's-law diagnostic over the corpus vocabulary: the ``top_n``
    terms by total frequency with their 1-based rank, the rank·tf
    product (constant under an ideal Zipf distribution — a collapsing
    or exploding column flags templated/boilerplate corpora), and each
    term's share of the TOP term's frequency in exact integer bp
    (tf·10000 DIV max_tf ≈ 10000/rank under Zipf).

    Output: ``rank`` + ``term`` + ``tf`` + ``df`` + ``rank_tf`` +
    ``share_of_top_bp``, rank ascending.

    Plan: term_stats' vocabulary aggregate with its TakeOrdered top-k
    (per-partition top-k + k-row merge, never a vocabulary sort); the
    rank window and max-tf then run over the LIMIT-k table — k rows by
    construction, so the partitionless window is bounded by ``top_n``,
    not by vocabulary size.
    """
    from .stats import bounded_global_window

    top = term_stats(df, text_col, id_col=id_col, top_n=int(top_n))
    w = bounded_global_window("term", F.col("tf").desc(), F.col("term").asc())
    ranked = (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("_max_tf", F.max("tf").over(bounded_global_window("term")))
    )
    return ranked.select(
        "rank", "term", "tf", "df",
        (F.col("rank") * F.col("tf")).alias("rank_tf"),
        F.expr("CAST(CAST(tf AS DECIMAL(38,0)) * 10000"
               " DIV CAST(_max_tf AS DECIMAL(38,0)) AS BIGINT)")
        .alias("share_of_top_bp"),
    ).orderBy("rank")


def vocab_growth(df, text_col: str, *, id_col: str, step: int = 100):
    """Heaps-law vocabulary growth curve: scanning documents in
    ``id_col`` order, the cumulative token count and cumulative
    DISTINCT-term count at every ``step``-th document (plus the final
    document) — the corpus diagnostic that says whether more data is
    still buying new vocabulary or only repeating it. Exact integers
    end to end: a term's first document is min(id), so the number of
    NEW terms a document contributes is a count, and the curve is a
    pair of prefix sums over the per-document table.

    Output: ``n_docs`` (position in id order) + ``doc_id`` +
    ``cum_tokens`` + ``cum_vocab``.

    Plan: one explode → per-(term) min(id) aggregation at vocabulary
    cardinality, one count join back to the per-document grain, then
    _global_cumsum (the distributed range-partitioned prefix sum —
    the per-document table is row-cardinality, exactly the shape a
    bare global window must not see). The checkpoint filter keeps the
    output curve-length, not corpus-length.
    """
    if step < 1:
        raise ValueError("step must be >= 1")
    from .stats import _global_cumsum

    toks = (
        df.select(F.col(id_col), F.explode(
            tokens(F.trim(F.lower(F.col(text_col))))).alias("_vg_t"))
        .filter(F.col("_vg_t") != "")
    )
    per_doc_tokens = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_vg_tok")
    )
    first_doc = toks.groupBy("_vg_t").agg(F.min(id_col).alias("_vg_first"))
    new_terms = first_doc.groupBy(F.col("_vg_first").alias(id_col)).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_vg_new")
    )
    # every document appears (even zero-token ones, via the left join
    # from the source id table) so positions count DOCUMENTS, not
    # token-bearing documents
    docs = df.select(id_col).distinct().join(per_doc_tokens, [id_col], "left") \
        .join(new_terms, [id_col], "left").select(
            F.col(id_col),
            F.coalesce("_vg_tok", F.lit(0).cast("decimal(38,0)")).alias("_vg_tok"),
            F.coalesce("_vg_new", F.lit(0).cast("decimal(38,0)")).alias("_vg_new"),
            F.lit(1).cast("decimal(38,0)").alias("_vg_one"),
        )
    # with_totals: the prefix-sum driver loop already holds the exact
    # totals — no second scan for the final-document checkpoint
    cum, totals = _global_cumsum(
        docs, F.col(id_col).asc(), ["_vg_tok", "_vg_new", "_vg_one"],
        with_totals=True,
    )
    pos = F.col("_vg_one_cum").cast("long")
    total = int(totals["_vg_one"])
    return (
        cum.filter((pos % int(step) == 0) | (pos == total))
        .select(
            pos.alias("n_docs"),
            F.col(id_col).alias("doc_id"),
            F.col("_vg_tok_cum").cast("long").alias("cum_tokens"),
            F.col("_vg_new_cum").cast("long").alias("cum_vocab"),
        )
    )


def ngram_novelty(df, text_col: str, *, id_col: str, n: int = 3):
    """Per-document n-gram NOVELTY: the share of a document's distinct
    word n-grams whose FIRST corpus occurrence (minimum ``id_col``) is
    this document — the dedup-analytics profile behind "how much of
    each incoming doc is new text", the incremental-dedup decision
    figure as a per-doc score instead of a drop.

    Output: ``id_col`` + ``n_ngrams`` (distinct grams in the doc) +
    ``n_novel`` (grams this doc introduces) + ``novelty_bp``
    (n_novel·10⁴ DIV n_ngrams; docs with < n tokens report 0 grams and
    NULL novelty). Deterministic: ties on the first occurrence go to
    the LOWEST id — "first" is by id order, the ingestion order key.

    Plan (linear, the dedup posture; r11 optimization, guide §2.3):
    ``n_ngrams`` is just the SIZE of the doc's distinct-gram array —
    computed inline at the doc grain, no explode, no shuffle — and
    ``n_novel`` per doc is the number of (gram → min id) rows whose
    min IS this doc, i.e. a count aggregation of the gram-first table
    by its min-id column. So: tokenize, explode distinct grams, ONE
    map-side-combinable aggregation to (gram → min id), ONE doc-grain
    re-aggregation of it, one doc-keyed join. The former shape instead
    equi-joined the first-occurrence table back onto the full exploded
    gram table (a row-grain shuffle of every gram string) before
    counting. Identical integers; ``id_col`` is the unique doc key
    (rows with a NULL id report 0 grams, the join-miss contract).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    from ..session import widen_scan

    tk = tokens(F.trim(F.lower(F.col(text_col))))
    grams = F.expr(
        f"CASE WHEN size(_tk) >= {int(n)} THEN "
        f"array_distinct(transform(sequence(1, size(_tk) - {int(n) - 1}), "
        f"i -> concat_ws(' ', slice(_tk, i, {int(n)})))) "
        f"ELSE array() END"
    )
    # persisted: BOTH branches (the doc-grain size projection and the
    # gram explode) read the computed arrays — unpersisted, Catalyst
    # inlines the tokenize+gram expression into each branch AND pushes
    # the explode's implicit size(...)>0 filter below the widening
    # repartition, re-running the regex pipeline ~3x on the narrow
    # pre-shuffle scan partitions (measured 1.3 -> 7.0 s at sf0.1).
    # Evictable storage, release handle attached (the theil_sen idiom);
    # tokenization now runs ONCE per row at any scale.
    base = (
        widen_scan(df.select(F.col(id_col), F.col(text_col)))
        .select(id_col, tk.alias("_tk"))
        .select(id_col, grams.alias("_ga"))
        .persist()
    )
    doc_grain = base.select(
        id_col,
        F.when(F.col(id_col).isNotNull(), F.size("_ga"))
        .otherwise(F.lit(0)).cast("long").alias("n_ngrams"))
    novel = (
        base.select(id_col, F.explode("_ga").alias("_gram"))
        .groupBy("_gram").agg(F.min(id_col).alias("_first"))
        .groupBy(F.col("_first").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    out = (
        doc_grain.join(novel, id_col, "left")
        .select(
            id_col,
            "n_ngrams",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.expr("CASE WHEN n_ngrams > 0 THEN "
                   "CAST(coalesce(n_novel, 0) * 10000 DIV n_ngrams"
                   " AS BIGINT) END")
            .alias("novelty_bp"),
        )
    )
    out._docetl_cached_input = base  # release: .unpersist() when done
    return out
