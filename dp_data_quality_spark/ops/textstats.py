"""Text analysis operators: token counting, quality scoring, language
heuristics, document fingerprinting.

Everything is a pure Column expression (whole-stage codegen, no UDFs).
At 100 TB these are narrow map-side transforms — no shuffle at all
unless the caller aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dedup import normalize_text
from .hashing import h60

# BPE-ish tokenization: letter runs | digit runs | single non-space symbol
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny fixed stopword sets for the n-gram/stopword langid heuristic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "fr": ("le", "la", "les", "de", "des", "et", "que", "pour", "dans", "est"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "für", "auf", "ein"),
    "es": ("el", "la", "los", "de", "y", "que", "por", "para", "con", "es"),
}
LANG_ORDER = tuple(sorted(STOPWORDS))  # deterministic tie-break order


def words(c: Column) -> Column:
    """Word array of normalized text — utility API.  The stats pipeline
    below never materializes this array: every word-derived feature is
    computed from the normalized STRING with length/translate/
    regexp_count arithmetic, because higher-order-function lambdas
    (filter/aggregate/transform) evaluate interpreted per element while
    the string ops stay inside whole-stage codegen (measured ~2× on the
    per-document stats query; see docs/PERF.md)."""
    w = F.split(normalize_text(c), " ")
    return F.filter(w, lambda x: F.length(x) > 0)


# --- normalized-string kernels (no arrays, no HOF lambdas) ---------------
# The kernels expect the TRIMMED collapsed form (``_wordform``):
# normalize_text collapses interior whitespace but its leading ``trim``
# only strips 0x20, so text edged with tabs/newlines normalizes to
# ' a b ' — one extra trim makes words exactly single-space separated
# with no edge spaces.  Then: n_words = spaces + 1, total word chars =
# chars minus spaces, and stopword hits are whole-token regexp matches.
# These identities make every word feature a pure string-arithmetic
# expression with values IDENTICAL to the array formulation (which
# filtered empty tokens; pinned by the property test and the unchanged
# DuckDB oracle, which still uses the list form).

def _wordform(c: Column) -> Column:
    return F.trim(normalize_text(c))


def _n_words(n: Column) -> Column:
    return F.when(
        F.length(n) == 0, F.lit(0)
    ).otherwise(F.length(n) - F.length(F.translate(n, " ", "")) + 1)


def _stop_pattern(lang: str) -> str:
    return "(?:^| )(?:" + "|".join(STOPWORDS[lang]) + ")(?= |$)"


def _stop_hits(n: Column, lang: str) -> Column:
    return F.regexp_count(n, F.lit(_stop_pattern(lang)))


def _mean_word_len(n: Column) -> Column:
    nw = _n_words(n)
    chars = F.length(F.translate(n, " ", ""))
    return F.when(nw == 0, 0.0).otherwise(chars / nw.cast("double"))


def _stop_ratio(n: Column, lang: str = "en") -> Column:
    nw = _n_words(n)
    return F.when(nw == 0, 0.0).otherwise(_stop_hits(n, lang) / nw.cast("double"))


def _lang_guess(n: Column) -> Column:
    # argmax via array_max over (hits, -order, lang) structs: lexicographic
    # struct ordering gives "first language in LANG_ORDER wins ties" for
    # free, and the expression tree stays linear (a nested when-chain
    # copies the accumulated subtree per language).
    cands = F.array(*[
        F.struct(
            _stop_hits(n, lang).alias("h"),
            F.lit(-i).alias("nrk"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(LANG_ORDER)
    ])
    best = F.array_max(cands)
    return F.when(best["h"] > 0, best["lang"]).otherwise(F.lit("und"))


def _quality_score(c: Column, n: Column) -> Column:
    mwl = _mean_word_len(n)
    s = (
        0.4 * alpha_ratio(c)
        + 0.3 * _stop_ratio(n)
        + 0.2 * (1.0 - digit_ratio(c))
        + 0.1 * F.when((mwl >= 3) & (mwl <= 10), 1.0).otherwise(0.0)
    )
    return F.round(s, 6)


def add_text_stats(df, text_col: str = "text", out_prefix: str = ""):
    """Two stacked projections computing every per-document text
    statistic — no word arrays anywhere.  The first materializes each
    expensive scan of the text exactly once (normalize, per-language
    stopword counts, char-class ratios, word arithmetic); the second is
    pure arithmetic over those scalars.  Column values are identical to
    the scalar helpers (same kernels, same rounding)."""
    t = F.col(text_col)
    df = df.withColumn("__n", normalize_text(t)).withColumn(
        "__w", F.trim(F.col("__n"))  # _wordform; __n kept for fingerprint
    )
    n = F.col("__w")
    base = df.select(
        "*",
        F.length(t).alias("__len"),
        _n_words(n).alias("__nw"),
        F.length(F.translate(n, " ", "")).alias("__cns"),
        token_count(t).alias("__tok"),
        alpha_ratio(t).alias("__alpha"),
        digit_ratio(t).alias("__digit"),
        F.md5(F.col("__n")).alias("__fp"),
        *[_stop_hits(n, lang).alias(f"__h_{lang}") for lang in LANG_ORDER],
    )
    nw = F.col("__nw")
    swr = F.when(nw == 0, 0.0).otherwise(F.col("__h_en") / nw.cast("double"))
    mwl = F.when(nw == 0, 0.0).otherwise(F.col("__cns") / nw.cast("double"))
    q = F.round(
        0.4 * F.col("__alpha") + 0.3 * swr + 0.2 * (1.0 - F.col("__digit"))
        + 0.1 * F.when((mwl >= 3) & (mwl <= 10), 1.0).otherwise(0.0),
        6,
    )
    cands = F.array(*[
        F.struct(
            F.col(f"__h_{lang}").alias("h"),
            F.lit(-i).alias("nrk"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(LANG_ORDER)
    ])
    best = F.array_max(cands)
    guess = F.when(best["h"] > 0, best["lang"]).otherwise(F.lit("und"))
    p = out_prefix
    out = base.select(
        "*",
        F.col("__len").alias(f"{p}n_chars_m"),
        nw.alias(f"{p}n_words"),
        F.col("__tok").alias(f"{p}n_tokens"),
        F.round(F.col("__alpha"), 6).alias(f"{p}alpha_ratio"),
        F.round(F.col("__digit"), 6).alias(f"{p}digit_ratio"),
        F.round(swr, 6).alias(f"{p}stopword_ratio"),
        F.round(mwl, 6).alias(f"{p}mean_word_len"),
        q.alias(f"{p}quality_score"),
        guess.alias(f"{p}lang_guess"),
        F.col("__fp").alias(f"{p}fingerprint"),
    )
    # drop exactly the helpers THIS function added — a caller's own
    # '__'-prefixed columns pass through untouched
    helper = ["__n", "__w", "__len", "__nw", "__cns", "__tok",
              "__alpha", "__digit", "__fp",
              *[f"__h_{lang}" for lang in LANG_ORDER]]
    return out.drop(*helper)


def token_count(c: Column) -> Column:
    """BPE-ish token count — counts matches without materializing them."""
    return F.regexp_count(c, F.lit(TOKEN_PATTERN))


def word_count(c: Column) -> Column:
    return _n_words(_wordform(c))


def stopword_hits(c: Column, lang: str) -> Column:
    return _stop_hits(_wordform(c), lang)


def lang_guess(c: Column) -> Column:
    """argmax over per-language stopword hit counts; ties → first language
    in sorted order; zero hits everywhere → 'und'."""
    return _lang_guess(_wordform(c))


def alpha_ratio(c: Column) -> Column:
    n = F.length(c)
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    return F.when(F.coalesce(n, F.lit(0)) == 0, 0.0).otherwise(alpha / n.cast("double"))


def digit_ratio(c: Column) -> Column:
    n = F.length(c)
    digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    return F.when(F.coalesce(n, F.lit(0)) == 0, 0.0).otherwise(digits / n.cast("double"))


def stopword_ratio(c: Column, lang: str = "en") -> Column:
    return _stop_ratio(_wordform(c), lang)


def mean_word_len(c: Column) -> Column:
    return _mean_word_len(_wordform(c))


def quality_score(c: Column) -> Column:
    """Composite [0,1] quality score: rewards alphabetic, stopword-bearing,
    medium-word-length text; penalizes digit soup.  Weights are part of
    the operator contract (mirrored in the oracle)."""
    return _quality_score(c, _wordform(c))


def fingerprint(c: Column) -> Column:
    """64-bit-ish (60-bit) content fingerprint of normalized text."""
    return h60(normalize_text(c))


def top_terms(df, id_col: str = "doc_id", text_col: str = "text", k: int = 5):
    """Top-k characteristic terms per document: term frequency weighted
    by a BM25-flavored RATIONAL idf, ``tf * (N - df + 0.5) / (df + 0.5)``.

    Deliberately no logarithm: ``ln`` is a transcendental whose last-ulp
    behavior differs between Java's and DuckDB's libm, which would break
    bit-exact cross-engine verification; the rational idf keeps the same
    ranking behavior (monotone decreasing in df) using only exact-rounded
    IEEE multiply/divide.

    Scale: one explode + two groupBys (term stats shuffle on the term;
    doc-frequency rows are one per (doc, term)); the corpus size joins as
    a lazy broadcast 1-row crossJoin; ranking is a per-doc window
    (partitioned by doc id — parallel, never global).
    """
    from pyspark.sql.window import Window

    w = df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("term"))
    tf = w.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    n = df.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf")
            * (F.col("n_docs") - F.col("doc_freq") + 0.5)
            / (F.col("doc_freq") + 0.5),
        )
    )
    win = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            id_col, "term", "tf", "doc_freq",
            F.round("score", 6).alias("score"), "rank",
        )
    )


def strip_boilerplate(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_df_frac: float = 0.05,
):
    """Corpus-level boilerplate-line removal (the CCNet/RefinedWeb
    cleaning step): a line occurring in more than ``max_df_frac`` of
    documents (site headers, cookie banners, copyright footers) is
    removed from every document.

    Returns (id_col, clean_text, n_removed) — one row per input doc,
    line order preserved, docs whose every line is boilerplate keep
    ``clean_text = ''``.

    Scale design: documents explode to (doc_id, pos, md5(line)) so the
    doc-frequency groupBy shuffles a constant 32-byte digest, never the
    line text; the total-doc count is a lazy 1-row crossJoin (no driver
    action) like the histogram's two-pass stats; the per-doc rebuild is
    one groupBy on doc_id with a sort-by-position array — no window, no
    self-join.  Exact line identity (no normalization): boilerplate
    stripping must byte-match what it deletes.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("lh", F.md5(F.col("line")))

    line_df = (
        lines.select("lh", id_col)
        .distinct()
        .groupBy("lh")
        .agg(F.count("*").alias("line_df"))
    )
    n_docs = df.select(F.count("*").alias("n_docs"))
    boiler = (
        line_df.crossJoin(F.broadcast(n_docs))
        .filter(F.col("line_df") > F.col("n_docs") * F.lit(max_df_frac))
        .select("lh", F.lit(True).alias("is_boiler"))
    )

    marked = lines.join(boiler, "lh", "left").withColumn(
        "is_boiler", F.coalesce("is_boiler", F.lit(False))
    )
    return marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("is_boiler"), F.struct("pos", "line")
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
        F.sum(F.col("is_boiler").cast("int")).cast("int").alias("n_removed"),
    )


# --- oracle SQL fragments -------------------------------------------------
SQL_NORMALIZE = "regexp_replace(lower(trim({c})), '\\s+', ' ', 'g')"
SQL_WORDS = (
    "list_filter(string_split(" + SQL_NORMALIZE + ", ' '), x -> len(x) > 0)"
)


def sql_words(c: str) -> str:
    return SQL_WORDS.format(c=c)


def vocab_coverage(df, text_col: str = "text", k: int = 50):
    """Corpus vocabulary table for tokenizer training prep: the top-k
    words by frequency with cumulative corpus coverage — "how much of
    the token stream do the first k vocabulary entries explain", the
    curve that sizes a BPE/WordPiece vocab before committing to it.

    Returns ``(rank, word, n, cum_n, coverage)``; coverage is the
    integer-exact cumulative count divided by the integer-exact corpus
    total (one division of exact longs — bit-identical across engines,
    no rounding needed).

    Scale: word counts are one explode + one groupBy (map-side
    combine); the global top-k is orderBy+limit (TakeOrderedAndProject
    — no global sort materialization); only the k surviving rows pass
    through the single-partition ranking window, and the corpus total
    joins as a lazy broadcast 1-row crossJoin.
    """
    from pyspark.sql.window import Window

    w = df.select(F.explode(words(F.col(text_col))).alias("word"))
    counts = w.groupBy("word").agg(F.count("*").alias("n"))
    total = w.select(F.count("*").alias("total"))
    order = [F.desc("n"), F.asc("word")]
    top = counts.orderBy(*order).limit(k)
    rank_w = Window.orderBy(*order)
    cum_w = rank_w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(rank_w).cast("int"))
        .withColumn("cum_n", F.sum("n").over(cum_w))
        .withColumn("coverage", F.col("cum_n") / F.col("total"))
        .select("rank", "word", "n", "cum_n", "coverage")
    )


# Mojibake damage model: text that was UTF-8 encoded but decoded as
# Windows-1252 (with the latin-1 fallback for the five cp1252-undefined
# bytes — exactly what lenient decoders do).  The broken forms are
# DERIVED from that model instead of pasted as literals, because
# several contain C1 control bytes that don't survive copy-paste; the
# repaired characters are written as escapes for the same reason.
# 3-byte punctuation forms precede 2-byte accents so a chain of literal
# replaces can't half-rewrite them.


def _as_mojibake(ch: str) -> str:
    out = []
    for b in ch.encode("utf-8"):
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(bytes([b]).decode("latin-1"))
    return "".join(out)


_MOJIBAKE_CHARS = (
    "\u2019\u201c\u201d\u2013\u2014\u2026"  # quotes, dashes, ellipsis
    "\u00e9\u00e8\u00e4\u00f6\u00fc\u00f1\u00e7"  # accented letters
    "\u00a0"  # non-breaking space (repaired to a plain space)
)

MOJIBAKE_PAIRS: tuple[tuple[str, str], ...] = tuple(
    (_as_mojibake(ch), " " if ch == "\u00a0" else ch)
    for ch in _MOJIBAKE_CHARS
)


def fix_mojibake(c: Column) -> Column:
    """Repair the common UTF-8-decoded-as-Windows-1252 sequences with a
    chain of LITERAL replaces — pure codegen string ops, no regex
    backtracking, no Python."""
    out = c
    for broken, fixed in MOJIBAKE_PAIRS:
        out = F.replace(out, F.lit(broken), F.lit(fixed))
    return out
