"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each variant):

- **Exact** — ``groupBy(content_hash)``: one shuffle on a 32-byte key,
  map-side partial agg; at 100 TB the hash (not the text) shuffles.
- **n-gram Jaccard** — the exact baseline: explode distinct word
  shingles, self-join on shingle, count common. Pairs are generated
  *only* for docs sharing ≥1 shingle, so the join avoids the full n²
  cross product but still degrades on very common shingles; use it as
  the small-scale oracle-of-record and prefer MinHash at scale.
- **MinHash + LSH** — 16 affine permutations over 32-bit shingle
  hashes → 4 bands × 4 rows; candidate pairs share a band key, so the
  shuffle is on band keys (tiny) and the exact-Jaccard verify runs only
  on candidates. This is the 100 TB path: cost ~ O(n · shingles) +
  O(candidates), never O(n²).
- **SimHash** — 60-bit signature (sign of per-bit weight sums over
  word hashes); near-dup = small Hamming distance. Signature build is
  a single explode + groupBy; banding over bit-chunks would give the
  scale path (here pairs are found within LSH-style chunk buckets).

All hashing is md5-derived (ops/hashing.py) so the DuckDB oracle
reproduces every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import MINHASH_COEFFS, h32, h60

N_BANDS = 4
ROWS_PER_BAND = 4
SIMHASH_BITS = 60


def normalize_text(c):
    """lower + trim + collapse runs of whitespace — the canonical form all
    dedup/fingerprint operators hash."""
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def word_shingles(c, n: int = 3):
    """Distinct word n-gram shingles of a text column (array<string>).
    Texts with < n words produce an empty array."""
    words = F.split(normalize_text(c), " ")
    k = F.size(words) - (n - 1)
    grams = F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + j) for j in range(n)]
            ),
        )
    )
    return F.array_distinct(grams)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (normalized) documents.

    Returns (content_hash, group_size, keep_id, dup_ids) for groups with
    more than one member; ``keep_id`` is the smallest id (keep-first, the
    reference's dropDuplicates semantics, validation_rulebook.py:119-125).
    """
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.md5(normalize_text(F.col(text_col))).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("group_size"),
            F.min("doc_id").alias("keep_id"),
            F.array_sort(F.collect_list("doc_id")).alias("member_ids"),
        )
        .filter(F.col("group_size") > 1)
    )


# ---------------------------------------------------------------------------
# Shingle explode (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------
def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, shingle) with per-doc DISTINCT shingles.

    posexplode + windowed lead instead of exploding `word_shingles`
    arrays: Catalyst evaluates higher-order-function lambdas interpreted
    per element (~300µs/shingle measured), while posexplode + lead +
    concat_ws stay inside whole-stage codegen.  Same shingle set as
    word_shingles (distinct, in-order word n-grams)."""
    from pyspark.sql import Window

    words = F.split(normalize_text(F.col(text_col)), " ")
    w = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words).alias("pos", "word"),
    ).filter(F.length("word") > 0)
    win = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("word").alias("w0")] + [
        F.lead("word", j).over(win).alias(f"w{j}") for j in range(1, n)
    ]
    sh = w.select("doc_id", *parts).filter(F.col(f"w{n - 1}").isNotNull())
    return sh.select(
        "doc_id",
        F.concat_ws(" ", *[F.col(f"w{j}") for j in range(n)]).alias("shingle"),
    ).distinct()


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 3,
    min_overlap_ratio: float = 0.0,
) -> DataFrame:
    """Decontamination scan: per corpus document, how much of it is
    covered by shingles that ALSO appear anywhere in a benchmark /
    eval set — the overlap check a training-data pipeline runs before a
    corpus ships (an eval question leaking into training data silently
    inflates downstream scores).

    Output: (doc_id, n_shingles, n_overlap, overlap_ratio) for corpus
    docs with overlap_ratio ≥ ``min_overlap_ratio`` (> 0 always; docs
    sharing no shingle never join).  ``n_shingles`` counts the doc's
    DISTINCT shingles; ``n_overlap`` how many of them occur in the
    benchmark.

    Plan: the benchmark's distinct shingle set (small — eval sets are
    thousands of docs, not billions) joins the corpus's exploded
    shingles on the shingle string; corpus docs aggregate their hit
    counts.  ONE shuffle on shingles; the corpus is scanned once and
    never self-joined.  At 10⁹ corpus docs the benchmark shingle set
    broadcasts and even the shuffle disappears."""
    cs = _exploded_shingles(corpus, id_col, text_col, n)
    bs = (
        _exploded_shingles(benchmark, bench_id_col, bench_text_col, n)
        .select("shingle")
        .distinct()
    )
    sizes = cs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        cs.join(bs, on="shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        hits.join(sizes, on="doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_shingles"), 6)
            .alias("overlap_ratio"),
        )
        .filter(F.col("overlap_ratio") >= min_overlap_ratio)
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (baseline / verify stage)
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All pairs (doc_a < doc_b) with shingle-set Jaccard ≥ threshold.

    Join is on shingle (docs sharing none never pair). At scale, cap
    ultra-common shingles or switch to minhash_lsh_pairs."""
    sh = _exploded_shingles(df, id_col, text_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))

    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, on="shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH candidate pairs
# ---------------------------------------------------------------------------
def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, sig_0..sig_15): min of each affine permutation over the
    doc's shingle hashes. One explode + one groupBy; docs with no
    shingles are absent (consistently excluded downstream)."""
    sh = _exploded_shingles(df, id_col, text_col, n)
    # materialize the md5-derived hash ONCE per shingle — inlining it
    # into the 16 aggregate expressions would md5 each shingle 16 times
    hashed = sh.select("doc_id", (h32(F.col("shingle")) % 2_147_483_647).alias("x"))
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(2_147_483_647)).alias(f"sig_{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def signature_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band keys of a signature table: band key
    = the 4 signature values of the band concatenated — docs sharing any
    band key are LSH candidates.  Shared by the within-batch self-join
    (:func:`minhash_lsh_pairs`) and the cross-run index probe
    (``ops.incremental``)."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"sig_{bi * ROWS_PER_BAND + r}")
                                for r in range(ROWS_PER_BAND)
                            ],
                        ).alias("key"),
                    )
                    for bi in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs via banded LSH then exact-Jaccard verification.

    Band key = (band_idx, 4 signature values) → docs sharing any band
    key become candidates; only candidates pay the exact-Jaccard verify.
    The band join shuffles signatures (16 longs/doc), not text."""
    # the bands self-join and the verify join would otherwise recompute
    # the signature/shingle subtrees once per join side
    sigs = minhash_signatures(df, id_col, text_col, n).persist()
    bands = signature_bands(sigs)

    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(b, on=["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Exact-Jaccard verify ONLY on candidate pairs: join each side's
    # distinct-shingle set and intersect in the JVM.  The expensive
    # shingle self-join never happens — at scale, cost is O(candidates),
    # not O(co-shingled pairs).
    sets = df.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), n).alias("sh"),
    ).persist()
    joined = (
        candidates.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
    )
    return joined.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash) — 60-bit signature over distinct words.

    Per word w: 60 bits of h60(w); bit j contributes +1 if set else -1;
    signature bit j = 1 iff the sum over words is > 0.  Explode words ×
    bits, two-level groupBy — fully distributed, no UDFs.

    Formulation note (measured, sf0.1): a one-groupBy variant with 60
    per-bit conditional sums looks better on paper (one shuffle, 61
    longs/doc instead of 60 rows/doc) but is ~1.6× SLOWER here — the
    60-sum aggregate-update method exceeds JIT-able size so the whole
    aggregate runs de-optimized; packing two counters per long didn't
    recover it.  The explode keeps every operator inside small JIT'd
    codegen, and its shuffle carries ≈ the same bytes per doc after
    map-side partial aggregation, so this shape wins at both scales."""
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
        ).alias("word"),
    ).filter(F.length("word") > 0)
    wh = words.select("doc_id", h60(F.col("word")).alias("wh"))
    bits = wh.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
        F.col("wh"),
    ).select(
        "doc_id",
        "bit",
        # Python F.shiftright only takes literal shift amounts; the SQL
        # function accepts a column.
        F.when(F.expr("shiftright(wh, bit)").bitwiseAND(1) == 1, 1)
        .otherwise(-1)
        .alias("contrib"),
    )
    return (
        bits.groupBy("doc_id", "bit")
        .agg(F.sum("contrib").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
                ).otherwise(F.lit(0).cast("long"))
            ).alias("simhash")
        )
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming — FULL recall.

    Candidate generation buckets signatures on ``max_hamming + 1``
    near-equal bit chunks: a pair differing in at most d bits leaves at
    least one of d+1 chunks untouched (pigeonhole), so every qualifying
    pair meets in some bucket — the guarantee covers the threshold BY
    CONSTRUCTION for any ``max_hamming``.

    Trade-off dial: more chunks ⇒ narrower chunk keys ⇒ bigger buckets
    ⇒ more candidate pairs to verify.  The default d=3 keeps 4 chunks of
    15 bits (32k buckets per chunk — selective).  Raising d to 8 means
    9 chunks of 6-7 bits (64-128 buckets): recall stays exact but each
    bucket holds ~N/64 docs, so verification cost grows toward
    O(N²/buckets) — at corpus scale prefer MinHash-LSH for high-distance
    near-dup and keep SimHash for tight thresholds."""
    sigs = simhash(df, id_col, text_col).persist()  # self-joined below
    n_chunks = max_hamming + 1
    if n_chunks > SIMHASH_BITS:
        raise ValueError(f"max_hamming must be < {SIMHASH_BITS}")
    # distribute the 60 bits as evenly as possible: the first
    # (SIMHASH_BITS % n_chunks) chunks get one extra bit
    base, rem = divmod(SIMHASH_BITS, n_chunks)
    widths = [base + 1 if ci < rem else base for ci in range(n_chunks)]
    starts = [sum(widths[:ci]) for ci in range(n_chunks)]
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("chunk"),
                        F.shiftright(F.col("simhash"), starts[ci])
                        .bitwiseAND((1 << widths[ci]) - 1)
                        .alias("key"),
                    )
                    for ci in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(b, on=["chunk", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Exact repeated-substring spans (suffix-array-style dedup, hashed)
# ---------------------------------------------------------------------------
def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal runs of ≥ ``k`` consecutive words each covered by some
    length-k window that occurs ≥ ``min_count`` times in the corpus
    (windows whose starts are ≤ k apart merge into one span, so an
    interior window of a span need not itself be duplicated) — the exact
    substring-level dedup signal (the published recipe trains a suffix
    array; at cluster scale the equivalent is hashed fixed-k windows,
    which find the identical spans for any duplicated run ≥ k words).

    Output (doc_id, span_start, span_len): 0-based word offset and word
    length of each maximal duplicated span, including intra-document
    repetition (a gram occurring twice in ONE doc is duplicated).

    Plan: positions of word k-grams come from the windowed-lead trick
    (whole-stage codegen, one Exchange on doc_id); grams shuffle as
    md5 digests, never as text (the signature-table discipline of the
    other dedup ops — a 2⁻⁶⁴ collision risk traded for constant-width
    shuffle rows); duplicated grams semi-join back; per-doc
    gaps-and-islands (two windows over the SAME doc_id Exchange) merge
    overlapping windows into maximal spans.  No self-join, no
    cartesian: cost is one corpus shuffle + one digest-table shuffle."""
    from pyspark.sql import Window

    words = F.split(normalize_text(F.col(text_col)), " ")
    w = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words).alias("pos", "word"),
    ).filter(F.length("word") > 0)
    win = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("word").alias("w0")] + [
        F.lead("word", j).over(win).alias(f"w{j}") for j in range(1, k)
    ]
    grams = (
        w.select("doc_id", "pos", *parts)
        .filter(F.col(f"w{k - 1}").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.md5(F.concat_ws(" ", *[F.col(f"w{j}") for j in range(k)])).alias(
                "g"
            ),
        )
    )
    dup = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .select("g")
    )
    hits = grams.join(dup, "g").select("doc_id", "pos")
    # gaps-and-islands: window starts p1 < p2 merge when p2 - p1 ≤ k
    # (their k-word spans overlap or touch)
    ordered = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.withColumn(
        "new_island",
        F.when(
            F.col("pos") - F.lag("pos", 1).over(ordered) <= k, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            ordered.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("long").alias("span_len"),
        )
        .select("doc_id", "span_start", "span_len")
    )


def sql_duplicated_spans(corpus_sql: str, k: int = 8, min_count: int = 2) -> str:
    """DuckDB replay of ``duplicated_spans`` (0-based positions)."""
    from .textstats import sql_words as _sql_words

    gram = " || ' ' || ".join(f"w[i + {j}]" for j in range(k))
    series = f"generate_series(1, greatest(len(w) - {k} + 1, 0))"
    return f"""
WITH corpus AS ({corpus_sql}),
words AS (SELECT doc_id, {_sql_words('text')} AS w FROM corpus),
grams AS (
  SELECT doc_id,
         unnest(list_transform({series}, i -> i - 1)) AS pos,
         unnest(list_transform({series}, i -> md5({gram}))) AS g
  FROM words
),
dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= {min_count}),
hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {k}
              THEN 0 ELSE 1 END AS new_island
  FROM hits
),
islands AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) - MIN(pos) + {k} AS BIGINT) AS span_len
FROM islands GROUP BY doc_id, island
"""
