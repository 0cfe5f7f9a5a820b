"""Conversation-structure validation for multi-turn transcripts.

The reference validates flat tables column-by-column
(``validation_rulebook.py``); a transcript corpus additionally has
CROSS-ROW structure per conversation — role alternation, contiguous
turn indices, tool-call consistency, monotone timestamps.  Broken
structure is a strong drop signal for SFT data (a conversation whose
turns are out of order or whose tool calls lost their tool name can't
be replayed for training), so this operator turns those invariants
into per-conversation metrics + a verdict, the same shape as the
reference's per-column rule report but keyed by ``conv_id``.

Scale: one hash Exchange on ``conv_id`` — the per-turn flag window and
the per-conversation aggregate both partition on it, so Spark reuses
the partitioning (plan shows a single Exchange).  Nothing carries text;
per-conversation state is a fixed handful of counters, and skewed
mega-threads are bounded by the window being a simple running lag (no
whole-partition buffering beyond Spark's own window spill).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .textstats import words


def conversation_structure(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
    ts_col: str = "ts",
    system_role: str = "system",
    user_role: str = "user",
    assistant_role: str = "assistant",
    tool_role: str = "tool",
) -> DataFrame:
    """Per-conversation structural audit of a transcripts table.

    Returns one row per conversation:

    - ``n_turns`` and per-role counts (``n_system`` / ``n_user`` /
      ``n_assistant`` / ``n_tool``);
    - ``starts_with_system`` — turn 0 exists and carries the system
      role;
    - ``idx_contiguous`` — turn indices run 0..n_turns-1 with no gaps
      (indices are assumed unique per conversation, as produced by the
      pipeline's stable re-sort);
    - ``alternation_breaks`` — user/assistant turns whose previous
      user/assistant turn (tool and system turns are transparent) had
      the SAME role: double-texting or a dropped reply;
    - ``tool_mismatch`` — turns where ``role = 'tool'`` disagrees with
      ``tool IS NOT NULL`` in either direction;
    - ``ts_regressions`` — turns whose timestamp precedes the previous
      turn's;
    - ``structure_ok`` — 1 iff all of the above are clean.

    Flags are INT 0/1 (not BOOLEAN) so the output hashes identically
    across engines in the correctness harness.
    """
    conv, idx, role, tool, ts = (
        F.col(conv_col), F.col(idx_col), F.col(role_col),
        F.col(tool_col), F.col(ts_col),
    )
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    is_ua = role.isin(user_role, assistant_role)
    prev_ua_role = F.last(
        F.when(is_ua, role), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    prev_ts = F.lag(ts).over(w)

    flags = df.select(
        conv.alias("conv_id"),
        idx.alias("turn_idx"),
        role.alias("role"),
        (is_ua & (prev_ua_role == role)).cast("int").alias("alt_break"),
        ((role == tool_role) != tool.isNotNull()).cast("int").alias("tool_mm"),
        (prev_ts.isNotNull() & (ts < prev_ts)).cast("int").alias("ts_reg"),
    )

    n = F.count(F.lit(1))
    return flags.groupBy("conv_id").agg(
        n.alias("n_turns"),
        F.sum((F.col("role") == system_role).cast("int")).cast("int").alias("n_system"),
        F.sum((F.col("role") == user_role).cast("int")).cast("int").alias("n_user"),
        F.sum((F.col("role") == assistant_role).cast("int")).cast("int").alias("n_assistant"),
        F.sum((F.col("role") == tool_role).cast("int")).cast("int").alias("n_tool"),
        F.coalesce(
            F.max(F.when(F.col("turn_idx") == 0,
                         (F.col("role") == system_role).cast("int"))),
            F.lit(0),
        ).alias("starts_with_system"),
        ((F.min("turn_idx") == 0) & (F.max("turn_idx") == n - 1))
        .cast("int").alias("idx_contiguous"),
        F.sum("alt_break").cast("int").alias("alternation_breaks"),
        F.sum("tool_mm").cast("int").alias("tool_mismatch"),
        F.sum("ts_reg").cast("int").alias("ts_regressions"),
    ).withColumn(
        "structure_ok",
        (
            (F.col("starts_with_system") == 1)
            & (F.col("idx_contiguous") == 1)
            & (F.col("alternation_breaks") == 0)
            & (F.col("tool_mismatch") == 0)
            & (F.col("ts_regressions") == 0)
        ).cast("int"),
    )


def turn_coherence(df: DataFrame,
                   conv_col: str = "conv_id",
                   idx_col: str = "turn_idx",
                   text_col: str = "text") -> DataFrame:
    """Adjacent-turn lexical coherence per conversation.

    For every turn after the first, the Jaccard overlap between its
    word SET and the previous turn's; per conversation this aggregates
    to ``n_pairs``, ``avg_jaccard`` (rounded to 6 dp — the only
    engine-divergence risk is summation order in the mean) and
    ``n_disjoint`` (adjacent pairs sharing no word at all — the
    integer-exact "topic teleport" count).  A conversation whose
    adjacent turns never share vocabulary is usually a concatenation
    artifact or interleaved sessions, not a dialogue — a drop signal
    the per-turn rules can't see.

    Scale: one hash Exchange on the conversation id shared by the lag
    window and the aggregate; the Jaccard is JVM-side
    ``array_intersect`` on distinct word arrays (codegen — no Python,
    no HOF lambda), and the union size is derived as
    ``|A| + |B| - |A∩B|`` so both engines evaluate the identical
    float expression.
    """
    ws = F.array_distinct(words(F.col(text_col)))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    cur = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(idx_col).alias("turn_idx"),
        ws.alias("__ws"),
    )
    prev = F.lag("__ws").over(w)
    inter = F.size(F.array_intersect(F.col("__ws"), prev))
    denom = F.size(F.col("__ws")) + F.size(prev) - inter
    jac = F.when(denom > 0, inter.cast("double") / denom).otherwise(F.lit(0.0))
    pairs = cur.select(
        "conv_id",
        prev.isNotNull().cast("int").alias("is_pair"),
        F.when(prev.isNotNull(), jac).alias("jac"),
        F.when(prev.isNotNull(), (inter == 0).cast("int")).alias("disjoint"),
    )
    return pairs.groupBy("conv_id").agg(
        F.sum("is_pair").cast("int").alias("n_pairs"),
        F.round(F.coalesce(F.avg("jac"), F.lit(0.0)), 6).alias("avg_jaccard"),
        F.coalesce(F.sum("disjoint"), F.lit(0)).cast("int").alias("n_disjoint"),
    )


def dedup_conversations(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Exact conversation-level dedup: two conversations are duplicates
    iff their ordered turn texts are identical (the SFT ingest failure
    mode — the same dialogue arriving twice under different ids, which
    doc-level dedup can't see because each TURN also exists in the
    other copy).

    Returns one row per conversation: ``(conv_id, fingerprint,
    group_size, canonical_id, is_canonical)`` — keep
    ``is_canonical = 1`` rows' conversations; the rest is drop lineage.
    The canonical survivor is the smallest conv_id (string order),
    deterministic and engine-reproducible.

    Scale: turn text is hashed MAP-SIDE (md5 before the shuffle), so
    the conv_id Exchange carries 32-char digests, never text; the
    fingerprint is the md5 of the idx-ordered digest concatenation
    (a hash chain).  The second Exchange partitions one tiny row per
    conversation by fingerprint for the group window.  NULL text hashes
    to a sentinel so (NULL, '') sequences can't collide.
    """
    per_turn = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(idx_col).alias("turn_idx"),
        F.coalesce(F.md5(F.col(text_col)), F.lit("<null>")).alias("h"),
    )
    fp = per_turn.groupBy("conv_id").agg(
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "h"))),
                    lambda s: s["h"],
                ),
            )
        ).alias("fingerprint")
    )
    w = Window.partitionBy("fingerprint")
    canonical = F.min("conv_id").over(w)
    return fp.select(
        "conv_id",
        "fingerprint",
        F.count(F.lit(1)).over(w).cast("int").alias("group_size"),
        canonical.alias("canonical_id"),
        (F.col("conv_id") == canonical).cast("int").alias("is_canonical"),
    )


def detect_turn_loops(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
    loop_min_run: int = 3,
) -> DataFrame:
    """Detect stuck-agent loops: runs of consecutive turns with
    IDENTICAL text inside a conversation (an agent retrying the same
    reply, a client double-sending — the transcript analogue of the
    repetition heuristic, invisible to per-turn rules because each turn
    is individually clean).

    Per conversation: ``longest_run`` (max consecutive identical
    turns), ``n_repeated_turns`` (turns that duplicate their
    predecessor), ``has_loop`` (1 iff longest_run ≥ ``loop_min_run``).

    Scale: classic run-length encoding as two stacked aggregations on
    the same conv key — a boundary flag (null-safe lag comparison), a
    running sum to number runs, a (conv, run) count, then a conv-level
    max/sum.  Text never shuffles: turns are md5-hashed map-side and
    the windows compare 32-char digests.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    hashed = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(idx_col).alias("turn_idx"),
        F.coalesce(F.md5(F.col(text_col)), F.lit("<null>")).alias("h"),
    )
    new_run = (
        ~F.col("h").eqNullSafe(F.lag("h").over(w))
    ).cast("int")
    runs = hashed.withColumn(
        "run_id", F.sum(new_run).over(
            w.rowsBetween(Window.unboundedPreceding, 0))
    )
    run_lens = runs.groupBy("conv_id", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return run_lens.groupBy("conv_id").agg(
        F.max("run_len").cast("int").alias("longest_run"),
        F.sum(F.col("run_len") - 1).cast("int").alias("n_repeated_turns"),
        (F.max("run_len") >= loop_min_run).cast("int").alias("has_loop"),
    )


def conversation_lang_consistency(
    df: DataFrame,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """Language consistency per conversation: per-turn language guesses
    (the stopword-profile kernel) aggregated to the conversation's
    majority language and its share.  A conversation that flips
    language mid-dialogue is usually two interleaved sessions or a
    crawl artifact — a drop/route signal invisible per turn, and the
    conversation-level companion to the pipeline's per-turn
    ``lang_mismatch`` rule.

    Returns ``(conv_id, n_turns, n_langs, majority_lang,
    majority_frac, is_mixed)``; ``is_mixed`` is 1 when more than one
    non-'und' language appears.  ``majority_frac`` is an exact
    integer ratio (bit-identical across engines); majority ties break
    alphabetically.

    Scale: one groupBy on (conv, lang) — at most a handful of rows per
    conversation — then conv-keyed windows over those tiny rows; the
    language kernel itself is codegen string arithmetic, so text never
    shuffles and never reaches Python.
    """
    from .textstats import lang_guess

    per = df.select(
        F.col(conv_col).alias("conv_id"),
        lang_guess(F.col(text_col)).alias("lang"),
    )
    counts = per.groupBy("conv_id", "lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("conv_id")
    rn = F.row_number().over(
        Window.partitionBy("conv_id").orderBy(F.desc("n"), F.asc("lang"))
    )
    enriched = counts.select(
        "conv_id", "lang", "n",
        F.sum("n").over(w).alias("n_turns"),
        F.count(F.lit(1)).over(w).cast("int").alias("n_langs"),
        F.sum((F.col("lang") != "und").cast("int")).over(w).alias("n_real_langs"),
        rn.alias("rn"),
    )
    return enriched.filter(F.col("rn") == 1).select(
        "conv_id",
        "n_turns",
        "n_langs",
        F.col("lang").alias("majority_lang"),
        (F.col("n") / F.col("n_turns")).alias("majority_frac"),
        (F.col("n_real_langs") > 1).cast("int").alias("is_mixed"),
    )


def neardup_conversations(
    df: DataFrame,
    conv_col: str = "conv_id",
    text_col: str = "text",
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate conversation pairs: Jaccard over each
    conversation's SET of turn digests — robust to a re-ingested
    dialogue with one edited/truncated turn, which defeats
    :func:`dedup_conversations`' exact hash chain.

    Same banded-MinHash shape as the document-level scale path
    (``ops.dedup.minhash_lsh_pairs``), with per-turn md5 digests as the
    token set instead of word shingles: signatures are 16 longs per
    conversation, the band self-join shuffles those longs (never text),
    and only band-colliding candidate pairs pay the exact-Jaccard
    verify against the digest sets.  Returns
    ``(conv_a, conv_b, jaccard)`` for pairs at/above ``threshold``.
    """
    from .dedup import signature_bands
    from .hashing import MINHASH_COEFFS, h32, minhash_perm

    th = F.coalesce(F.md5(F.col(text_col)), F.lit("<null>"))
    hashed = (
        df.select(F.col(conv_col).alias("doc_id"), h32(th).alias("x"))
        .distinct()
        .persist()
    )
    sigs = hashed.groupBy("doc_id").agg(*[
        F.min(minhash_perm(F.col("x"), a, b)).alias(f"sig_{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ])
    bands = signature_bands(sigs).persist()
    cands = (
        bands.alias("a")
        .join(bands.alias("b"), on=["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("conv_a"),
            F.col("b.doc_id").alias("conv_b"),
        )
        .distinct()
    )
    sets = hashed.groupBy("doc_id").agg(F.collect_set("x").alias("s"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    uni = F.size(F.col("s_a")) + F.size(F.col("s_b")) - inter
    jac = inter.cast("double") / uni
    return (
        cands.join(sets.select(F.col("doc_id").alias("conv_a"),
                               F.col("s").alias("s_a")), "conv_a")
        .join(sets.select(F.col("doc_id").alias("conv_b"),
                          F.col("s").alias("s_b")), "conv_b")
        .where(jac >= F.lit(threshold))
        .select("conv_a", "conv_b", F.round(jac, 6).alias("jaccard"))
    )
