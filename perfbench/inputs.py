"""Seeded input generators and the staged-input cache.

Every input is a pure function of (kind, seed, size): the same seed gives
byte-identical rows.  Inputs are staged to parquet once, untimed, then
``os.sync()`` flushes the written pages so the first timed job does not
absorb their writeback.  A staged input is reused only when its key --
kind, seed, size and a hash of the generator code (this file plus
``synth.py``) -- matches, so a generator change never reuses stale data.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dp_data_quality_spark import synth

TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])

MIXED_CONVS = 8000          # ~130k turns, plus the two mega-threads
MEGA_TURNS = 2000
PII_CONVS = 4000            # ~44k turns
STREAM_CONVS = 6000         # ~66k turns over STREAM_BATCHES batches
STREAM_BATCHES = 32
PII_PLAIN_FRAC = 0.05       # share of pii_dense turns carrying no PII
CACHE_KEEP = 24             # staged inputs kept per checkout


@dataclass(frozen=True)
class Staged:
    path: Path
    turns: int
    batches: int = 0        # > 0 for the micro-batch input (one dir per batch)

    def batch_path(self, i: int) -> str:
        return str(self.path / f"batch={i % self.batches}")


def mixed(spark: SparkSession, seed: int) -> DataFrame:
    """``synth.transcripts`` with its planted kind mix and 2 mega-threads."""
    return synth.strip_truth(synth.transcripts(
        spark, MIXED_CONVS, seed=seed, mega_threads=2, mega_turns=MEGA_TURNS))


def pii_dense_frame(seed: int, n_convs: int = PII_CONVS) -> pd.DataFrame:
    """Fluent English turns that almost all carry an email, phone number,
    SSN, IPv4 address or toxicity-lexicon word, built from the synth
    vocabularies (``synth.transcripts`` has no knob for the kind mix)."""
    rng = np.random.default_rng([seed & 0xFFFFFFFF, 2])
    n_turns = rng.integers(2, 21, size=n_convs)
    conv = np.repeat(np.arange(n_convs), n_turns)
    tidx = np.concatenate([np.arange(k) for k in n_turns])
    n = len(conv)

    vocab = np.array(synth.LANG_VOCAB["en"], dtype=object)
    n_words = rng.integers(5, 21, size=n)
    word_ids = rng.integers(0, len(vocab), size=(n, 20))
    kind = rng.integers(0, 5, size=n)
    pick = rng.integers(0, 12, size=n)
    plain = rng.random(n) < PII_PLAIN_FRAC
    bits = (
        lambda p: "Contact me at " + synth.PII_EMAILS[p % len(synth.PII_EMAILS)],
        lambda p: "Call " + synth.PII_PHONES[p % len(synth.PII_PHONES)],
        lambda p: "SSN is " + synth.PII_SSNS[p % len(synth.PII_SSNS)],
        lambda p: "Server at " + synth.PII_IPS[p % len(synth.PII_IPS)],
        lambda p: "you " + synth.TOX_WORDS[p % len(synth.TOX_WORDS)] + " fool.",
    )
    text = []
    for i in range(n):
        sentence = " ".join(vocab[word_ids[i, : n_words[i]]]) + "."
        text.append(sentence if plain[i] else sentence + " " + bits[kind[i]](pick[i]))

    is_tool = (tidx > 0) & (rng.random(n) < 1 / 12)
    role = np.where(tidx == 0, "system",
                    np.where(is_tool, "tool", np.where(tidx % 2 == 1, "user", "assistant")))
    tools = np.array(synth.TOOLS, dtype=object)[pick % len(synth.TOOLS)]
    return pd.DataFrame({
        "conv_id": [f"conv_{c:08d}" for c in conv],
        "turn_idx": tidx.astype("int32"),
        "role": role.astype(object),
        "text": text,
        "tool": np.where(is_tool, tools, None),
        "ts": pd.to_datetime(1_700_000_000 + conv * 3600 + tidx * 7, unit="s"),
    })


def pii_dense(spark: SparkSession, seed: int) -> DataFrame:
    return spark.createDataFrame(pii_dense_frame(seed), TRANSCRIPT_SCHEMA)


def stream(spark: SparkSession, seed: int) -> DataFrame:
    """Plain synth transcripts dealt turn by turn into batches of nearly
    equal size (a turn's keep decision does not depend on its neighbours)."""
    df = synth.strip_truth(synth.transcripts(spark, STREAM_CONVS, seed=seed))
    return df.withColumn(
        "batch",
        F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed)), F.lit(STREAM_BATCHES)).cast("int"))


GENERATORS = {"mixed": mixed, "pii_dense": pii_dense, "stream": stream}
SIZES = {
    "mixed": f"c{MIXED_CONVS}m{MEGA_TURNS}",
    "pii_dense": f"c{PII_CONVS}p{PII_PLAIN_FRAC}",
    "stream": f"c{STREAM_CONVS}b{STREAM_BATCHES}",
}


def code_hash() -> str:
    h = hashlib.sha256()
    for f in (Path(__file__), Path(synth.__file__)):
        h.update(f.read_bytes())
    return h.hexdigest()[:12]


def stage(spark: SparkSession, kind: str, seed: int, cache_dir: Path) -> Staged:
    """Return the staged input for (kind, seed), generating it if needed."""
    path = cache_dir / f"{kind}-seed{seed}-{SIZES[kind]}-{code_hash()}"
    marker = path / "_TURNS"
    batches = STREAM_BATCHES if kind == "stream" else 0
    if not marker.exists():
        tmp = path.with_name(path.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        writer = GENERATORS[kind](spark, seed).write.mode("overwrite")
        if batches:
            writer = writer.partitionBy("batch")
        writer.parquet(str(tmp))
        turns = spark.read.parquet(str(tmp)).count()
        shutil.rmtree(path, ignore_errors=True)
        tmp.rename(path)
        marker.write_text(str(turns))
        os.sync()
        _evict(cache_dir, keep=CACHE_KEEP)
    os.utime(marker)
    return Staged(path, int(marker.read_text()), batches)


def _evict(cache_dir: Path, keep: int) -> None:
    staged = sorted(
        (p for p in cache_dir.iterdir() if (p / "_TURNS").exists()),
        key=lambda p: (p / "_TURNS").stat().st_mtime,
        reverse=True,
    )
    for p in staged[keep:]:
        shutil.rmtree(p, ignore_errors=True)
