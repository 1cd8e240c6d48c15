"""Seeded benchmark inputs. The same seed always gives the same inputs;
the program under test only ever sees the generated tables."""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataval_spark import fixtures

# validate_full: the heavy-tailed transcripts fixture with four skewed
# conversations, committed as one snapshot partitioned by ``part``
FULL_CONVS = 40_000
N_PARTS = 16
SKEW_CONVS = 4
SKEW_TURNS = 5_000

# validate_increments: a small base table (increment cost does not
# depend on the base size) plus increments of ~16k turns each
BASE_CONVS = 2_000
INC_CONVS = 2_500
N_INCREMENTS = 7

# corpus_prep: planted shares, in documents
N_DOCS = 600
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
CONTAMINATED_SHARE = 0.01
N_BENCH = 20


def transcripts(spark: SparkSession, n_convs: int, seed: int, skew: bool) -> DataFrame:
    return fixtures.transcripts(
        spark,
        n_convs=n_convs,
        seed=seed,
        n_parts=N_PARTS,
        skew_convs=SKEW_CONVS if skew else 0,
        skew_turns=SKEW_TURNS,
    )


def batches(spark: SparkSession, seed: int) -> DataFrame:
    """The base table (``batch`` 0) and the increments (``batch`` 1..N)
    from one fixture, so every conversation id is fresh to the table
    when its batch lands."""
    df = transcripts(spark, BASE_CONVS + INC_CONVS * N_INCREMENTS, seed, skew=False)
    num = F.substring(F.col("conv_id"), 6, 12).cast("long")
    batch = F.when(num < BASE_CONVS, 0).otherwise(
        F.floor((num - BASE_CONVS) / INC_CONVS) + 1
    )
    return df.withColumn("batch", batch.cast("int"))


def _vocab(rng: random.Random, n: int) -> list[str]:
    syl = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "du", "xa", "ze", "bo", "fi", "gu", "ha"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def documents(seed: int) -> tuple[list[tuple], list[tuple], set[int]]:
    """(docs, benchmark, planted_exact_dup_ids).

    Docs are (doc_id, text, lang) rows: blank-line separated paragraphs
    of newline separated lines. Shared boilerplate lines, shared
    paragraphs and shared 24-token spans give the boilerplate,
    paragraph and span layers work; a few docs run past the 512-token
    window; ``EXACT_DUP_SHARE`` of the docs copy an earlier doc's text,
    ``NEAR_DUP_SHARE`` reorder an earlier doc's lines (same token set,
    so the same SimHash code, different exact fingerprint), and
    ``CONTAMINATED_SHARE`` quote a benchmark text inside a line."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)

    def words(n: int) -> str:
        return " ".join(rng.choice(vocab) for _ in range(n))

    boiler = [f"cookie notice {words(6)} accept all" for _ in range(12)]
    shared_paras = [words(30) for _ in range(40)]
    shared_spans = [words(24) for _ in range(40)]
    bench = [(10_000_000 + i, words(30)) for i in range(N_BENCH)]

    docs: list[tuple] = []
    planted: set[int] = set()
    for doc_id in range(N_DOCS):
        r = rng.random()
        if docs and r < EXACT_DUP_SHARE:
            docs.append((doc_id, rng.choice(docs)[1], "en"))
            planted.add(doc_id)
            continue
        if docs and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            src = rng.choice(docs)[1]
            lines = src.replace("\n\n", "\n").split("\n")
            docs.append((doc_id, "\n".join(reversed(lines)), "en"))
            continue
        paras = []
        long_doc = rng.random() < 0.02
        for _ in range(50 if long_doc else rng.randint(2, 3)):
            lines = [words(rng.randint(6, 14)) for _ in range(rng.randint(1, 2))]
            if rng.random() < 0.15:
                lines[-1] += " " + rng.choice(shared_spans)
            paras.append("\n".join(lines))
        if rng.random() < 0.10:
            paras.insert(rng.randrange(len(paras) + 1), rng.choice(shared_paras))
        if rng.random() < 0.30:
            paras.append(rng.choice(boiler))
        if rng.random() < CONTAMINATED_SHARE / (1 - EXACT_DUP_SHARE - NEAR_DUP_SHARE):
            paras[0] += f"\n{words(5)} {rng.choice(bench)[1]} {words(5)}"
        docs.append((doc_id, "\n\n".join(paras), rng.choice(["en", "en", "de"])))
    return docs, bench, planted
