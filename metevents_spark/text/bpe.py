"""BPE tokenizer training and application over a Spark corpus.

The reference library (metevents, /root/reference/metevents) has no
text surface at all; this is part of the §8.3 LLM-pipeline extension.
`bpe_pair_counts` (stats.py) is the one-shot pair count; this module
learns a merge table from the corpus, then encodes documents with it.
The work splits between Spark and the driver by size:

- The WORD-FREQUENCY table is the unit of distribution. Corpus text
  collapses to (word, freq) once (``word_freqs``, a single
  corpus-sized shuffle), and that table, |vocab| rows, reaches the
  driver through Arrow.
- Training is the textbook incremental trainer (Sennrich et al., ACL
  2016) in driver memory: ``merge_table`` counts adjacent symbol pairs
  once, then each merge rewrites only the words that hold the pair and
  moves only their counts. Training runs the same Spark jobs whatever
  ``n_merges`` is.
- Driver state is the word table. Its collect is bounded by
  ``spark.driver.maxResultSize``: a vocabulary past that bound fails
  the job with an error, it is never cut short silently.
- One greedy left-to-right, non-overlapping pair replacement
  (``merge_pair``, the classic BPE convention) serves both training
  and ``encode_word``.
- ENCODING is vocab-sized, not corpus-sized: each DISTINCT word is
  encoded once in an Arrow-batched pandas UDF, and documents get their
  token counts back through a join on the word.
"""

from __future__ import annotations

import heapq
import math
from collections import Counter, defaultdict
from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metevents_spark.io import load_table, local_frame

END = "</w>"

Pair = tuple[str, str]
Merge = tuple[int, str, str, str, int]  # rank, left, right, merged, count


def word_freqs(docs: DataFrame) -> DataFrame:
    """(word, freq) over whitespace tokens — the corpus-sized step."""
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def merge_pair(syms: list[str], left: str, right: str) -> list[str]:
    """``syms`` with every adjacent (left, right) replaced by
    ``left + right``, greedy left to right and non-overlapping: in
    ``a a a`` the pair (a, a) merges once, to ``aa a``."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _pairs(syms: list[str]) -> zip:
    return zip(syms, syms[1:])


def _index(
    syms: list[list[str]], freqs: Sequence[int]
) -> tuple[Counter[Pair], defaultdict[Pair, set[int]]]:
    """Freq-weighted count of each adjacent pair, and the words that
    hold it."""
    counts: Counter[Pair] = Counter()
    holders: defaultdict[Pair, set[int]] = defaultdict(set)
    for k, (s, f) in enumerate(zip(syms, freqs)):
        for p in _pairs(s):
            counts[p] += f
            holders[p].add(k)
    return counts, holders


def _rewrite(
    syms: list[list[str]],
    freqs: Sequence[int],
    holders: defaultdict[Pair, set[int]],
    left: str,
    right: str,
) -> Counter[Pair]:
    """Merge (left, right) in every word that holds it; returns how
    each pair's freq-weighted count moved, and keeps ``holders``
    current."""
    moved: Counter[Pair] = Counter()
    for k in holders.pop((left, right)):
        old, syms[k] = syms[k], merge_pair(syms[k], left, right)
        for p in set(_pairs(old)):
            holders[p].discard(k)
        for p in _pairs(old):
            moved[p] -= freqs[k]
        for p in _pairs(syms[k]):
            moved[p] += freqs[k]
            holders[p].add(k)
    return moved


def merge_table(
    words: Sequence[str], freqs: Sequence[int], n_merges: int
) -> list[Merge]:
    """Learn up to ``n_merges`` merges from a word-frequency table;
    returns [(rank, left, right, merged, pair_count), ...].

    A word starts as its characters plus ``END``. Each round merges
    the pair with the largest freq-weighted count; ties break by
    (left, right) ascending, and Python orders ``str`` by code point,
    which is Spark's UTF8_BINARY and DuckDB's order. The table stops
    early once no pair has a positive count.

    Pair counts and the words holding each pair are indexed once. A
    merge rewrites only the words that hold its pair and pushes the
    counts that moved onto a heap; a heap entry whose count is no
    longer current is skipped when popped.
    """
    syms = [list(w) + [END] for w in words]
    counts, holders = _index(syms, freqs)
    heap = [(-n, *p) for p, n in counts.items() if n > 0]
    heapq.heapify(heap)
    merges: list[Merge] = []
    while heap and len(merges) < n_merges:
        neg, left, right = heapq.heappop(heap)
        if counts[(left, right)] != -neg:
            continue
        merges.append((len(merges) + 1, left, right, left + right, -neg))
        for p, d in _rewrite(syms, freqs, holders, left, right).items():
            counts[p] += d
            if d and counts[p] > 0:
                heapq.heappush(heap, (-counts[p], *p))
    return merges


def learn_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = 12
) -> list[Merge]:
    """Train ``n_merges`` BPE merges over the ``documents`` corpus;
    returns [(rank, left, right, merged, pair_count), ...].

    Spark computes the word-frequency table; it is collected to the
    driver through Arrow, so driver memory holds the whole vocabulary,
    within ``spark.driver.maxResultSize`` (past it the collect fails).
    ``merge_table`` then trains in memory, with no Spark job per merge.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    wf = word_freqs(docs).toArrow()
    return merge_table(
        wf.column("word").to_pylist(), wf.column("freq").to_pylist(), n_merges
    )


def bpe_learn(
    spark: SparkSession, sf_dir: str, n_merges: int = 12
) -> DataFrame:
    """Registry entry: the learned merge table as a DataFrame
    (rank, left, right, merged, pair_count)."""
    return local_frame(
        spark,
        learn_merges(spark, sf_dir, n_merges),
        "rank long, left string, right string, merged string,"
        " pair_count long",
    ).orderBy("rank")


def encode_word(word: str, ranks: dict[Pair, int]) -> int:
    """Token count of one word under the merge table: repeatedly apply
    the LOWEST-RANK applicable merge with ``merge_pair`` — the
    standard BPE encode loop. Shared by the Spark UDF and the test
    reference."""
    syms = list(word) + [END]
    while len(syms) > 1:
        pair = min(_pairs(syms), key=lambda p: ranks.get(p, math.inf))
        if pair not in ranks:
            break
        syms = merge_pair(syms, *pair)
    return len(syms)


def bpe_token_count(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 12,
    merges: list[Merge] | None = None,
) -> DataFrame:
    """Per-document token count under a corpus-trained BPE merge table
    — the real-tokenizer upgrade of token_count_bpe's regex
    approximation. Output: (doc_id, n_words, n_tokens_bpe).

    Scale shape: encoding touches each DISTINCT word once (pandas UDF
    over the vocab table — Arrow batches of words, not documents), and
    documents pick up their counts through a join on the word,
    broadcast while the vocabulary fits. The merge table rides in the
    UDF closure: n_merges entries, tokenizer-sized driver state by
    definition.
    """
    if merges is None:
        merges = learn_merges(spark, sf_dir, n_merges)
    ranks = {(l, r): rank for rank, l, r, _, _ in merges}

    @F.pandas_udf("long")
    def n_tokens(words: pd.Series) -> pd.Series:
        return words.map(lambda w: encode_word(w, ranks))

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doc_words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") > 0)
    vocab = doc_words.select("word").distinct().select(
        "word", n_tokens("word").alias("word_tokens")
    )
    return (
        doc_words.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("word_tokens").alias("n_tokens_bpe"),
        )
        .orderBy("doc_id")
    )
