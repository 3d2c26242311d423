"""Distributed BPE tokenizer training and application.

The reference library (metevents, /root/reference/metevents) has no
text surface at all; this is part of the §8.3 LLM-pipeline extension.
`bpe_pair_counts` (stats.py) demonstrates the count step; this module
runs the full loop — learn a merge table from the corpus, then encode
documents with it — with the distributed/driver split a 100 TB corpus
forces:

- The WORD-FREQUENCY table is the unit of distribution. Corpus text
  collapses to (word, freq) once — a single corpus-sized shuffle — and
  every training round then works on |vocab| rows, not documents.
- Each merge round is one pair-count aggregation (map-side partial sum
  keyed by the symbol pair) plus a ONE-ROW argmax collect. Driver
  state is the merge table itself — the tokenizer artifact, bounded by
  n_merges, never data-sized.
- Merge application is a JVM-side ``aggregate`` fold over the symbol
  arrays (greedy left-to-right, non-overlapping — the classic BPE
  convention), so no round moves word payloads through Python.
- The rounds run under ``cache.fixpoint`` (its docstring states the
  round contract), which cuts lineage per round; without that Catalyst
  re-analyzes n_merges nested fold lambdas each round.
- ENCODING is vocab-sized, not corpus-sized: each DISTINCT word is
  encoded once in an Arrow-batched pandas UDF, and documents get their
  token counts back through a join on the word.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metevents_spark.cache import fixpoint, release
from metevents_spark.io import load_table, local_frame

END = "</w>"


def word_freqs(docs: DataFrame) -> DataFrame:
    """(word, freq) over whitespace tokens — the corpus-sized step."""
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _char_symbols(word_col) -> F.Column:
    """word -> [c1, c2, ..., cn, '</w>'] without relying on split('')
    edge semantics."""
    return F.concat(
        F.expr(
            "transform(sequence(1, length(word)),"
            " i -> substr(word, i, 1))"
        ),
        F.array(F.lit(END)),
    )


def _merge_fold(left: str, right: str, merged: str) -> F.Column:
    """Greedy left-to-right, non-overlapping replacement of the
    adjacent pair (left, right) by ``merged`` inside the ``syms``
    array — pure Column-side aggregate fold, no SQL-string escaping."""
    return F.aggregate(
        "syms",
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def learn_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = 12
) -> list[tuple[int, str, str, str, int]]:
    """Train ``n_merges`` BPE merges; returns
    [(rank, left, right, merged, pair_count), ...].

    Ties break (count desc, left asc, right asc) so the merge table is
    deterministic across engines and partitionings.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    merges: list[tuple[int, str, str, str, int]] = []

    def apply_last(wf: DataFrame, r: int) -> DataFrame:
        # round 0 only checkpoints the word table for the first argmax
        if not r:
            return wf
        _, left, right, merged, _ = merges[-1]
        return wf.withColumn("syms", _merge_fold(left, right, merged))

    def no_pair_left(_: DataFrame, wf: DataFrame) -> bool:
        # guard size<2: sequence(0, -1) DESCENDS in Spark ([0, -1]),
        # so a fully-merged single-symbol word would index out of
        # bounds (hit by overlap-heavy corpora where short words merge
        # to one symbol within n_merges; tests/test_bpe_oracle_parity)
        pairs = wf.select(
            "freq",
            F.explode(
                F.expr(
                    "CASE WHEN size(syms) < 2 THEN"
                    " array()"
                    " ELSE transform(sequence(0, size(syms) - 2),"
                    " i -> struct(syms[i] AS l, syms[i + 1] AS r)) END"
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if best:
            left, right, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
            merges.append((len(merges) + 1, left, right, left + right, n))
        return not best

    wf = word_freqs(docs).select("word", "freq", _char_symbols("word").alias("syms"))
    wf, _ = fixpoint(spark, wf, apply_last, no_pair_left, n_merges)
    # the merge table is plain Python: nothing downstream reads wf
    release(wf)
    return merges


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


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> int:
    """Token count of one word under the merge table: repeatedly apply
    the LOWEST-RANK applicable merge, greedy left-to-right within a
    pass — the standard BPE encode loop. Shared by the Spark UDF and
    the test reference."""
    syms = list(word) + [END]
    while len(syms) > 1:
        cand = [
            (ranks[(a, b)], i)
            for i, (a, b) in enumerate(zip(syms, syms[1:]))
            if (a, b) in ranks
        ]
        if not cand:
            break
        r = min(c[0] for c in cand)
        pair = next(
            (syms[i], syms[i + 1]) for rr, i in cand if rr == r
        )
        out, i = [], 0
        while i < len(syms):
            if (
                i + 1 < len(syms)
                and (syms[i], syms[i + 1]) == pair
            ):
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def bpe_token_count(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 12,
    merges: list[tuple[int, str, str, str, int]] | None = None,
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
