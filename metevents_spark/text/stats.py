"""Text analysis operators for training-data pipelines.

All pure JVM-side expressions (split/filter/hash built-ins inside
whole-stage codegen) — no Python in the hot path. Tokenization is
single-space split, matching the synthetic documents table; ratios are
double divisions of exact integer counts, so results are
engine-deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from metevents_spark.io import load_table, local_frame
from metevents_spark.operators.grouped import map_batches

# marker-token sets for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "fr": ("le", "la", "et", "de"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "la", "y", "de"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in")


def _tokens():
    return F.split(F.col("text"), " ")


def token_ngrams(t, n, gram=lambda w, i: F.array_join(w, " ")) -> Column:
    """The sliding n-token windows of the token array ``t``, as one
    array column: ``gram(slice(t, i, n), i)`` for each window start
    i = 1 … size(t) − n + 1, in order. The array is empty when
    size(t) < n and when ``t`` is NULL. ``n`` is an int or a Column;
    the MinHash shingles pass ``least(k, size(t))``, so a document
    shorter than k tokens is one whole-document shingle.

    ``t`` must be BOUND: a projected column name or a lambda variable,
    never ``split(text)`` itself. Codegen does not CSE across lambda
    invocations, so an inlined split re-splits the document once per
    window, turning the O(len·n) expansion into O(len²) per document.
    """
    t = F.col(t) if isinstance(t, str) else t
    windows = F.transform(
        F.sequence(F.lit(1), F.size(t) - n + 1),
        lambda i: gram(F.slice(t, i, n), i),
    )
    return F.when(F.size(t) >= n, windows).otherwise(F.array())


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts, distinct ratio, stopword ratio and a
    composite quality score (length/stopword heuristics).

    The token array is BOUND in its own projection: codegen does not
    CSE repeated split() references, so inlining `_tokens()` into each
    metric re-splits the document per reference (4x here; measured 2.2x
    end-to-end on a split-dominated corpus). CollapseProject keeps the
    binding because the alias is non-cheap and multi-referenced; the
    ratio layer reads the bound counts the same way.
    """
    docs = load_table(spark, sf_dir, "documents")
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    toked = docs.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        _tokens().alias("_t"),
    )
    counts = toked.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size("_t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("_t")).cast("long").alias("n_distinct_tokens"),
        F.expr(f"size(filter(_t, x -> x IN ({stop_list})))").cast("long").alias(
            "n_stopwords"
        ),
    )
    n_tokens = F.col("n_tokens")
    n_distinct = F.col("n_distinct_tokens")
    n_stop = F.col("n_stopwords")
    return counts.select(
        "doc_id",
        "lang",
        "n_chars",
        "n_tokens",
        "n_distinct_tokens",
        (n_distinct.cast("double") / n_tokens).alias("distinct_ratio"),
        "n_stopwords",
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
        ((F.col("n_chars") - (n_tokens - F.lit(1))).cast("double") / n_tokens).alias(
            "avg_token_len"
        ),
    ).orderBy("doc_id")


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language scoring; argmax with deterministic
    tie-break by language code order (a lightweight n-gram heuristic —
    real language ID would plug in here as a pandas UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    # bind the token array once: 5 per-language marker filters read the
    # bound `_t` instead of each re-splitting the document (codegen
    # does not CSE repeated split() references)
    toked = docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"), _tokens().alias("_t")
    )
    scores = {
        lang: F.expr(
            "size(filter(_t, x -> x IN ({})))".format(
                ", ".join(f"'{m}'" for m in markers)
            )
        ).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }
    out = toked.select("doc_id", "labeled_lang", *[
        s.alias(f"score_{lang}") for lang, s in scores.items()
    ])
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = F.lit("und")
    # reversed so earlier languages win ties (first match in order)
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return (
        out.withColumn("pred_lang", F.when(best > 0, pred).otherwise(F.lit("und")))
        .select("doc_id", "labeled_lang", "pred_lang",
                *[f"score_{lang}" for lang in LANG_MARKERS])
        .orderBy("doc_id")
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation —
# the split GPT-style BPE applies before merges. Same regex dialect
# subset works in Java (Spark) and RE2 (DuckDB oracle).
BPE_SPLIT_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace words and BPE-style pieces
    (regexp_extract_all — JVM regex inside codegen, no Python). The
    pieces/words ratio approximates tokens-per-word for budget
    estimates over a training corpus."""
    docs = load_table(spark, sf_dir, "documents")
    # bind both token arrays once: inlined, the regex scan ran 3x and
    # the split 2x per row (codegen does not CSE repeated references)
    toked = docs.select(
        "doc_id",
        _tokens().alias("_w"),
        F.regexp_extract_all(F.col("text"), F.lit(BPE_SPLIT_RE), F.lit(0)).alias(
            "_p"
        ),
    )
    words = F.size("_w").cast("long")
    pieces = F.size("_p").cast("long")
    return toked.select(
        "doc_id",
        words.alias("n_words"),
        pieces.alias("n_pieces"),
        F.size(F.array_distinct("_p")).cast("long").alias("n_distinct_pieces"),
        F.round(pieces.cast("double") / words, 6).alias("pieces_per_word"),
    ).orderBy("doc_id")


# rolling-hash parameters (shared with the DuckDB oracle): token value
# mixes length and first char; classic polynomial fold mod a prime.
_RH_TOK_MULT = 131
_RH_MULT = 1000003
_RH_MOD = 1_000_000_007


def rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-SENSITIVE document fingerprint: polynomial rolling hash
    folded over the token stream (vs doc_fingerprint's order-free set
    hash). Pure higher-order array expressions — transform + aggregate
    — so the fold runs JVM-side in one pass, no UDF, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    # bind the token array once (the fold and the size each re-split
    # the document when inlined — codegen does not CSE split())
    toked = docs.select("doc_id", _tokens().alias("_t"))
    vals = F.transform(
        F.col("_t"),
        lambda x: (
            (F.length(x).cast("long") * _RH_TOK_MULT + F.ascii(x)) % _RH_MOD
        ),
    )
    rolling = F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * _RH_MULT + x) % _RH_MOD,
    )
    return toked.select(
        "doc_id",
        rolling.alias("rolling_hash"),
        F.size("_t").cast("long").alias("n_tokens"),
    ).orderBy("doc_id")


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token set (document-level signature for clustering)."""
    docs = load_table(spark, sf_dir, "documents")
    # bind the distinct token set once: inlined, both the fingerprint
    # and the count re-ran split + array_distinct per reference
    dist = docs.select(
        "doc_id", F.array_distinct(_tokens()).alias("_d")
    )
    fp = F.md5(F.concat_ws(" ", F.sort_array(F.col("_d"))))
    return dist.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.size("_d").cast("long").alias("n_distinct_tokens"),
    ).orderBy("doc_id")


def vocab_top_terms(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """Corpus vocabulary: global token frequencies, top-k with a
    deterministic (count desc, token asc) order — the explode/groupBy
    shape whose map-side partial aggregation keeps the shuffle at
    |vocab| rows per partition, not |tokens|."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(k)
    )


def vocab_top_terms_approx(
    spark: SparkSession, sf_dir: str, k: int = 30, counters: int = 512
) -> DataFrame:
    """Top-k corpus terms via a two-pass heavy-hitters sketch — the
    frequent-items member of the sketch family (alongside HLL distinct
    counts and GK quantiles).

    Pass 1 (candidates): each Arrow batch computes its own exact token
    counts vectorized (pandas value_counts) and keeps only its top
    ``counters`` — a Misra-Gries-style local summary whose merge
    (groupBy-sum) shuffles at most counters x partitions rows, NEVER
    the |vocab|-sized aggregate the exact ``vocab_top_terms`` must
    exchange (unbounded on a web corpus). Pass 2 (exact recount): the
    merged candidate set broadcasts back and the corpus recounts ONLY
    candidate tokens, restoring exact counts for every candidate. Any
    term whose corpus share exceeds 1/counters per partition is
    guaranteed into the candidate set; with counters >> k the result
    matches the exact top-k in practice (asserted against
    vocab_top_terms in tests) but adversarial splits can differ —
    rows-only check, like the other sketches.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")

    def local_top(pdf):
        top = pdf["text"].str.split(" ").explode().value_counts().iloc[:counters]
        return top.index.astype(str), top.to_numpy()

    cand = (
        map_batches(docs, local_top, "token string, n long")
        .groupBy("token")
        .agg(F.sum("n").alias("n_lower"))
        .orderBy(F.col("n_lower").desc(), F.col("token"))
        .limit(counters)
        .select("token")
    )
    exploded = docs.select(F.explode(_tokens()).alias("token"))
    return (
        exploded.join(cand, "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(k)
    )


# quality-filter thresholds (shared with the oracle SQL)
QF_MIN_TOKENS = 30
QF_MIN_DISTINCT_RATIO = 0.30
QF_MAX_STOPWORD_RATIO = 0.30


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents passing the composite quality gate (length, lexical
    diversity, stopword saturation) — the keep-list of a pretraining
    filter stage. Pure column predicates over text_stats metrics."""
    stats = text_stats(spark, sf_dir)
    return (
        stats.filter(
            (F.col("n_tokens") >= QF_MIN_TOKENS)
            & (F.col("distinct_ratio") >= QF_MIN_DISTINCT_RATIO)
            & (F.col("stopword_ratio") <= QF_MAX_STOPWORD_RATIO)
        )
        .select("doc_id", "n_tokens", "distinct_ratio", "stopword_ratio")
        .orderBy("doc_id")
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms.

    tf = term count / doc length; idf = ln((N+1)/(df+1)). One explode
    feeds the per-(doc,term) counts; document frequency is then a
    COUNT window over the term partition of that same frame — one
    term-keyed exchange annotating every row in place, where the
    earlier aggregate-then-join-back formulation shuffled the
    (doc,term) frame twice and needed a persist to share it (measured
    25% faster at the tenfold corpus, identical output, no cache).
    The window pays the term-partition sort the grouping needs anyway;
    nothing vocabulary-sized is ever broadcast. Only the single-row
    corpus count `n_docs` is. Deterministic rank tie-break:
    (score desc, term asc).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # bind the token array once so doc_len and the explode share one
    # split (codegen does not CSE repeated split() references)
    toked = docs.select("doc_id", _tokens().alias("_t"))
    terms = toked.select(
        "doc_id", F.size("_t").alias("doc_len"), F.explode(F.col("_t")).alias("term")
    )
    per_doc = terms.groupBy("doc_id", "doc_len", "term").agg(
        F.count(F.lit(1)).alias("tc")
    )
    wt = Window.partitionBy("term")
    scored_in = per_doc.withColumn(
        "df", F.count(F.lit(1)).over(wt)
    ).crossJoin(n_docs)
    score = F.round(
        (F.col("tc").cast("double") / F.col("doc_len"))
        * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored_in.select("doc_id", "term", score.alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("doc_id", "rank")
    )


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: share of token 2-grams taken by the
    single most frequent 2-gram (the Gopher-style "duplicate n-gram
    fraction" quality rule — high shares mark boilerplate/spam).

    Output per document (docs with >= 2 tokens): total 2-gram count,
    the top 2-gram's count, and rep2_share = top / total.

    Scale shape: ENTIRELY map-side. The 2-gram list is built with a
    higher-order transform, sorted, and the longest equal run is found
    by a single aggregate fold over the sorted array — all inside
    whole-stage codegen, zero shuffle (a groupBy(doc_id, gram)
    formulation would shuffle every gram of the corpus; this shuffles
    nothing and the final orderBy is the only exchange).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toked = docs.select("doc_id", _tokens().alias("t"))
    with_grams = toked.filter(F.size("t") >= 2).select(
        "doc_id", F.array_sort(token_ngrams("t", 2)).alias("grams")
    )
    # fold over the sorted grams tracking (previous gram, current run
    # length, best run length); the best run IS the top 2-gram's count
    best_run = F.expr(
        "aggregate(grams,"
        " struct(cast('' as string) AS prev, 0L AS run, 0L AS best),"
        " (acc, g) -> struct("
        "   g AS prev,"
        "   IF(g = acc.prev, acc.run + 1, 1L) AS run,"
        "   GREATEST(acc.best, IF(g = acc.prev, acc.run + 1, 1L)) AS best),"
        " acc -> acc.best)"
    )
    return (
        with_grams.select(
            "doc_id",
            F.size("grams").cast("long").alias("n_grams"),
            best_run.alias("top_gram_count"),
        )
        .withColumn(
            "rep2_share",
            F.round(
                F.col("top_gram_count").cast("double") / F.col("n_grams"), 6
            ),
        )
        .orderBy("doc_id")
    )


def source_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source x language document-count matrix (explicit pivot values
    keep the plan a single pass: partial counts map-side, one exchange
    on source, no second value-discovery job)."""
    langs = ["de", "en", "es", "fr", "zh"]
    docs = load_table(spark, sf_dir, "documents").select("source", "lang")
    out = docs.groupBy("source").pivot("lang", langs).count()
    return out.select(
        "source",
        *[F.coalesce(F.col(lg), F.lit(0)).cast("long").alias(lg) for lg in langs],
    ).orderBy("source")


def corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report: volume, exact-duplicate share,
    token-length profile, quality-gate pass rate, language spread —
    the one-page rollup a pretraining data dashboard renders.

    ONE scan; every per-document metric (content digest, token count,
    quality predicate) is computed map-side in the same projection.
    The two exact DISTINCT aggregates make Catalyst plan an Expand (3
    rows per doc, one per grouping id) feeding two keyed exchanges —
    the (source, digest) level is distinct-content-sized, which is the
    floor for EXACT dup counting. partial aggregation collapses each
    level map-side before it shuffles. If the exactness isn't needed
    at the 100 TB tier, swap ``countDistinct`` for
    ``approx_count_distinct`` and the plan becomes a single
    partial+final aggregate with sketch merge (no Expand).
    """
    docs = load_table(spark, sf_dir, "documents")
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    # bind the token array once: the quality predicate + the n_tokens
    # output re-split the document ~4x per row when inlined (codegen
    # does not CSE repeated split() references); size()/filter() over
    # the bound `_t` are one array pass each
    toked = docs.select(
        "source", "lang", F.md5("text").alias("digest"), _tokens().alias("_t")
    )
    n_tokens = F.size("_t").cast("long")
    n_distinct = F.size(F.array_distinct("_t")).cast("long")
    n_stop = F.expr(
        f"size(filter(_t, x -> x IN ({stop_list})))"
    ).cast("long")
    quality_ok = (
        (n_tokens >= QF_MIN_TOKENS)
        & ((n_distinct.cast("double") / n_tokens) >= QF_MIN_DISTINCT_RATIO)
        & ((n_stop.cast("double") / n_tokens) <= QF_MAX_STOPWORD_RATIO)
    )
    per_doc = toked.select(
        "source",
        "lang",
        "digest",
        n_tokens.alias("n_tokens"),
        quality_ok.cast("long").alias("q"),
    )
    n = F.count(F.lit(1))
    return (
        per_doc.groupBy("source")
        .agg(
            n.alias("n_docs"),
            F.countDistinct("digest").alias("n_distinct_texts"),
            F.round(
                F.lit(1.0) - F.countDistinct("digest").cast("double") / n, 6
            ).alias("dup_share"),
            F.round(F.sum("n_tokens").cast("double") / n, 4).alias("avg_tokens"),
            F.round(F.sum("q").cast("double") / n, 6).alias("quality_pass_share"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


def corpus_summary_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-tier variant of :func:`corpus_summary`: HLL sketches
    for the distinct counts (``approx_count_distinct``), which removes
    the Expand and makes the whole report ONE partial+final aggregate
    over the scan — sketches merge map-side, so the exchange carries
    |sources| rows regardless of corpus size. Dup share within the
    sketch's ~2% standard error. Rows-only for the same structural
    reason as user_reach_approx (tpch.py): the HLL++ estimate embeds
    engine-private constants; the exact corpus_summary twin carries
    the hash oracle, and the error-band pytest pins this one."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks).cast("long")
    n = F.count(F.lit(1))
    approx_texts = F.approx_count_distinct(F.md5("text"))
    return (
        docs.select("source", "lang", "text")
        .groupBy("source")
        .agg(
            n.alias("n_docs"),
            approx_texts.alias("n_distinct_texts_approx"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0) - approx_texts.cast("double") / n,
                ),
                6,
            ).alias("dup_share_approx"),
            F.round(F.sum(n_tokens).cast("double") / n, 4).alias("avg_tokens"),
            F.approx_count_distinct("lang").alias("n_langs_approx"),
        )
        .orderBy("source")
    )


# hashed-feature linear classifier: engine-portable token bucket hash
# (integer-only until one final division, so Spark and any SQL oracle
# agree bit-for-bit) and pseudo-weights derived from the bucket id by
# multiplicative mixing.
_CLF_BUCKETS = 4093
_CLF_MIX = 2654435761       # Knuth multiplicative constant
_CLF_WMOD = 1000003


def classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style hashed linear classifier scoring — the
    quality-classifier gate a pretraining pipeline runs over every
    document (CCNet / fineweb-edu style), expressed as pure map-side
    codegen: tokens hash into ``_CLF_BUCKETS`` feature buckets, each
    bucket carries a fixed weight, and the document score is the mean
    bucket weight.

    At 100 TB this is the ideal operator shape: zero shuffle (the
    output sort is for the deterministic contract only), no Python, no
    model file to distribute — the "weights" are a pure function of the
    bucket id. Swapping in real trained weights changes ONE expression
    (a broadcast map lookup); the scan/fold plumbing is identical.

    Determinism: bucket ids and weight integers accumulate in exact
    LONG arithmetic (fold order irrelevant — addition of integers is
    associative); the only double op is the final mean, then one
    ROUND(x, 6). The sigmoid is deliberately omitted: it is monotone,
    so thresholding the linear margin is equivalent, and exp() is not
    bit-identical across engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Bind the token array, then the margin, each in its own
    # projection: codegen does not CSE repeated references, so an
    # inlined shape runs the whole hash-weight fold THREE times
    # per row (margin output, keep predicate, and the n_tokens split
    # on top) — ~6 splits + 3 folds per document for a 4-column output.
    toked = docs.select("doc_id", _tokens().alias("_t"))

    def bucket(x):
        return (
            F.length(x).cast("long") * 131
            + F.ascii(x).cast("long") * 7919
            + F.ascii(F.reverse(x)).cast("long") * 104729
        ) % _CLF_BUCKETS

    def weight_int(x):
        return (bucket(x) * _CLF_MIX) % _CLF_WMOD

    wsum = F.aggregate(
        F.transform(F.col("_t"), weight_int),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n = F.size("_t").cast("long")
    scored = toked.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(
            wsum.cast("double") / (n * F.lit(float(_CLF_WMOD))) - 0.5, 6
        ).alias("margin"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "margin",
        (F.col("margin") > 0).alias("keep"),
    ).orderBy("doc_id")


def bpe_pair_counts(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """The merge-selection step of BPE tokenizer training: corpus-wide
    counts of adjacent character pairs inside tokens, top-k by count.
    A full BPE trainer iterates this (count -> merge best pair ->
    recount); the count step is the distributed-scale part — the merge
    table itself is tiny driver state.

    Pair generation is a map-side higher-order expression (sequence +
    substr over the token array — no Python, no per-char explode); the
    single shuffle is the partial+final count on the pair key, bounded
    by the pair vocabulary (<= alphabet^2 per language), NOT corpus
    size. Deterministic top-k via (count desc, pair asc).
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = F.flatten(
        F.transform(
            F.filter(_tokens(), lambda t: F.length(t) >= 2),
            lambda t: F.transform(
                F.sequence(F.lit(1), F.length(t) - 1),
                lambda i: F.substr(t, i, F.lit(2)),
            ),
        )
    )
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(k)
    )


def corpus_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source survivorship funnel through the pretraining filter
    gates — how many documents enter, pass the length gate, then
    length+diversity, then the full quality gate (the cumulative
    intersection, matching how the stages actually cascade), plus the
    end-to-end yield fraction. The report every data-pipeline owner
    asks for before touching thresholds: WHERE documents die.

    One scan, one tiny exchange: the per-doc gate booleans are computed
    alongside text_stats' metrics map-side and collapse into
    conditional-sum aggregates per source — no joins, no second pass,
    |sources| output rows regardless of corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    # bind the token array, then the three counts, each once: the
    # cumulative gate booleans re-split the document ~9x per row when
    # inlined (codegen does not CSE repeated split() references), and
    # g_div appearing in two gates re-ran array_distinct twice
    toked = docs.select("source", _tokens().alias("_t"))
    counts = toked.select(
        "source",
        F.size("_t").cast("long").alias("_nt"),
        F.size(F.array_distinct("_t")).cast("long").alias("_nd"),
        F.expr(f"size(filter(_t, x -> x IN ({stop_list})))")
        .cast("long")
        .alias("_ns"),
    )
    n_tokens = F.col("_nt")
    n_distinct = F.col("_nd")
    n_stop = F.col("_ns")
    g_len = n_tokens >= QF_MIN_TOKENS
    g_div = (
        n_distinct.cast("double") / n_tokens
    ) >= QF_MIN_DISTINCT_RATIO
    g_stop = (n_stop.cast("double") / n_tokens) <= QF_MAX_STOPWORD_RATIO
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")
    return (
        counts.select(
            "source",
            g_len.alias("g_len"),
            (g_len & g_div).alias("g_len_div"),
            (g_len & g_div & g_stop).alias("g_all"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            one_if(F.col("g_len")).alias("n_pass_len"),
            one_if(F.col("g_len_div")).alias("n_pass_len_div"),
            one_if(F.col("g_all")).alias("n_pass_all"),
        )
        .withColumn(
            "yield_pct",
            F.round(
                F.col("n_pass_all") * 100.0 / F.col("n_docs"), 4
            ),
        )
        .orderBy("source")
    )


# fixed demo query set for the BM25 ranking surface: term lists a
# curation pipeline would use to pull topical slices out of a corpus.
BM25_QUERIES = (
    ("q0", ("hash", "join")),
    ("q1", ("window", "agg", "stream")),
    ("q2", ("vector", "scan")),
)


def bm25_rank(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    k1: float = 1.5,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-``k`` documents per query — the retrieval scorer
    a curation pipeline runs to pull topical slices out of a corpus
    (and the standard lexical baseline next to the embedding kNN
    family).

    score(d,q) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)),
    idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1).

    Scale shape: tokens filter against the BROADCAST query-term list
    before any aggregation, so the per-(doc,term) frame is
    |matching terms| sized, not corpus sized; df comes from the same
    filtered frame (query terms only — never a vocabulary-sized
    aggregate); N/avgdl is a one-row broadcast. Top-k per query is a
    window over the per-query score frame (queries are few; the
    per-partition rank is bounded by matching docs). Scores round to
    5 decimals so the oracle comparison is robust to last-ulp ``ln``
    differences across math libraries (same policy as
    unigram_logprob).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stats = docs.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(_tokens())).alias("avgdl"),
    )
    qterms = local_frame(
        spark,
        [(qid, t) for qid, terms in BM25_QUERIES for t in terms],
        "q_id string, term string",
    )
    # bind the token array once so dl and the explode share one split
    toked = docs.select("doc_id", _tokens().alias("_t"))
    toks = toked.select(
        "doc_id",
        F.size("_t").cast("long").alias("dl"),
        F.explode(F.col("_t")).alias("term"),
    ).join(qterms, "term")
    tf = toks.groupBy("q_id", "term", "doc_id", "dl").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # df as a COUNT window over the tf frame itself: tf is keyed by
    # (q_id, term, doc_id), so count(1) per (q_id, term) IS the exact
    # distinct-document frequency. The earlier aggregate-then-join-back
    # shape re-computed the entire scan+explode+broadcast-semi-join
    # subtree a second time (DataFrame reuse without a cache shares no
    # subplan) — two full document scans where one suffices. Same
    # rewrite tfidf_top_terms carries.
    wt = Window.partitionBy("q_id", "term")
    with_df = tf.withColumn("df", F.count(F.lit(1)).over(wt).cast("long"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * (F.col("tf") * (k1 + 1.0)) / denom
    scored = (
        with_df
        .crossJoin(stats)
        .groupBy("q_id", "doc_id")
        .agg(F.round(F.sum(term_score), 5).alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "doc_id", "score")
        .orderBy("q_id", "rank")
    )


# Gopher / MassiveText document-quality rule thresholds, from the
# published recipe (Rae et al. 2021, "Scaling Language Models: ...",
# Appendix A1.1). Deliberately module constants: a curation run tunes
# them per corpus, and the oracle SQL must see the same numbers.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1        # '#' or '...' per word
GOPHER_MAX_BULLET_LINE_FRAC = 0.9    # lines starting with a bullet
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3  # lines ending with '...'
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8     # words containing a letter
GOPHER_MIN_STOPWORD_HITS = 2         # distinct required stopwords seen


def gopher_quality(docs: DataFrame, min_words: int = GOPHER_MIN_WORDS) -> DataFrame:
    """Per-document Gopher quality rule evaluation: every rule as its
    own metric column plus the conjunctive ``keep`` verdict — the
    standard pretraining-corpus cleanliness gate next to the simpler
    ``quality_filter``.

    All pure single-level higher-order functions and regexes —
    whole-stage codegen end-to-end, zero shuffles (callers aggregate
    or filter downstream). ``docs`` needs (doc_id, text); the word and
    line arrays are each split exactly ONCE per row, bound in their own
    projection (the inlined shape re-split per rule — 10 splits
    per row — because codegen does not CSE repeated split() references;
    binding measured 2.2x end-to-end on a split-dominated corpus).

    Library operator (pytest-verified differentially vs a pandas
    re-implementation); intended for registry promotion once the
    round-6 rotation backlog clears.
    """
    # Bind both arrays ONCE in their own projection: codegen does not
    # CSE repeated split() references, so an inlined shape
    # re-split the document per rule family (7 word-array + 3
    # line-array references per row) — measured 2.2x end-to-end on a
    # split-dominated corpus. CollapseProject keeps the binding
    # because the aliases are non-cheap and multi-referenced.
    bound = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("_w"),
        F.split(F.col("text"), "\n").alias("_l"),
    )
    words = F.col("_w")
    lines = F.col("_l")
    n_words = F.size(words)
    n_lines = F.size(lines)
    word_chars = F.aggregate(
        F.transform(words, lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    n_symbols = (
        F.size(F.filter(words, lambda w: w.contains("#")))
        + F.size(F.filter(words, lambda w: w.contains("...")))
    )
    n_bullet = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*([-*•])"))
    )
    n_ellipsis_end = F.size(F.filter(lines, lambda l: l.endswith("...")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in STOPWORDS]),
        )
    )
    out = bound.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(word_chars / n_words, 6).alias("mean_word_len"),
        F.round(n_symbols / n_words, 6).alias("symbol_ratio"),
        F.round(n_bullet / n_lines, 6).alias("bullet_line_frac"),
        F.round(n_ellipsis_end / n_lines, 6).alias("ellipsis_line_frac"),
        F.round(n_alpha / n_words, 6).alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stopword_hits"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(
            GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN
        )
        & (F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("bullet_line_frac") <= GOPHER_MAX_BULLET_LINE_FRAC)
        & (F.col("ellipsis_line_frac") <= GOPHER_MAX_ELLIPSIS_LINE_FRAC)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (F.col("stopword_hits") >= GOPHER_MIN_STOPWORD_HITS)
    )
    return out.withColumn("keep", keep).orderBy("doc_id")


def zipf_fit(
    spark: SparkSession, sf_dir: str, top_terms: int = 200
) -> DataFrame:
    """Per-source Zipf fit: least-squares slope of ln(frequency) vs
    ln(rank) over each source's ``top_terms`` most frequent terms.
    Natural language sits near slope -1 (Zipf's law); sources that
    deviate hard flag templated/boilerplate shards (flat head, slope
    near 0) or degenerate vocabularies — a corpus-forensics signal
    data-quality audits compute per shard.

    Scale shape: term counts are ONE (source, term) groupBy (map-side
    partial aggregation first, so the exchange carries distinct terms
    per source, not tokens); per-source ranking is a window over that
    vocab-sized frame; the regression reduces to the five classical
    sums per source — |sources| rows out. Ties in term frequency rank
    deterministically (term as tiebreak). round(5) absorbs ln/sum
    last-ulp variation across engines, like unigram_logprob.

    Returns (source, n_terms, zipf_slope, zipf_intercept).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    tf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("tf").desc(), F.col("term")
    )
    ranked = tf.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_terms
    )
    xy = ranked.select(
        "source",
        F.log("rank").alias("x"),
        F.log("tf").alias("y"),
    )
    agg = xy.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n_terms").cast("double")
    denom = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return agg.select(
        "source",
        "n_terms",
        F.round(slope, 5).alias("zipf_slope"),
        F.round(intercept, 5).alias("zipf_intercept"),
    ).orderBy("source")


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy (nats) of the document's own token
    distribution, plus Pielou evenness (H / ln(n_distinct)) — the
    information-theoretic quality signal text_stats' distinct_ratio
    only approximates: boilerplate and template spam score near 0
    evenness even when their raw type/token ratio looks healthy.

    Scale shape: ENTIRELY map-side — no explode, no shuffle, no
    Python. Sort the token array per row, then one O(n) SQL
    ``aggregate`` fold over run boundaries accumulates sum(c*ln(c))
    without materializing per-term counts (H = ln(N) - sum(c ln c)/N).
    The only exchange in the plan is the final presentation sort. The
    (doc_id, token) explode+groupBy formulation would shuffle every
    token in the corpus; this shuffles nothing.
    """
    docs = load_table(spark, sf_dir, "documents")
    # bind the token array once: size, array_distinct and array_sort
    # each re-split the document when inlined (codegen does not CSE
    # repeated split() references)
    toked = docs.select("doc_id", "source", F.split(F.col("text"), " ").alias("_t"))
    toks = F.col("_t")
    # sum over distinct terms of c*ln(c), via runs in the sorted array:
    # positions 2..n close a run when s[i] != s[i-1]; the finish lambda
    # closes the last run. filter() guards n=1 (sequence(2,1) would
    # DESCEND, not be empty).
    sum_clnc = F.expr(
        """
        aggregate(
          filter(sequence(2, greatest(size(_srt), 2)),
                 i -> i <= size(_srt)),
          named_struct('s', cast(0.0 as double), 'run', 1),
          (acc, i) -> IF(element_at(_srt, i) = element_at(_srt, i - 1),
                         named_struct('s', acc.s, 'run', acc.run + 1),
                         named_struct('s', acc.s + acc.run * ln(acc.run),
                                      'run', 1)),
          acc -> acc.s + acc.run * ln(acc.run))
        """
    )
    n = F.col("n_tokens").cast("double")
    h = F.log(n) - F.col("_clnc") / n
    return (
        toked.select(
            "doc_id",
            "source",
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
            F.array_sort(toks).alias("_srt"),
        )
        .withColumn("_clnc", sum_clnc)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "n_distinct",
            F.round(h, 6).alias("entropy_nats"),
            F.when(
                F.col("n_distinct") > 1,
                F.round(h / F.log(F.col("n_distinct").cast("double")), 6),
            ).alias("evenness"),
        )
        .orderBy("doc_id")
    )


def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-distribution divergence from the corpus:
    KL(source || corpus) in nats — the source-weighting / drift signal
    a mixture planner reads before reweighting (DSIR-style importance
    weights are exactly exp of these log-ratios). Every source term
    also appears in the corpus distribution by construction, so the KL
    is always finite; KL >= 0 with equality iff the source matches the
    corpus mix.

    Scale shape: one explode feeding a map-side-combinable
    (source, term) count — the ONLY corpus-sized exchange, and partial
    aggregation collapses it to |sources| x |vocab| before the wire.
    That collapsed table feeds four consumers (the join spine, corpus
    term totals, per-source totals, the grand total), so it persists
    (tracked, released by the next registry query) — without the cache
    each consumer would re-run the corpus explode, turning one scan
    into four. Everything after runs on vocabulary-scale tables:
    per-source totals broadcast (|sources| rows), the grand total is a
    1-row broadcast.
    """
    from metevents_spark.cache import track

    docs = load_table(spark, sf_dir, "documents")
    st = track(
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_st"))
        .persist()
    )
    ct = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    nt = st.groupBy().agg(F.sum("c_st").alias("n_t"))
    p = F.col("c_st") / F.col("n_s")  # term share within the source
    q = F.col("c_t") / F.col("n_t")  # term share within the corpus
    return (
        st.join(ct, "term")
        # broadcast: one row per source (est 28 KB → 255 KB, sf0.001 → sf0.1)
        .join(F.broadcast(ns), "source")
        .crossJoin(nt)
        .groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_nats"),
        )
        .orderBy("source")
    )


def score_percentile_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile normalization of a per-document metric (n_chars):
    each document's percentile WITHIN its source and within the whole
    corpus, plus the calibration gap between them — the standard
    pre-mixing step when per-source score scales differ (a 0.8 from a
    clean source is not a 0.8 from a noisy one; ranks are comparable,
    raw scores are not).

    percent_rank ties break on doc_id, so both engines compute the
    identical total order; the ranks are exact rationals
    (rank-1)/(n-1) — deterministic without rounding, rounded to 6 for
    presentation anyway.

    Scale shape: two window sorts (one per grain). Per-source ranks
    partition by source (parallel across sources); the global rank is
    a range exchange — the one unavoidable global sort, because a
    corpus-wide rank IS a global order (at 100 TB you'd swap in the
    approx-quantile two-phase rank; this is the exact tier).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_all = Window.orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.percent_rank().over(w_src), 6).alias("pct_in_source"),
        F.round(F.percent_rank().over(w_all), 6).alias("pct_global"),
        F.round(
            F.percent_rank().over(w_src) - F.percent_rank().over(w_all), 6
        ).alias("calibration_gap"),
    ).orderBy("doc_id")


def rrf_fusion(
    spark: SparkSession, sf_dir: str, k: int = 60, top: int = 100
) -> DataFrame:
    """Reciprocal-rank fusion of two document rankings — the standard
    combiner for hybrid retrieval (lexical rank + semantic rank fuse
    into one list without score calibration, Cormack et al. 2009).
    Here the two signals are document length (n_chars DESC) and
    whitespace token count (DESC), each ranked corpus-wide with
    doc_id tiebreak; RRF(d) = sum_r 1/(k + rank_r(d)).

    Engine-exact: the fused score is quantized per-term in integer
    arithmetic — rrf_ppm = (1e6 div (k+r1)) + (1e6 div (k+r2)) — so
    the output is exact integers end to end; ordering ties break on
    doc_id. No float op anywhere.

    Scale shape: two window row_numbers (range exchanges over the
    ranked metric — at 100 TB each ranking would itself be the top-N
    of an ANN/BM25 stage, thousands of rows, not the corpus; this is
    the exact tier over the full table) and a TakeOrdered for the
    final top-``top``.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    r1 = Window.orderBy(F.desc("n_chars"), "doc_id")
    r2 = Window.orderBy(F.desc("n_tokens"), "doc_id")
    ranked = docs.select(
        "doc_id",
        F.row_number().over(r1).cast("long").alias("rank_chars"),
        F.row_number().over(r2).cast("long").alias("rank_tokens"),
    )
    rrf = (
        F.expr(f"1000000 div ({k} + rank_chars)")
        + F.expr(f"1000000 div ({k} + rank_tokens)")
    ).alias("rrf_ppm")
    return (
        ranked.select("doc_id", "rank_chars", "rank_tokens", rrf)
        .orderBy(F.desc("rrf_ppm"), "doc_id")
        .limit(top)
    )


def chi2_terms(
    spark: SparkSession, sf_dir: str, top: int = 10, min_count: int = 5
) -> DataFrame:
    """Chi-squared term selection per source: for every (source, term)
    the 2x2 contingency chi2 statistic against the rest of the corpus
    — the classic feature-selection step when training a quality /
    domain classifier over a 100 TB crawl (pick the terms most
    associated with each source, drop the rest of the vocabulary).

    With a = count(term in source), b = other tokens in source,
    c = count(term elsewhere), d = other tokens elsewhere, N = a+b+c+d:
    chi2 = N * (a*d - b*c)^2 / ((a+b)(c+d)(a+c)(b+d)).

    Engine-exact: all counts are integers; chi2 is emitted in integer
    MICRO-units — chi2_micro = (1e6 * N * (ad-bc)^2) div
    ((a+b)(c+d)(a+c)(b+d)) — computed in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB), so no float op exists anywhere and ordering ties
    break on term. Only terms with a >= ``min_count`` rank (textbook
    chi2 validity floor).

    Scale shape: one explode + two map-side-collapsing groupBys (term
    counts per source, then global term counts) joined on term; the
    per-source totals frame (|sources| rows) broadcasts; ranking is a
    per-source window over the candidate set. Nothing touches raw
    text after the first aggregate.
    """
    from pyspark.sql import Window

    from metevents_spark.cache import track

    toks = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.col("text"), " ")).alias("term"))
    )
    # three consumers (term totals, source totals, corpus total) plus
    # the candidate join read the same contingency base — persist so
    # the corpus explodes and aggregates ONCE; the frame is bounded by
    # |vocab| x |sources|, not by tokens
    st = track(
        toks.groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("a_cnt"))
        .persist()
    )
    term_tot = st.groupBy("term").agg(F.sum("a_cnt").alias("t_cnt"))
    src_tot = st.groupBy("source").agg(F.sum("a_cnt").alias("s_cnt"))
    n_tot = st.groupBy().agg(F.sum("a_cnt").alias("n_tot"))

    dec = "decimal(38,0)"
    cand = (
        st.join(term_tot, "term")
        # broadcast: one row per source (est 28 KB → 255 KB, sf0.001 → sf0.1)
        .join(F.broadcast(src_tot), "source")
        .crossJoin(n_tot)
        .where(F.col("a_cnt") >= min_count)
        .select(
            "source",
            "term",
            F.col("a_cnt").alias("a"),
            (F.col("s_cnt") - F.col("a_cnt")).alias("b"),
            (F.col("t_cnt") - F.col("a_cnt")).alias("c"),
            (
                F.col("n_tot") - F.col("s_cnt") - F.col("t_cnt")
                + F.col("a_cnt")
            ).alias("d"),
            F.col("n_tot"),
        )
    )
    big = lambda c: F.col(c).cast(dec)
    diff = big("a") * big("d") - big("b") * big("c")
    chi2_micro = F.expr(
        "(1000000 * CAST(n_tot AS DECIMAL(38,0)) * num_sq) div "
        "(CAST(a + b AS DECIMAL(38,0)) * CAST(c + d AS DECIMAL(38,0)) "
        " * CAST(a + c AS DECIMAL(38,0)) * CAST(b + d AS DECIMAL(38,0)))"
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("chi2_micro"), "term"
    )
    return (
        cand.withColumn("num_sq", diff * diff)
        .withColumn("chi2_micro", chi2_micro)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top)
        .select("source", "rank", "term", "a", "chi2_micro")
        .orderBy("source", "rank")
    )


def oov_rate(spark: SparkSession, sf_dir: str, vocab_k: int = 25) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus top-K
    vocabulary — the tokenizer-coverage health check a training
    pipeline runs per data source (a source with high OOV against the
    planned vocab inflates sequence length and degrades loss; pair
    with ``token_count_bpe`` for the subword view).

    The vocab is the deterministic top-``vocab_k`` tokens (count desc,
    token asc — the ``vocab_top_terms`` ordering; the default 25 sits
    below the synthetic corpus's full vocabulary so the rate is
    non-degenerate — a real deployment passes its tokenizer's actual
    vocab size); each source then
    reports exact token/OOV counts and their single-division ratio.
    Two passes over the token explode: the vocab build's shuffle is
    map-side collapsed to |vocab| rows per partition, and the per-source
    pass joins the BROADCAST vocab (vocab_k rows) with a left-anti
    check folded as a null-flag aggregate — no row ever shuffles with
    its token payload twice.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(_tokens()).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(vocab_k)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    flagged = toks.join(vocab, "token", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )
