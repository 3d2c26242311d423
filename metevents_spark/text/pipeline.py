"""Training-data pipeline operators: decontamination, sequence packing,
stratified sampling.

All pure JVM-side expressions (split / higher-order array functions /
window aggregates inside whole-stage codegen) — no Python in the hot
path. Tokenization is single-space split, matching the rest of the
text module so every operator shares one tokenizer definition.

Beyond-reference surface: the reference (metevents, events.py) has no
corpus operators at all; these are the pretraining-pipeline extensions
called for by the engine charter (SURVEY.md §8.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metevents_spark.functions.sketches import TWO60, h60
from metevents_spark.io import load_table, local_frame
from metevents_spark.text.stats import token_ngrams


def decontaminate_ngram(
    spark: SparkSession,
    sf_dir: str,
    n: int = 5,
    eval_mod: int = 50,
) -> DataFrame:
    """Train/eval n-gram decontamination.

    Documents with ``doc_id % eval_mod == 0`` form the held-out eval
    set; every other document is training data. A training document is
    contaminated if it shares at least one token n-gram with any eval
    document. Output: (doc_id, n_shared) for contaminated docs, where
    n_shared counts the DISTINCT shared n-grams.

    Scale shape: the eval-side distinct n-gram set is tiny relative to
    the corpus (eval sets are fixed-size benchmarks), so it broadcasts
    and the contamination check is a broadcast join against the
    exploded training n-grams — no corpus-sized shuffle. The n-gram
    expansion itself is a higher-order-function `transform` over the
    token array, evaluated inside codegen.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exploded = _doc_ngrams(docs, n)
    eval_grams = (
        exploded.filter(F.col("doc_id") % eval_mod == 0)
        .select("gram")
        .distinct()
    )
    train = exploded.filter(F.col("doc_id") % eval_mod != 0)
    return (
        # broadcast: held-out eval-set n-grams (est 22 KB → 198 KB, sf0.001 → sf0.1)
        train.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
        .orderBy("doc_id")
    )


def _doc_ngrams(docs: DataFrame, n: int) -> DataFrame:
    """-> (doc_id, gram) exploded token n-grams, codegen-side; docs
    shorter than n contribute no rows.

    Grams are NOT deduped per document: for the decontaminate pair,
    whose broadcast join and tail-sized countDistinct collapse
    duplicates cheaply, a map-side array_distinct measured a 1.5-2x
    regression at sf0.1 (0.68 → 1.0 s decontaminate_ngram, 1.2 →
    1.9 s decontaminate_bloom). contamination_fraction, which needs
    per-document distinct grams, applies array_distinct itself.
    """
    toked = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    return toked.select("doc_id", F.explode(token_ngrams("t", n)).alias("gram"))


def build_bloom_words(
    keys: DataFrame, m_bits: int, n_hashes: int
) -> DataFrame:
    """Distributed Bloom-filter build over ``keys`` (single column).

    Each key sets ``n_hashes`` bits chosen by seeded xxhash64; bits
    OR-combine into 64-bit words via groupBy word index + bit_or
    (partial aggregation collapses map-side, the exchange carries at
    most m_bits/64 rows). The bitmap stays SPARSE and DISTRIBUTED:
    -> (w: word index, word: 64-bit mask), one row per word with at
    least one bit set — bounded by min(m_bits/64, n_hashes·|keys|)
    regardless of key count, and never collected to the driver.
    """
    col = keys.columns[0]
    pos = F.array(
        *[
            F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits))
            for i in range(n_hashes)
        ]
    )
    return (
        keys.select(F.explode(pos).alias("pos"))
        .select(
            F.expr("shiftright(pos, 6)").alias("w"),
            F.expr("shiftleft(cast(1 as bigint), cast(pos & 63 as int))").alias(
                "bit"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_prefilter(
    df: DataFrame,
    col_name: str,
    words: DataFrame,
    m_bits: int,
    n_hashes: int,
) -> DataFrame:
    """Keep only rows whose ``col_name`` MIGHT be in the Bloom bitmap.

    The sparse word table broadcasts once (a set bit exists in at most
    n_hashes·|keys| words, a few hundred KB for benchmark-sized key
    sets) and each hash probes it with a broadcast HASH join on the
    word index — the inner join doubles as the "word has any bit" test
    (a missing word row means all 64 bits are zero), and the surviving
    rows check their single bit with a shift+mask filter. No shuffle
    of ``df``, no Python, no driver round-trip. False positives
    possible, false negatives impossible (callers confirm-join the
    survivors). An earlier formulation embedded the bitmap as an
    array literal probed by element_at — PySpark's ``F.lit(list)``
    builds a CreateArray that re-materializes all m/64 elements PER
    ROW (measured 8.4s vs 0.5s on a 246k-gram scan), so the join
    formulation is the fast path, not the fallback. The dynamic shift
    amounts force SQL-side shiftright (the Python ``F.shiftright``
    only takes literal counts), so probe columns are materialized
    under reserved names and dropped on exit.
    """
    probed = df
    for i in range(n_hashes):
        pos = F.pmod(F.xxhash64(F.col(col_name), F.lit(i)), F.lit(m_bits))
        probed = (
            probed.withColumn("__bloom_p", pos)
            .withColumn("__bloom_w", F.expr("shiftright(__bloom_p, 6)"))
            .join(
                # broadcast: ≤ m_bits/64 words (est 33 KB → 297 KB, sf0.001 → sf0.1)
                F.broadcast(
                    words.select(
                        F.col("w").alias("__bloom_w"),
                        F.col("word").alias("__bloom_word"),
                    )
                ),
                "__bloom_w",
            )
            .filter(
                F.expr(
                    "(shiftright(__bloom_word,"
                    " cast(__bloom_p & 63 as int)) & 1) = 1"
                )
            )
            .drop("__bloom_p", "__bloom_w", "__bloom_word")
        )
    return probed


def decontaminate_bloom(
    spark: SparkSession,
    sf_dir: str,
    n: int = 5,
    eval_mod: int = 50,
    m_bits: int = 1 << 20,
    n_hashes: int = 4,
) -> DataFrame:
    """Bloom-prefiltered train/eval n-gram decontamination.

    Same semantics (and output) as :func:`decontaminate_ngram` — a
    training doc is contaminated iff it shares a token n-gram with the
    held-out eval set — but the scale path differs: the eval-side
    distinct n-grams fold into a sparse Bloom word table (distributed
    bit_or, never collected), which broadcasts once and prefilters the
    corpus-side n-gram stream with per-hash broadcast joins + bit
    masks BEFORE anything reaches the confirm join. At 100 TB this is
    the difference between shipping every training n-gram into the
    (string-keyed, string-hashing) eval join and killing ~all clean
    grams against a few-hundred-KB long-keyed hash table at the scan
    stage: the confirm join — which removes Bloom false positives and
    makes the result EXACTLY equal to the exact-join path, hence
    oracle-checkable — only sees the tiny contaminated tail.

    The reference (metevents) has no corpus surface; this extends
    SURVEY.md §8.3 with the standard benchmark-decontamination shape
    (eval sets are fixed benchmarks, so m_bits is a design-time
    constant: 2^20 bits ≈ fp 2e-4 at 1e5 grams/k=4).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exploded = _doc_ngrams(docs, n)
    eval_grams = (
        exploded.filter(F.col("doc_id") % eval_mod == 0)
        .select("gram")
        .distinct()
    )
    words = build_bloom_words(eval_grams, m_bits, n_hashes)
    train = exploded.filter(F.col("doc_id") % eval_mod != 0)
    survivors = bloom_prefilter(train, "gram", words, m_bits, n_hashes)
    return (
        # broadcast: held-out eval-set n-grams (est 22 KB → 198 KB, sf0.001 → sf0.1)
        survivors.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
        .orderBy("doc_id")
    )


# the largest double below 1
_U_BELOW_1 = 1.0 - 2.0**-53


def _gumbel_key(weight: Column, h: Column) -> Column:
    """importance_resample's Gumbel-top-k key, weight − ln(−ln u),
    rounded to 5 places, with the uniform u = (h + 1) / 2^60 drawn from
    a 60-bit hash ``h`` (well-mixed, engine-portable). Adding the
    Gumbel noise to the weight and taking the top k IS sampling without
    replacement with p ∝ exp(weight), reproducible everywhere.

    In doubles (h + 1) / 2^60 is 1.0 for the top ~64 hashes, where
    ln(−ln u) is NULL in Spark and an error in DuckDB, so u is clamped
    to ``_U_BELOW_1`` (the oracle clamps the same way).
    """
    u = F.least((h + 1) / F.lit(TWO60), F.lit(_U_BELOW_1))
    return F.round(weight - F.log(-F.log(u)), 5)


def importance_resample(
    spark: SparkSession,
    sf_dir: str,
    target_source: str = "src0",
    n_buckets: int = 1024,
    n_select: int = 20,
) -> DataFrame:
    """Domain-targeted data selection by importance resampling — the
    DSIR recipe (hashed n-gram importance weights; Xie et al. 2023,
    public): score each candidate document by how much more likely its
    hashed-unigram profile is under the TARGET domain's distribution
    than under the candidate pool's own, then take a Gumbel-perturbed
    top-k (sampling-without-replacement ∝ exp(weight), derandomized
    here via an LCG-hash uniform so both engines draw identical noise).

    Docs from ``target_source`` define the target distribution; every
    other doc is a candidate. Features are md5-hashed unigram buckets
    (engine-portable hash), Laplace-smoothed; the per-doc weight is the
    length-normalized mean log importance ratio, rounded to 5 decimals
    before ranking so ``ln`` last-ulp differences across math libraries
    cannot flip the selection (same convention as unigram_logprob).

    Scale shape: the two distribution tables are n_buckets rows each —
    constants — so the scoring join is a broadcast of a 1024-row
    log-ratio table against the exploded token stream; the per-doc
    rollup is the only corpus-sized shuffle, and the final selection is
    TakeOrdered (top-k merge, no global sort materializes). Output:
    (rank, doc_id, n_tokens, log_ratio) for the selected docs.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    toks = docs.select(
        "doc_id",
        (F.col("source") == target_source).alias("is_tgt"),
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    )
    bucket = F.pmod(h60(F.md5("term")), F.lit(n_buckets))
    bt = toks.select("doc_id", "is_tgt", bucket.alias("b"))
    counts = bt.groupBy("b").agg(
        F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("is_tgt"), 1).otherwise(0)).alias("cr"),
    )
    # totals as unpartitioned window sums over the n_buckets-row counts
    # frame: the earlier counts.agg(...).crossJoin shape re-derived the
    # whole corpus scan->explode->md5 subtree a second time (DataFrame
    # reuse without a cache shares no subplan) — the single-partition
    # window costs one exchange of n_buckets rows instead. Exact
    # integer sums, value-identical.
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    # log p_tgt(b) - log p_raw(b), Laplace-smoothed; n_buckets rows
    ratios = counts.select(
        "b",
        "ct",
        "cr",
        F.sum("ct").over(w_all).alias("tt"),
        F.sum("cr").over(w_all).alias("tr"),
    ).select(
        "b",
        (
            F.log((F.col("ct") + 1) / (F.col("tt") + n_buckets))
            - F.log((F.col("cr") + 1) / (F.col("tr") + n_buckets))
        ).alias("lr"),
    )
    per_doc = (
        bt.filter(~F.col("is_tgt"))
        # broadcast: n_buckets rows (est 19 KB → 170 KB, sf0.001 → sf0.1)
        .join(F.broadcast(ratios), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lr") / F.count(F.lit(1)), 5).alias("log_ratio"),
        )
    )
    h = h60(F.md5(F.col("doc_id").cast("string")))
    keyed = per_doc.select(
        "doc_id",
        "n_tokens",
        "log_ratio",
        _gumbel_key(F.col("log_ratio"), h).alias("sel_key"),
    )
    from pyspark.sql import Window

    top = keyed.orderBy(F.desc("sel_key"), F.asc("doc_id")).limit(n_select)
    w = Window.orderBy(F.desc("sel_key"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "n_tokens",
        "log_ratio",
    ).orderBy("rank")


def boilerplate_phrases(
    spark: SparkSession,
    sf_dir: str,
    n: int = 2,
    k: int = 10,
    min_df: int = 2,
) -> DataFrame:
    """Per-source boilerplate phrase detection (CCNet/RefinedWeb-style,
    generalized from repeated LINES to repeated token n-grams since the
    corpus is single-line): for each source, the ``k`` phrases that
    appear in the most DISTINCT documents of that source, with their
    document frequency and its share of the source's doc count. A
    cleaning pass would strip these before dedup/training; surfacing
    them per source is the forensics half of that step.

    Scale shape: grams dedupe PER DOCUMENT inside codegen
    (array_distinct on the gram array — no shuffle), so each doc emits
    each phrase at most once and the document frequency is a plain
    map-side-combinable COUNT keyed by (source, gram) — one shuffle of
    gram digests, no distinct-rewrite expand. Per-source doc counts
    are a tiny broadcast, and the top-k is a per-source window over
    already-aggregated (source, gram, df) rows — at most |vocab|^n per
    source, never documents. Ties break lexicographically so the
    selection is deterministic.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    toked = docs.select(
        "source", F.split(F.col("text"), " ").alias("t")
    )
    grams = F.array_distinct(token_ngrams("t", n))
    df_tbl = (
        toked.select("source", F.explode(grams).alias("gram"))
        .groupBy("source", "gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    n_docs = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("source_docs")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.desc("df"), F.asc("gram")
    )
    return (
        df_tbl.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        # broadcast: one row per source (est 28 KB → 255 KB, sf0.001 → sf0.1)
        .join(F.broadcast(n_docs), "source")
        .select(
            "source",
            F.col("rnk").cast("long").alias("rnk"),
            "gram",
            F.col("df").cast("long").alias("df"),
            F.round(F.col("df") / F.col("source_docs"), 5).alias(
                "df_frac"
            ),
        )
        .orderBy("source", "rnk")
    )


def ngram_novelty(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    shard_size: int = 50,
) -> DataFrame:
    """Ingestion-order n-gram novelty curve — the dedup-ROI meter: as
    shards arrive (doc_id order, ``shard_size`` docs per shard), what
    fraction of each shard's distinct n-grams has never been seen in
    any earlier shard? A corpus whose novelty ratio collapses after a
    few shards is mostly duplication; a flat curve says dedup will not
    shrink it. Output per shard: distinct grams in the shard, how many
    are corpus-first-seen here, their ratio, and the cumulative
    distinct-gram count.

    Scale shape: grams dedupe per document in codegen (array_distinct,
    no shuffle) before the two gram-keyed shuffles — (shard, gram)
    distinct + count, and gram -> MIN(shard) (partial MIN collapses
    map-side) — both over gram digests, never document payloads.
    Everything after is one row per shard, and the running total is a
    window over that constant-sized frame.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toked = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    grams = toked.select(
        (F.col("doc_id") / shard_size).cast("long").alias("shard"),
        F.explode(F.array_distinct(token_ngrams("t", n))).alias("gram"),
    )
    from pyspark.sql import Window

    # ONE corpus exchange instead of two (+ the join), guide §2.4: the
    # old shape consumed `grams` twice — per-shard distinct counts AND
    # gram→min(shard) — re-running the scan+explode per consumer
    # (DataFrame reuse without a cache shares no subplan) and paying a
    # (shard, gram) exchange plus a gram exchange. Hash-partitioning on
    # `gram` ALONE satisfies the clustered distribution of the
    # (gram, shard) dedup (same gram ⇒ same partition) and of the
    # min-shard window, so one repartition serves both; a gram is
    # novel exactly at its min-shard row, so the per-shard rollup
    # (count = distinct grams, sum(is_novel) = first-seen grams) folds
    # both old aggregates into one map-side-partial pass. Shards with
    # zero novel grams keep their row with n_novel = 0, as the old
    # left join's coalesce did.
    deduped = (
        grams.repartition("gram")
        .groupBy("gram", "shard")
        .agg(F.count(F.lit(1)).alias("_n"))
        .drop("_n")
    )
    w_gram = Window.partitionBy("gram")
    annotated = deduped.withColumn(
        "is_novel",
        (F.col("shard") == F.min("shard").over(w_gram)).cast("long"),
    )
    per_shard = annotated.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("is_novel").alias("n_novel"),
    )
    w = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_shard.select(
            "shard",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 5).alias(
                "novelty_ratio"
            ),
            F.sum("n_novel").over(w).alias("cum_distinct"),
        )
        .orderBy("shard")
    )


def contamination_fraction(
    spark: SparkSession,
    sf_dir: str,
    n: int = 5,
    eval_mod: int = 50,
) -> DataFrame:
    """Graded train/eval contamination — the continuous generalization
    of :func:`decontaminate_ngram`'s binary verdict: for EVERY training
    document, the fraction of its DISTINCT token n-grams that also
    occur in the held-out eval split (doc_id % eval_mod == 0). Pipeline
    policy then thresholds the fraction (drop > 0.8, flag > 0.1, ...)
    instead of dropping on a single shared gram. Docs too short to
    yield a gram are excluded (they cannot be contaminated or clean at
    the n-gram level).

    Scale shape: same as the binary path — the eval distinct-gram set
    is benchmark-sized and broadcasts; the per-doc distinct-gram
    projection and rollup are the only corpus-sized shuffle, keyed by
    doc_id. The shared-gram count LEFT-joins the broadcast set so
    zero-overlap docs keep a row without a second pass.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # per-doc distinct happens MAP-SIDE (array_distinct before the
    # explode), so no corpus-wide (doc_id, gram) dedup exchange runs;
    # the only corpus-sized shuffle is the |docs|-row rollup below,
    # whose partial aggregation collapses map-side (guide §2.4).
    toked = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    grams = toked.select(
        "doc_id", F.explode(F.array_distinct(token_ngrams("t", n))).alias("gram")
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % eval_mod == 0)
        .select("gram")
        .distinct()
    )
    train = grams.filter(F.col("doc_id") % eval_mod != 0)
    # broadcast: held-out eval-set n-grams (est 25 KB → 227 KB, sf0.001 → sf0.1)
    hit = F.broadcast(eval_grams.withColumn("hit", F.lit(1)))
    return (
        train.join(hit, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias(
                "n_shared"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_grams"), 5).alias(
                "contaminated_frac"
            ),
        )
        .orderBy("doc_id")
    )


def sequence_pack(
    spark: SparkSession,
    sf_dir: str,
    budget: int = 512,
) -> DataFrame:
    """Concat-and-chunk sequence packing summary.

    Pretraining packs documents back-to-back into fixed token-budget
    sequences: within each source shard, documents are laid out in
    doc_id order and a document belongs to the pack in which it STARTS
    (pack_id = floor(tokens_before / budget)), so packs can overflow by
    at most one document's tail — standard concat-then-chunk semantics.
    Output per (source, pack_id): document count, total tokens, and
    fill ratio vs the budget.

    Scale shape: the running token sum is a TWO-PHASE prefix sum, not a
    single per-source window (a source with billions of documents would
    sort and prefix-sum on one task). Documents are range-bucketed by
    ``doc_id div 8192`` — monotone in the doc_id order, so each bucket
    is a contiguous slice of the layout. Phase 1 computes the local
    exclusive prefix inside each (source, bucket) in parallel; phase 2
    prefix-sums the per-bucket token TOTALS (8192× fewer rows) to get
    each bucket's starting offset, joined back on (source, bucket).
    tokens_before = bucket offset + local prefix — bit-identical to the
    single-window formulation (int64 addition is associative). The
    phase-2 window still orders one source's buckets on one task, but
    over rows reduced 8192×; recurse the same trick if that ever binds.

    Assumes doc_id is non-null (it is the documents table's key): a
    null doc_id would yield a null bucket and be dropped by the inner
    offset join, where the single-window form would have kept the row.
    """
    from metevents_spark.cache import track

    bucket_width = 8192
    # the narrow (doc_id, source, n_tokens, bucket) frame is PERSISTED:
    # it feeds both the phase-1 local-prefix window and the phase-2
    # bucket-offset aggregate, and unpersisted each side re-scanned and
    # re-TOKENIZED the full text column — the cache
    # holds ~32 bytes/row, never the text
    docs = track(
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
            F.expr(f"doc_id div {bucket_width}").alias("bucket"),
        )
        .persist()
    )
    # phase 1: exclusive prefix within each contiguous (source, bucket)
    w_local = Window.partitionBy("source", "bucket").orderBy("doc_id")
    local_before = F.sum("n_tokens").over(w_local) - F.col("n_tokens")
    # phase 2: each bucket's starting offset = running sum of earlier
    # buckets' totals within the source (bucket-level frame is ~1/8192
    # the corpus, and the join back is co-partitioned on the same keys)
    w_bucket = Window.partitionBy("source").orderBy("bucket")
    offsets = (
        docs.groupBy("source", "bucket")
        .agg(F.sum("n_tokens").alias("bucket_tokens"))
        .withColumn(
            "bucket_offset",
            F.sum("bucket_tokens").over(w_bucket) - F.col("bucket_tokens"),
        )
        .drop("bucket_tokens")
    )
    packed = (
        docs.withColumn("local_before", local_before)
        .join(offsets, ["source", "bucket"])
        .withColumn(
            "pack_id",
            F.floor((F.col("bucket_offset") + F.col("local_before")) / budget)
            .cast("long"),
        )
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
        .withColumn(
            # exact: pack_tokens / 2^k is exactly representable, so the
            # double is bit-identical across engines (no rounding step)
            "fill_ratio",
            F.col("pack_tokens") / F.lit(float(budget)),
        )
        .orderBy("source", "pack_id")
    )


def stratified_sample(
    spark: SparkSession,
    sf_dir: str,
    k: int = 50,
) -> DataFrame:
    """Deterministic stratified sample: k documents per language.

    Ranks documents inside each language stratum by a fixed
    linear-congruential mix of doc_id (so the sample is pseudo-random
    but reproducible across engines and runs — no RNG state) and keeps
    the first k. Output: (lang, doc_id, rank).

    Scale shape: strata are FEW and HUGE (a language can be a double-
    digit percentage of a 100 TB corpus). Spark plans the
    ``row_number() <= k`` window as a ``WindowGroupLimit`` Partial
    before the lang exchange and Final after it, so each map partition
    ships at most k rows per stratum; that bound holds only while k <=
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000).
    The mix constants are the classic glibc LCG;
    doc_id * 1103515245 stays inside int64 for doc_id < 8.3e9 — for
    larger id spaces swap in xxhash64 (drops oracle parity, since hash
    families differ across engines).
    """
    docs = load_table(spark, sf_dir, "documents")
    mix = (F.col("doc_id") * 1103515245 + 12345) % 2147483648
    w = Window.partitionBy("lang").orderBy(mix.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("lang", "doc_id", "rank")
        .orderBy("lang", "rank")
    )


def source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source mixing: downsample each source
    shard at its own rate — the "data mixing" stage that rebalances
    corpus proportions before training.

    Per-source keep rates are k/5 where k = source_number % 4 + 1
    (20/40/60/80% — a stand-in for externally supplied mixture
    weights); a document is kept when the LCG mix of its doc_id lands
    in the first k of 5 residue classes. All-integer arithmetic, so the
    sample is exactly reproducible across engines and runs.

    Scale shape: a pure map-side filter on the scan — no shuffle at
    all beyond the deterministic output sort; at 100 TB this is the
    cheapest possible operator shape (predicate evaluated inside the
    parquet scan's codegen stage).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    k = F.substring("source", 4, 10).cast("long") % 4 + 1
    mix = (F.col("doc_id") * 1103515245 + 12345) % 2147483648
    return (
        docs.withColumn("keep_rate", F.round(k.cast("double") / 5, 6))
        .filter(mix % 5 < k)
        .select("doc_id", "source", "keep_rate")
        .orderBy("doc_id")
    )


def quality_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware downsampling: rank documents per source by their
    unigram-LM quality score (:func:`unigram_logprob`), cut each source
    into deciles, and keep documents at a rate that falls with quality
    — decile 1 (best) keeps 100%, decile 10 (worst) keeps 10%. The
    standard "perplexity-bucketed mixing" stage between quality scoring
    and training.

    Exact decile = ``ceil(10 * rank / n)`` over (score DESC, doc_id)
    order. The rank is computed with a TWO-PHASE scheme, never a
    per-source global-sort window: ``floor(score)`` is monotone in the
    sort key, so unit-wide score buckets are contiguous runs of the
    per-source order — a local row_number inside (source, score-bucket)
    plus the count of docs in strictly better buckets (a bucket-level
    running sum over a |sources|x|score-range| frame) IS the global
    rank. Keeping is the engine-portable LCG residue test used by
    :func:`source_mix_sample` — no RNG state, bit-identical everywhere.
    """
    from pyspark import StorageLevel

    from metevents_spark.cache import track

    scored = unigram_logprob(spark, sf_dir).select("doc_id", "avg_logprob")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # doc-level scored frame feeds the local-rank window, the bucket
    # sizes, and the offsets join; without a persist each consumer
    # re-runs the whole unigram-LM pipeline (8 corpus scans observed)
    docs = track(
        scored.join(src, "doc_id")
        .withColumn("qb", F.floor("avg_logprob").cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Materialize the cache NOW: with a lazy persist the local-rank
    # window and the offsets branch race to populate it inside one job
    # and each re-runs the full unigram-LM pipeline (measured 2.2x the
    # whole query). One small count() job makes every consumer a cache
    # read.
    docs.count()
    w_local = Window.partitionBy("source", "qb").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id").asc()
    )
    # bucket sizes -> docs in strictly better (higher) buckets + per-source n
    sizes = docs.groupBy("source", "qb").agg(F.count(F.lit(1)).alias("cnt"))
    w_run = (
        Window.partitionBy("source")
        .orderBy(F.col("qb").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = sizes.select(
        "source",
        "qb",
        (F.sum("cnt").over(w_run) - F.col("cnt")).alias("better"),
        F.sum("cnt").over(Window.partitionBy("source")).alias("n"),
    )
    ranked = (
        docs.withColumn("lr", F.row_number().over(w_local))
        .join(offsets, ["source", "qb"])
        .withColumn("rank", (F.col("better") + F.col("lr")).cast("long"))
        .withColumn(
            "decile", F.ceil(F.col("rank") * 10.0 / F.col("n")).cast("long")
        )
    )
    mix = (F.col("doc_id") * 1103515245 + 12345) % 2147483648
    return (
        ranked.filter(mix % 10 < 11 - F.col("decile"))
        .select("doc_id", "source", "avg_logprob", "decile")
        .orderBy("doc_id")
    )


def cross_doc_ngram_share(
    spark: SparkSession, sf_dir: str, n: int = 8
) -> DataFrame:
    """Per-document share of its DISTINCT token n-grams that also occur
    in at least one OTHER document — the cheap, shuffle-friendly proxy
    for exact-substring duplication (long shared spans show up as runs
    of duplicated n-grams; corpus-level dedup pipelines use this signal
    to pick span-removal candidates).

    Scale shape: n-grams are expanded and fingerprint-collapsed
    map-side (``transform`` + ``array_distinct`` inside codegen — only
    16-byte dual-xxhash64 fingerprints ever shuffle, never the gram
    text; hashing the token-array slice directly skips the
    array_join + md5 of the earlier formulation), then ONE hash
    exchange on the digest feeds a count window, and the per-doc
    rollup reuses nothing corpus-sized. Documents shorter than n
    tokens emit nothing.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toked = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    grams = token_ngrams(
        "t",
        n,
        lambda w, _: F.struct(
            F.xxhash64(w).alias("h1"), F.xxhash64(w, F.lit(1)).alias("h2")
        ),
    )
    exploded = toked.select("doc_id", F.explode(F.array_distinct(grams)).alias("g"))
    per = exploded.withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    dup = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return (
        per.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            dup.cast("long").alias("n_dup_grams"),
            F.round(dup / F.count(F.lit(1)), 6).alias("dup_share"),
        )
        .orderBy("doc_id")
    )


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-likelihood under the corpus's own
    unigram LM — the classic perplexity-proxy quality score (low values
    flag gibberish / vocabulary-atypical documents for filtering).

    Two aggregates and one join, all keyed naturally: corpus term
    frequencies (vocab-sized, AQE broadcasts when small, shuffle-hash
    otherwise), token->tf join on term, then a per-doc rollup. The
    corpus total is a one-row frame cross-joined via broadcast. The
    final score rounds to 5 decimals so the DuckDB oracle comparison
    is robust to last-ulp ``ln`` differences across math libraries.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    # the corpus total rides the tf frame as an unpartitioned window
    # sum (vocab-sized — the same boundedness the broadcast join below
    # already assumes): the old total = tf.agg(...) re-derived the
    # entire scan+explode+agg subtree for one scalar (DataFrame reuse
    # shares no subplan — the importance_resample defect class). Exact
    # integer sum, value-identical.
    w_all = Window.partitionBy()
    tf = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("t", F.sum("tf").over(w_all))
    )
    per_doc = (
        toks.join(tf, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.log("tf")).alias("s"),
            F.max("t").alias("t"),
        )
    )
    return (
        per_doc
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                (F.col("s") - F.col("n_tokens") * F.log("t"))
                / F.col("n_tokens"),
                5,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


def cooccurrence_counts(
    spark: SparkSession, sf_dir: str, window: int = 2, min_count: int = 5
) -> DataFrame:
    """Token co-occurrence counts within a symmetric +-``window`` token
    context — the corpus statistic embedding trainers (GloVe-style)
    and collocation miners consume. Pairs are ordered (center,
    context) so directionality is preserved.

    Scale shape: context pairs are generated MAP-SIDE with higher-order
    array expressions (flatten of per-position neighbor slices) and
    aggregated through one hash exchange on the pair key; partial
    aggregation collapses each partition to its distinct-pair set
    before the shuffle, so the exchange carries |vocab-pairs| rows,
    not |token-positions|.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    toked = docs.select(F.split(F.col("text"), " ").alias("t"))
    # for every position i, pair t[i] with t[i-w..i+w] minus itself;
    # slice() clamps at array bounds via greatest/least arithmetic
    pairs = F.expr(
        f"""
        flatten(transform(sequence(1, size(t)), i ->
          transform(
            filter(sequence(greatest(1, i - {window}),
                            least(size(t), i + {window})), j -> j != i),
            j -> struct(element_at(t, i) AS center,
                        element_at(t, j) AS context))))
        """
    )
    return (
        toked.select(F.explode(pairs).alias("p"))
        .select("p.center", "p.context")
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.col("n").desc(), "center", "context")
    )


def doc_chunking(
    spark: SparkSession,
    sf_dir: str,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping fixed-size token windows —
    the context-window chunking step that turns raw documents into
    training sequences (stride < chunk_tokens gives the overlap that
    preserves cross-boundary context).

    Output per chunk: (doc_id, chunk_id, n_tokens, digest) where
    digest = md5 of the space-rejoined chunk text; downstream exact
    dedup runs on the digest without re-materializing chunk text.

    Scale shape: ENTIRELY map-side — tokenization, start-position
    sequence, slice, and digest are higher-order array expressions in
    whole-stage codegen; the explode multiplies rows ~(len/stride)x
    but never shuffles (final orderBy is the only exchange). At corpus
    scale this is the shape you want: chunking is embarrassingly
    parallel and the plan keeps it that way.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toked = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    exploded = toked.select(
        "doc_id",
        F.col("t"),
        F.explode(
            F.expr(f"sequence(1, greatest(size(t), 1), {stride})")
        ).alias("s"),
    )
    chunk = F.expr(f"slice(t, s, {chunk_tokens})")
    return (
        exploded.select(
            "doc_id",
            F.expr(f"CAST((s - 1) DIV {stride} AS BIGINT)").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("digest"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-likelihood under the corpus's own
    add-one-smoothed bigram LM: mean over positions of
    ln((c(w1,w2) + 1) / (c_hist(w1) + V)) — the second-order
    perplexity proxy (catches scrambled-word salad that unigram
    statistics miss, since every token can be common while every
    TRANSITION is rare).

    c_hist(w1) counts w1 as a bigram history (positions 1..n-1), V is
    corpus vocabulary size. Docs with < 2 tokens drop out (no
    transitions to score).

    Scale shape: bigram rows are generated map-side (``token_ngrams``
    windows of 2, one explode); corpus bigram counts and history counts
    are keyed aggregates of the same exploded frame; the scoring joins
    shuffle on the bigram/term key where AQE broadcast-downgrades when
    the vocab side is small. The one-row V frame broadcasts. Rounded
    to 5 decimals (cross-engine ln ulp).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toked = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    pairs = token_ngrams(
        "t", 2, lambda w, _: F.struct(w[0].alias("w1"), w[1].alias("w2"))
    )
    br = toked.select("doc_id", F.explode(pairs).alias("b")).select(
        "doc_id", "b.w1", "b.w2"
    )
    from pyspark.sql import Window

    # Both corpus counts annotate the bigram stream IN PLACE as stacked
    # window counts over ONE w1 exchange (guide §2.4): hash-partitioning
    # on w1 alone satisfies the (w1, w2) count's clustered distribution
    # AND the history count's, and the (w1, w2) sort the first window
    # needs is a prefix superset of the second's — one exchange, one
    # sort. The old aggregate-then-join-back shape re-derived the
    # scan+explode subtree for bg AND ug (4 document scans total) and
    # then re-shuffled the full bigram stream once per join anyway —
    # same w1-keyed data movement, twice the passes. Window counts over
    # the identical partitions are value-identical to the join-attached
    # group counts (inner joins on keys derived from the same rows drop
    # nothing: split() yields no null tokens).
    w_pair = Window.partitionBy("w1", "w2")
    w_hist = Window.partitionBy("w1")
    annotated = (
        br.repartition("w1")
        .withColumn("c2", F.count(F.lit(1)).over(w_pair))
        .withColumn("c1", F.count(F.lit(1)).over(w_hist))
    )
    vocab = toked.select(F.explode("t").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    return (
        annotated
        .crossJoin(vocab)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.col("c2") + 1.0)
                        / (F.col("c1") + F.col("v"))
                    )
                ),
                5,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


def holdout_split(
    spark: SparkSession, sf_dir: str, val_pct: int = 5, test_pct: int = 5
) -> DataFrame:
    """Deterministic train/val/test assignment by a fixed LCG mix of
    doc_id — the split every pipeline needs to be STABLE across reruns,
    engines, and corpus growth (a document's split never changes when
    other documents are added, which rowwise RNG sampling cannot
    promise). Same glibc-LCG mix as stratified_sample; map-side only,
    the output sort is the only exchange.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    bucket = (
        (F.col("doc_id") * 1103515245 + 12345) % 2147483648
    ) % 100
    split = (
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return docs.select(
        "doc_id", "source", bucket.cast("long").alias("bucket"), split.alias("split")
    ).orderBy("doc_id")


def normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text canonicalization ahead of exact dedup: lowercase, strip
    everything outside [a-z0-9 ], collapse whitespace runs, trim. The
    canonical md5 is the dedup key that catches case/punctuation
    variants exact_dedup's raw-byte hash misses. Pure codegen regex —
    zero shuffle except the output sort; the character classes are
    regex-dialect-neutral so any ANSI engine reproduces them.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.md5(canon).alias("canon_hash"),
        F.length("text").cast("long").alias("n_chars"),
        F.length(canon).cast("long").alias("n_chars_canon"),
        (canon != F.col("text")).alias("changed"),
    ).orderBy("doc_id")


def hash_sample(spark: SparkSession, sf_dir: str, n: int = 200) -> DataFrame:
    """Deterministic bounded-size uniform sample: the ``n`` documents
    with the smallest md5(doc_id) — a reservoir-sample equivalent that
    is stable across engines and reruns and needs NO global sort:
    Spark plans it as TakeOrderedAndProject (per-partition partial
    top-n, then a driver-side merge of n-row heads), so cost is one
    scan regardless of corpus size. Complements holdout_split (fixed
    RATE) with a fixed SIZE — what you want for eval subsets and
    debugging slices cut from a 100 TB corpus.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    key = F.md5(F.col("doc_id").cast("string"))
    return (
        docs.select("doc_id", "source", key.alias("sample_key"))
        .orderBy("sample_key", "doc_id")
        .limit(n)
    )


def mixture_plan(
    docs_with_tokens: DataFrame,
    weights: dict[str, float],
    target_total_tokens: int,
) -> DataFrame:
    """Training-mixture planning: given per-document token counts with
    a ``source`` column and target mixture WEIGHTS (fractions of the
    final token budget per source), compute what a sampler must do to
    hit the budget — per-source available tokens, target tokens,
    sampling rate, and epochs (rate > 1 means the source repeats, the
    small-high-quality-source case in published data recipes).

    Pure aggregation: ONE groupBy(source) over (source, n_tokens) —
    nothing document-sized shuffles — then the weight table (a handful
    of literals) joins broadcast. Unknown sources get weight 0 (rate 0:
    excluded), so the plan is total: every source in the corpus appears
    in the output exactly once.

    Registered as the ``mixture_plan`` query (oracle-backed: plain SQL).

    Returns (source, n_docs, n_tokens, weight, target_tokens,
    sampling_rate, epochs), epochs = ceil(rate).
    """
    spark = docs_with_tokens.sparkSession
    per_source = docs_with_tokens.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    wdf = local_frame(
        spark,
        [(s, float(w)) for s, w in sorted(weights.items())],
        "source string, weight double",
    )
    joined = per_source.join(wdf, "source", "left").withColumn(
        "weight", F.coalesce(F.col("weight"), F.lit(0.0))
    )
    target = F.round(F.col("weight") * F.lit(float(target_total_tokens)))
    rate = F.when(
        F.col("n_tokens") > 0, target / F.col("n_tokens")
    ).otherwise(F.lit(0.0))
    return joined.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("weight", 6).alias("weight"),
        target.cast("long").alias("target_tokens"),
        F.round(rate, 6).alias("sampling_rate"),
        F.ceil(rate).cast("long").alias("epochs"),
    ).orderBy("source")


def temperature_mixture(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.3,
    target_total_tokens: int = 1_000_000,
) -> DataFrame:
    """Temperature-based source mixing: sampling weights proportional
    to each source's token share raised to ``alpha`` (the mT5 /
    multilingual-LM recipe — alpha < 1 upweights small sources so
    low-resource shards aren't drowned out; alpha = 1 is proportional
    sampling, alpha = 0 uniform). Complements :func:`mixture_plan`,
    which takes externally supplied weights — here the weights are
    DERIVED from the corpus itself.

    Scale shape: ONE corpus scan into one groupBy(source) — the only
    corpus-sized exchange carries |sources| partial rows — then the
    two scalar reductions (total tokens, weight normalizer) are
    whole-frame window aggregates over that |sources|-row frame: a
    single-partition exchange of a handful of rows, never a second
    scan (the crossJoin-of-aggregates formulation re-read the corpus
    once per scalar — 4 scans in the plan audit). pow's last-ulp
    variation across math libraries is absorbed by round(6) exactly
    like the ln-based scores elsewhere.

    Returns (source, n_docs, n_tokens, share, weight, target_tokens,
    sampling_rate, epochs).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    everything = Window.partitionBy()
    shared = per_source.withColumn(
        "share", F.col("n_tokens") / F.sum("n_tokens").over(everything)
    ).withColumn("w_raw", F.pow("share", F.lit(float(alpha))))
    weighted = shared.withColumn(
        "weight", F.col("w_raw") / F.sum("w_raw").over(everything)
    )
    target = F.round(F.col("weight") * F.lit(float(target_total_tokens)))
    rate = target / F.col("n_tokens")
    return weighted.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("share", 6).alias("share"),
        F.round("weight", 6).alias("weight"),
        target.cast("long").alias("target_tokens"),
        F.round(rate, 6).alias("sampling_rate"),
        F.ceil(rate).cast("long").alias("epochs"),
    ).orderBy("source")


def shuffle_shards(
    spark: SparkSession, sf_dir: str, n_shards: int = 16
) -> DataFrame:
    """Deterministic global training-order shuffle: give every document
    a pseudorandom-but-reproducible position — (shard, offset) — so a
    trainer streams shards in order and sees a fixed random permutation
    of the corpus, independent of input layout and engine. Exactly the
    "global shuffle before sharding" step of a pretraining data build,
    made reproducible by deriving the permutation from md5(doc_id)
    instead of an RNG.

    Scale shape: the md5 key and shard id are map-side codegen; the
    only exchange is the ONE hash repartition by shard implied by the
    per-shard row_number window (each shard sorts locally by key) —
    the minimum any global shuffle must pay. No global sort, no
    single-partition window: shards are mutually independent.

    Returns (doc_id, source, shuffle_key, shard, offset); offset is
    0-based within the shard.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    key = F.md5(F.col("doc_id").cast("string"))
    # first two hex chars -> shard (byte-level split keeps the DuckDB
    # mirror expressible without hex->bigint support)
    shard = (
        F.conv(F.substring(key, 1, 2), 16, 10).cast("int") % n_shards
    )
    keyed = docs.select(
        "doc_id", "source", key.alias("shuffle_key"), shard.alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.withColumn(
        "offset", (F.row_number().over(w) - 1).cast("long")
    ).orderBy("shard", "offset")


def _es_key() -> Column:
    """The Efraimidis-Spirakis key ``sample_key`` = -ln(u) / n_chars of
    a document, u = (h60(md5(doc_id)) + 1) / 2^60 in (0, 1], rounded to
    12 places to absorb libm ln() ulp differences between engines."""
    u = (h60(F.md5(F.col("doc_id").cast("string"))) + F.lit(1)).cast(
        "double"
    ) / F.lit(TWO60)
    key = F.round(-F.log(u) / F.col("n_chars").cast("double"), 12)
    return key.alias("sample_key")


def weighted_sample(
    spark: SparkSession, sf_dir: str, n: int = 100
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis exponential keys): take the ``n`` documents
    with the smallest key = -ln(u) / w, where u is an md5-derived
    uniform in (0, 1] and w = n_chars — equivalent to drawing without
    replacement with probability proportional to document length, but
    fully deterministic and engine-replayable (the published A-ES
    reservoir algorithm's key, with the hash supplying u).

    Complements hash_sample (uniform, fixed size) and
    importance_resample (distribution-ratio weights): this is the
    'sample big documents more' primitive a token-budgeted corpus cut
    needs.

    Scale shape: the key is one map-side expression; selection is a
    rounded-key TakeOrdered (per-partition top-n heap, driver merges
    n-row heads) — one scan, no global sort, no driver-side weighting
    table. The 1e-12 rounding absorbs libm ln() ulp differences
    between engines; keys of distinct documents are never that close.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return (
        docs.select("doc_id", "source", "n_chars", _es_key())
        .orderBy("sample_key", "doc_id")
        .limit(n)
    )


def source_weighted_sample(
    spark: SparkSession, sf_dir: str, per_source: int = 20
) -> DataFrame:
    """Per-source weighted sampling without replacement: the
    ``per_source`` documents with the smallest Efraimidis-Spirakis key
    WITHIN each source — the stratified dual of :func:`weighted_sample`
    (a global cut starves small sources; per-source cuts are how eval
    subsets stay representative across a skewed mixture).

    Same md5-derived key (deterministic, engine-replayable, 1e-12
    rounding absorbs libm ulp); selection is a per-source row_number
    window — partitions process sources in parallel, nothing global.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = Window.partitionBy("source").orderBy("sample_key", "doc_id")
    return (
        docs.select("doc_id", "source", "n_chars", _es_key())
        .withColumn("rank_in_source", F.row_number().over(w).cast("long"))
        .filter(F.col("rank_in_source") <= per_source)
        .orderBy("source", "rank_in_source")
    )
