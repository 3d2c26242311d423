"""Differential tests for the BPE trainer/encoder against
an INDEPENDENT pure-Python reference (Counter-based, written here, not
shared with the module) on the real sf0.001 corpus.
"""

from collections import Counter

import pandas as pd

from metevents_spark.text.bpe import END, bpe_learn, bpe_token_count

SF = "/root/testdata/sf0.001"

# training runs its word-count job while the frame is built; train
# once per suite and share across both differential tests
_CACHE: dict = {}


def _spark_merges(spark):
    if "m" not in _CACHE:
        _CACHE["df"] = bpe_learn(spark, SF, n_merges=12)
        _CACHE["m"] = [
            (r["rank"], r["left"], r["right"], r["merged"],
             r["pair_count"])
            for r in _CACHE["df"].collect()
        ]
    return _CACHE["m"]


def _corpus_word_freqs() -> dict[str, int]:
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    freqs: Counter = Counter()
    for text in docs["text"]:
        for w in text.split(" "):
            if w:
                freqs[w] += 1
    return dict(freqs)


def _apply(s: tuple, pair: tuple, merged: str) -> tuple:
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and (s[i], s[i + 1]) == pair:
            out.append(merged)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return tuple(out)


def _ref_learn(freqs: dict[str, int], n: int):
    syms = {w: tuple(list(w) + [END]) for w in freqs}
    merges = []
    for rank in range(1, n + 1):
        cnt: Counter = Counter()
        for w, f in freqs.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                cnt[(a, b)] += f
        if not cnt:
            break
        (left, right), n_pair = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        merges.append((rank, left, right, merged, n_pair))
        syms = {w: _apply(s, (left, right), merged) for w, s in syms.items()}
    return merges, syms


def _ref_encode(word: str, ranks: dict) -> int:
    s = tuple(list(word) + [END])
    while len(s) > 1:
        ranked = [
            (ranks[(a, b)], (a, b))
            for a, b in zip(s, s[1:])
            if (a, b) in ranks
        ]
        if not ranked:
            break
        _, pair = min(ranked)
        s = _apply(s, pair, pair[0] + pair[1])
    return len(s)


def test_learned_merges_match_reference(spark):
    got = _spark_merges(spark)
    want, _ = _ref_learn(_corpus_word_freqs(), 12)
    assert got == want
    # merged-pair counts can never increase round over round: every
    # occurrence of a later pair lives inside symbols the earlier
    # (maximal) merge already counted
    counts = [m[4] for m in got]
    assert counts == sorted(counts, reverse=True)


def test_merge_table_is_a_local_relation(spark):
    """The driver-built merge table enters the plan as a LocalRelation:
    no Python RDD, so returning it starts no Python worker."""
    _spark_merges(spark)
    plan = _CACHE["df"]._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan
    for rdd in ("LogicalRDD", "ExistingRDD", "PythonRDD"):
        assert rdd not in plan, plan


def test_token_counts_match_reference_encode(spark):
    df = bpe_token_count(spark, SF, merges=_spark_merges(spark))
    # the plan sweep in test_plans skips the bpe keys (executing the
    # training loop there buys no plan signal) — assert the encode
    # plan's shape here instead: vocab broadcasts, nothing cartesian
    plan = df._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    out = df.toPandas()
    freqs = _corpus_word_freqs()
    merges, _ = _ref_learn(freqs, 12)
    ranks = {(l, r): rank for rank, l, r, _, _ in merges}

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    wtok = {w: _ref_encode(w, ranks) for w in freqs}
    want = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        words = [w for w in text.split(" ") if w]
        want[doc_id] = (len(words), sum(wtok[w] for w in words))
    got = {
        r.doc_id: (r.n_words, r.n_tokens_bpe) for r in out.itertuples()
    }
    assert got == want
    # merges strictly compress: fewer tokens than raw symbols, at
    # least one token per word
    raw = {
        d: sum(len(w) + 1 for w in t.split(" ") if w)
        for d, t in zip(docs["doc_id"], docs["text"])
    }
    for d, (n_words, n_tok) in want.items():
        assert n_words <= n_tok < raw[d]
