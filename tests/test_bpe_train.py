"""The BPE training contract: ``merge_table`` against the independent
Counter-based reference of tests/test_bpe.py on generated word tables,
and the Spark side of ``learn_merges`` (one word-count job set,
whatever the merge count). Inputs are generated or written to
``tmp_path``, so no testdata is needed."""

from __future__ import annotations

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from metevents_spark.io import local_frame
from metevents_spark.text.bpe import END, encode_word, learn_merges, merge_table
from tests.test_bpe import _ref_encode, _ref_learn

# small alphabets force repeated and overlapping pairs; é is two UTF-8
# bytes, U+FFFF three and 𝄞 (U+1D11E, astral) four, so tie-breaks
# between them check code-point order, not UTF-16 order
ALPHABET = "abn\u00e9\uffff\U0001d11e"
WORD_TABLES = st.dictionaries(
    st.text(ALPHABET, min_size=1, max_size=8),
    st.integers(1, 5),
    min_size=1,
    max_size=8,
)


@settings(max_examples=300, deadline=None)
@given(WORD_TABLES, st.integers(0, 40))
@example({"aaaa": 1}, 5)  # (a, a) chains: greedy merge takes it twice
@example({"banana": 2, "bandana": 1}, 6)  # back-to-back (a, n)
@example({"ab": 1, "ba": 1}, 10)  # every first-round pair ties
@example({"a": 3, "b": 1}, 3)  # one-character words: one pair each
@example({"\U0001d11e\uffff": 1, "\uffff\U0001d11e": 1}, 4)  # astral, BMP
def test_merge_table_matches_reference(freqs, n_merges):
    got = merge_table(list(freqs), list(freqs.values()), n_merges)
    want, syms = _ref_learn(freqs, n_merges)
    assert got == want
    if len(got) < n_merges:
        # stopped early only because every word is one symbol
        assert all(len(s) == 1 for s in syms.values())
    ranks = {(l, r): rank for rank, l, r, _, _ in got}
    for w in freqs:
        assert encode_word(w, ranks) == _ref_encode(w, ranks)


def test_python_str_order_is_spark_order(spark):
    """The tie-break relies on Python's code-point order for ``str``
    matching Spark's UTF8_BINARY sort."""
    words = ["b", "a", "\u00e9", "\uffff", "\U0001d11e", "a\U0001d11e",
             "a\uffff", END]
    got = local_frame(spark, [(w,) for w in words], "w string").orderBy("w")
    assert [r.w for r in got.collect()] == sorted(words)


def test_learn_merges_job_count_does_not_grow_with_merges(spark, tmp_path):
    """Training is one word-count job set, then driver memory: 2 and 6
    merges run the same jobs (at most 2), and nothing stays
    persisted."""
    words = ["lower", "lowest", "newer", "wider", "tallest", "slowest"]
    pd.DataFrame({
        "doc_id": range(12),
        "text": [" ".join(words[i % 6:] + words[:i % 6]) for i in range(12)],
    }).to_parquet(tmp_path / "documents.parquet")
    sc = spark.sparkContext

    def persisted() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    def jobs(n_merges: int) -> int:
        group = f"bpe-{n_merges}"
        sc.setJobGroup(group, "merge table")
        try:
            assert len(learn_merges(spark, str(tmp_path), n_merges)) == n_merges
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    before = persisted()
    n2, n6 = jobs(2), jobs(6)
    assert n2 == n6 <= 2
    assert persisted() <= before
