"""Per-query top-k (``similarity.knn._topk_per_query``) against a pandas
reference, on in-memory frames: no testdata parquet needed."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from metevents_spark.similarity.knn import _topk_per_query

SCHEMA = "q_id long, vec_id long, cosine double"


def _scored() -> pd.DataFrame:
    """q_id 0 holds most rows; cosine has one decimal, so ties are
    common and vec_id has to break them. q_id 1 has 3 rows, fewer than
    any k tested; q_id 2 is all one cosine."""
    rng = np.random.default_rng(7)
    n0 = 600
    return pd.DataFrame(
        {
            "q_id": [0] * n0 + [1] * 3 + [2] * 12,
            "vec_id": np.concatenate(
                [rng.permutation(n0), [40, 10, 20], rng.permutation(12) + 100]
            ),
            "cosine": np.concatenate(
                [np.round(rng.uniform(-1, 1, n0), 1), [0.5, 0.5, 0.9], [0.3] * 12]
            ),
        }
    )


def _reference(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    top = (
        pdf.sort_values(["q_id", "cosine", "vec_id"], ascending=[True, False, True])
        .groupby("q_id")
        .head(k)
        .copy()
    )
    top["rank"] = top.groupby("q_id").cumcount() + 1
    return top.reset_index(drop=True)


@pytest.mark.parametrize("k", [1, 5, 10])
def test_topk_per_query_matches_pandas(spark, k):
    pdf = _scored()
    scored = spark.createDataFrame(pdf, SCHEMA).repartition(4)
    got = _topk_per_query(scored, k).toPandas()
    want = _reference(pdf, k)
    assert got["q_id"].value_counts().to_dict() == {0: k, 1: min(k, 3), 2: k}
    pd.testing.assert_frame_equal(got, want)


def test_topk_per_query_empty_input(spark):
    empty = spark.createDataFrame([], SCHEMA)
    out = _topk_per_query(empty, 5)
    assert out.columns == ["q_id", "vec_id", "cosine", "rank"]
    assert out.count() == 0
