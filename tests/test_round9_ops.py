"""Semantic pins for the round-9 operators against INDEPENDENT
replays (pandas/hashlib/itertools) — oracle equality is pinned
separately by tests/test_oracle_parity.py; these check the semantics
against a third implementation, not just Spark-vs-DuckDB agreement.
"""

from __future__ import annotations

import hashlib
import math
from itertools import combinations

import numpy as np
import pandas as pd

from tests.conftest import SF_SMALL

K_KMV = 64
TWO60 = 1 << 60


def _h60(x) -> int:
    return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)


def test_h60_is_python_md5_prefix(spark):
    """``functions.sketches.h60`` over Spark's md5 is the first 15 hex
    digits of hashlib's md5 of the UTF-8 bytes, the grid the Python
    replays here and ``similarity.knn._md5_planes`` compute."""
    from pyspark.sql import functions as F

    from metevents_spark.functions.sketches import TWO60 as GRID, h60

    strs = ["", "0", "42", "7:13", "doc 1 2 3", "naïve café", "東京", "𝄞 ü"]
    got = (
        spark.createDataFrame([(s,) for s in strs], "s string")
        .select("s", h60(F.md5("s")).alias("h"))
        .collect()
    )
    assert {r["s"]: r["h"] for r in got} == {s: _h60(s) for s in strs}
    assert GRID == TWO60 and all(0 <= r["h"] < TWO60 for r in got)


def test_rolling_median_matches_pandas(spark):
    from metevents_spark.operators.seriesstats import rolling_median

    got = rolling_median(spark, SF_SMALL).toPandas()

    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    ev["sid"] = ev["user_id"].astype(str)
    ev = ev.sort_values(["sid", "ts", "event_id"], kind="stable")
    ev["med"] = (
        ev.groupby("sid")["value"]
        .rolling(7, min_periods=1)
        .median()
        .reset_index(level=0, drop=True)
    )
    ev = ev.sort_values(["sid", "ts", "event_id"]).reset_index(drop=True)
    got = got.sort_values(["sid", "ts", "seq"]).reset_index(drop=True)
    assert len(got) == len(ev)
    assert np.allclose(
        got["med7"].to_numpy(),
        np.round(ev["med"].to_numpy(), 6),
        atol=1e-9,
        equal_nan=True,
    )


def test_interval_coverage_matches_sweepline(spark):
    from metevents_spark.operators.intervals import interval_coverage

    got = interval_coverage(spark, SF_SMALL).toPandas().set_index("sid")

    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    ev["sid"] = ev["user_id"].astype(str)
    cover = 15 * 60 * 1_000_000
    for sid, grp in ev.groupby("sid"):
        grp = grp.sort_values(["ts", "event_id"], kind="stable")
        us = grp["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        islands = []
        cur_start, cur_stop = None, None
        for u in us:
            if cur_stop is None or u > cur_stop:
                if cur_stop is not None:
                    islands.append(cur_stop - cur_start)
                cur_start, cur_stop = u, u + cover
            else:
                cur_stop = max(cur_stop, u + cover)
        islands.append(cur_stop - cur_start)
        row = got.loc[sid]
        assert row["n_events"] == len(us)
        assert row["n_intervals"] == len(islands)
        assert row["covered_us"] == sum(islands)
        assert row["longest_us"] == max(islands)
        assert abs(row["covered_hours"] - round(sum(islands) / 3.6e9, 6)) < 1e-9


def test_weighted_sample_matches_independent_replay(spark):
    from metevents_spark.text.pipeline import weighted_sample

    got = weighted_sample(spark, SF_SMALL, n=100).toPandas()

    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    keys = {
        int(r.doc_id): round(
            -math.log((_h60(int(r.doc_id)) + 1) / TWO60) / float(r.n_chars),
            12,
        )
        for r in docs.itertuples()
    }
    want = sorted(keys, key=lambda d: (keys[d], d))[:100]
    assert list(got["doc_id"]) == want
    assert np.allclose(
        got["sample_key"].to_numpy(), [keys[d] for d in want], atol=1e-11
    )
    # the whole point: big documents are over-represented vs uniform
    assert got["n_chars"].mean() > docs["n_chars"].mean()


def test_market_basket_lift_matches_bruteforce(spark):
    from metevents_spark.relational.basket import market_basket_lift

    got = market_basket_lift(spark, SF_SMALL).toPandas()

    line = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    items = line[["l_orderkey", "l_partkey"]].drop_duplicates()
    n_orders = items["l_orderkey"].nunique()
    item_n = items.groupby("l_partkey").size().to_dict()
    pair_n: dict = {}
    for _, grp in items.groupby("l_orderkey"):
        for a, b in combinations(sorted(grp["l_partkey"]), 2):
            pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    rows = []
    for (a, b), nab in pair_n.items():
        if nab < 2:
            continue
        na, nb = item_n[a], item_n[b]
        rows.append(
            (
                a, b, nab, na, nb,
                round(nab / n_orders, 6),
                round(nab / na, 6),
                round(nab * n_orders / (na * nb), 6),
            )
        )
    rows.sort(key=lambda r: (-r[7], r[0], r[1]))
    want = rows[:100]
    assert len(got) == len(want)
    for col_i, col in enumerate(
        ["part_a", "part_b", "n_ab", "n_a", "n_b",
         "support", "confidence", "lift"]
    ):
        gv = got[col].to_numpy()
        wv = np.array([r[col_i] for r in want])
        assert np.allclose(gv, wv, atol=1e-9), col


def test_user_reach_kmv_matches_direct_computation(spark):
    from metevents_spark.functions.sketches import user_reach_kmv

    got = user_reach_kmv(spark, SF_SMALL).toPandas()

    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    ev["day"] = ev["ts"].dt.floor("D")
    for _, row in got.iterrows():
        users = ev.loc[ev["day"] == row["day"], "user_id"].unique()
        hs = sorted({_h60(int(u)) for u in users})
        assert row["n_exact"] == len(users)
        if len(hs) >= K_KMV:
            est = (K_KMV - 1) * float(TWO60) / (hs[K_KMV - 1] + 1)
        else:
            est = float(len(hs))
        assert abs(row["kmv_est"] - round(est, 4)) < 1e-9
        assert (
            abs(row["rel_err"] - round(abs(est - len(users)) / len(users), 4))
            < 1e-9
        )
    # sketch quality: with k=64 the typical relative error ~1/sqrt(62)
    # ~ 13%; assert a loose envelope so regressions in the hash or the
    # estimator show up
    assert got["rel_err"].median() < 0.35


def test_key_skew_report_matches_value_counts(spark):
    from metevents_spark.operators.skew import key_skew_report

    got = key_skew_report(spark, SF_SMALL).toPandas()

    line = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    counts = line.groupby("l_partkey").size()
    n_rows, n_keys = int(counts.sum()), int(len(counts))
    order = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert list(got["key"]) == [k for k, _ in order]
    assert list(got["cnt"]) == [c for _, c in order]
    cum = np.cumsum([c for _, c in order])
    assert np.allclose(got["share"], [round(c / n_rows, 6) for _, c in order])
    assert np.allclose(got["cum_share"], np.round(cum / n_rows, 6))
    assert np.allclose(
        got["x_mean"],
        [round(c * n_keys / n_rows, 4) for _, c in order],
    )
    assert got["rank"].tolist() == list(range(1, len(got) + 1))


def test_holt_backtest_matches_sequential_replay(spark):
    from metevents_spark.operators.seriesstats import holt_backtest

    got = holt_backtest(spark, SF_SMALL).toPandas().set_index("sid")

    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    ev["sid"] = ev["user_id"].astype(str)
    alpha, beta = 0.2, 0.1
    for sid, grp in ev.groupby("sid"):
        grp = grp.sort_values(["ts", "event_id"], kind="stable")
        l = b = None
        n, s_abs, s_sig, s_sq = 0, 0, 0, 0
        for x in grp["value"]:
            if pd.isna(x):
                continue
            x = float(x)
            if l is None:
                l, b = x, 0.0
                continue
            e = x - (l + b)
            v = e * 1e6
            e_us = int(math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5))
            n += 1
            s_abs += abs(e_us)
            s_sig += e_us
            s_sq += e_us * e_us
            prev_l = l
            l = alpha * x + (1.0 - alpha) * (l + b)
            b = beta * (l - prev_l) + (1.0 - beta) * b
        row = got.loc[sid]
        assert row["n_forecasts"] == n
        assert abs(row["mae"] - math.floor(s_abs / n + 0.5) / 1e6) < 1e-12
        # bias = signed mean error; s_sig can be negative, so mirror the
        # kernel's half-away-from-zero µ-unit rounding exactly
        v = s_sig / n
        bias_us = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
        assert abs(row["bias"] - bias_us / 1e6) < 1e-12
        assert abs(row["rmse"] - math.floor(math.sqrt(s_sq / n) + 0.5) / 1e6) < 1e-12


def test_survival_retention_matches_km_by_hand(spark):
    from metevents_spark.relational.product import survival_retention

    got = survival_retention(spark, SF_SMALL).toPandas()

    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    pu = ev.groupby("user_id")["ts"].agg(["min", "max"])
    obs_end = ev["ts"].max()
    day_us = 86_400 * 1_000_000
    t = (
        (pu["max"].astype("datetime64[us]").astype("int64")
         - pu["min"].astype("datetime64[us]").astype("int64")) // day_us
    )
    churned = (
        pu["max"].astype("datetime64[us]").astype("int64")
        < int(np.datetime64(obs_end, "us").astype("int64")) - day_us
    )
    df = pd.DataFrame({"t": t, "e": churned.astype(int)})
    surv, rows = 1.0, []
    for td in sorted(df["t"].unique()):
        n_risk = int((df["t"] >= td).sum())
        d = int(df.loc[df["t"] == td, "e"].sum())
        if d > 0:
            surv *= 1.0 - d / n_risk
            rows.append((td, n_risk, d))
    assert list(got["t_days"]) == [r[0] for r in rows]
    assert list(got["n_risk"]) == [r[1] for r in rows]
    assert list(got["n_events"]) == [r[2] for r in rows]
    # replay the product-limit independently (plain running product)
    s, want = 1.0, []
    for td, n_risk, d in rows:
        s *= 1.0 - d / n_risk
        want.append(s)
    assert np.allclose(got["survival"], np.round(want, 6), atol=2e-6)
    # survival is a non-increasing curve in (0, 1]
    assert (np.diff(got["survival"]) <= 1e-12).all()
    assert (got["survival"] > 0).all() and (got["survival"] <= 1).all()


def test_mutual_information_matches_counter(spark):
    from collections import Counter

    from metevents_spark.quality import mutual_information

    got = mutual_information(spark, SF_SMALL).toPandas().iloc[0]

    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    ev = ev[ev["value"].notna()]
    xs = ev["event_type"].to_numpy()
    ys = np.minimum(np.floor(ev["value"].to_numpy() / 50.0), 9).astype(int)
    n = len(xs)
    cxy = Counter(zip(xs, ys))
    cx, cy = Counter(xs), Counter(ys)
    mi = sum(
        (c / n) * math.log(c * n / (cx[x] * cy[y]))
        for (x, y), c in cxy.items()
    )
    hx = -sum((c / n) * math.log(c / n) for c in cx.values())
    hy = -sum((c / n) * math.log(c / n) for c in cy.values())
    assert got["n"] == n and got["n_cells"] == len(cxy)
    assert abs(got["mi_nats"] - round(mi, 6)) < 1e-6
    assert abs(got["h_type"] - round(hx, 6)) < 1e-6
    assert abs(got["h_bin"] - round(hy, 6)) < 1e-6
    # information inequalities: 0 <= MI <= min(H)
    assert -1e-9 <= got["mi_nats"] <= min(hx, hy) + 1e-9


def test_benford_deviation_matches_counter(spark):
    from collections import Counter

    from metevents_spark.quality import benford_deviation

    got = benford_deviation(spark, SF_SMALL).toPandas()

    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    docs = docs[docs["n_chars"] > 0]
    for src, grp in docs.groupby("source"):
        digs = Counter(int(str(n)[0]) for n in grp["n_chars"])
        tot = sum(digs.values())
        sub = got[got["source"] == src].set_index("digit")
        assert list(sub.index) == list(range(1, 10))  # densified grid
        tvd = 0.0
        for dgt in range(1, 10):
            obs = digs.get(dgt, 0) / tot
            exp = math.log(1 + 1 / dgt) / math.log(10)
            assert sub.loc[dgt, "n"] == digs.get(dgt, 0)
            assert abs(sub.loc[dgt, "observed"] - round(obs, 6)) < 1e-9
            assert abs(sub.loc[dgt, "deviation"] - round(obs - exp, 6)) < 2e-6
            tvd += abs(obs - exp)
        assert (abs(sub["source_tvd"] - round(tvd / 2, 6)) < 2e-6).all()


def test_score_percentile_matches_pandas_rank(spark):
    from metevents_spark.text.stats import score_percentile_by_source

    got = score_percentile_by_source(spark, SF_SMALL).toPandas()

    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet").sort_values(
        ["n_chars", "doc_id"]
    )
    n = len(docs)
    docs["pct_global"] = np.round(np.arange(n) / (n - 1), 6)
    docs["pct_in_source"] = (
        docs.groupby("source").cumcount()
        / (docs.groupby("source")["doc_id"].transform("size") - 1)
    ).round(6)
    m = got.set_index("doc_id")
    w = docs.set_index("doc_id")
    assert np.allclose(m["pct_global"], w.loc[m.index, "pct_global"])
    assert np.allclose(m["pct_in_source"], w.loc[m.index, "pct_in_source"])
    assert np.allclose(
        m["calibration_gap"],
        (w.loc[m.index, "pct_in_source"] - w.loc[m.index, "pct_global"]).round(6),
        atol=2e-6,
    )


def test_source_weighted_sample_stratification(spark):
    from metevents_spark.text.pipeline import source_weighted_sample

    got = source_weighted_sample(spark, SF_SMALL).toPandas()

    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    # exactly min(20, source size) docs per source, keys replayed
    sizes = docs.groupby("source").size()
    per = got.groupby("source").size()
    for src, n in sizes.items():
        assert per.get(src, 0) == min(20, n), src
    keys = {
        int(r.doc_id): round(
            -math.log((_h60(int(r.doc_id)) + 1) / TWO60) / float(r.n_chars),
            12,
        )
        for r in docs.itertuples()
    }
    for src, grp in docs.groupby("source"):
        want = sorted(grp["doc_id"], key=lambda d: (keys[int(d)], d))[:20]
        sub = got[got["source"] == src].sort_values("rank_in_source")
        assert list(sub["doc_id"]) == [int(d) for d in want], src


def test_interarrival_stats_matches_numpy(spark):
    from metevents_spark.operators.seriesstats import interarrival_stats

    got = interarrival_stats(spark, SF_SMALL).toPandas().set_index("sid")

    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    ev["sid"] = ev["user_id"].astype(str)
    for sid, grp in ev.groupby("sid"):
        grp = grp.sort_values(["ts", "event_id"], kind="stable")
        us = grp["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        g = np.floor(np.diff(us) / 1e6).astype("int64")
        if len(g) < 2:
            assert sid not in got.index
            continue
        mean, var = g.mean(), g.var()  # population
        sd = math.sqrt(var)
        row = got.loc[sid]
        assert row["n_gaps"] == len(g)
        assert abs(row["mean_gap_s"] - round(mean, 6)) < 1e-6
        assert row["max_gap_s"] == g.max()
        assert abs(row["cv2"] - var / mean**2) < 1e-5
        assert abs(row["burstiness"] - (sd - mean) / (sd + mean)) < 1e-5
        assert -1 <= row["burstiness"] <= 1


def test_burst_collapse_matches_sweepline(spark):
    from metevents_spark.operators.sessions import burst_collapse

    got = burst_collapse(spark, SF_SMALL).toPandas()

    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    ev["sid"] = ev["user_id"].astype(str)
    gap = 30 * 60 * 1_000_000
    want = []
    for (sid, et), grp in ev.groupby(["sid", "event_type"]):
        grp = grp.sort_values(["ts", "event_id"], kind="stable")
        us = grp["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        seqs = grp["event_id"].to_numpy()
        start = 0
        for i in range(1, len(us) + 1):
            if i == len(us) or us[i] - us[i - 1] > gap:
                want.append(
                    (sid, et, us[start], int(seqs[start:i].min()),
                     i - start, int(us[i - 1] - us[start]))
                )
                start = i
    want.sort()
    g = sorted(
        (r.sid, r.event_type,
         int(np.datetime64(r.first_ts, "us").astype("int64")),
         int(r.first_seq), int(r.n_collapsed), int(r.span_us))
        for r in got.itertuples()
    )
    assert g == want
    # debouncing never loses events: collapsed counts refold to total
    assert got["n_collapsed"].sum() == len(ev)


def test_region_nation_rollup_levels(spark):
    from metevents_spark.relational.tpch import region_nation_rollup

    got = region_nation_rollup(spark, SF_SMALL).toPandas()

    detail = got[got["level"] == 0]
    sub = got[got["level"] == 1]
    grand = got[got["level"] == 3]
    assert len(grand) == 1 and grand["r_name"].isna().all()
    assert set(got["level"]) == {0, 1, 3}  # ROLLUP: no nation-only sets
    # subtotals refold exactly from details (counts and revenue)
    agg = detail.groupby("r_name")[["n_items", "revenue"]].sum()
    s = sub.set_index("r_name")
    assert (agg["n_items"] == s["n_items"]).all()
    assert np.allclose(agg["revenue"], s["revenue"], atol=0.05)
    assert grand["n_items"].iloc[0] == detail["n_items"].sum()


def test_region_nations_csv_ordered(spark):
    from metevents_spark.relational.tpch import region_nations_csv

    got = region_nations_csv(spark, SF_SMALL).toPandas()

    nat = pd.read_parquet(f"{SF_SMALL}/nation.parquet")
    reg = pd.read_parquet(f"{SF_SMALL}/region.parquet")
    j = nat.merge(reg, left_on="n_regionkey", right_on="r_regionkey")
    for _, row in got.iterrows():
        names = sorted(j.loc[j["r_name"] == row["r_name"], "n_name"])
        assert row["n_nations"] == len(names)
        assert row["nations_csv"] == ",".join(names)
