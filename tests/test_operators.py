"""Unit tests on tiny inline DataFrames: nulls, empty inputs, duplicate
keys, as-of tie semantics (SURVEY.md §5 item 2)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_asof_strict_tie_semantics(spark):
    """A click at exactly the purchase timestamp must NOT match (strict <),
    mirroring join_asof's window composition."""
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    earlier = dt.datetime(2024, 1, 1, 11, 0, 0)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    rows = [
        (1, earlier, "click", 10),
        (1, ts, "click", 11),      # same instant as the purchase
        (1, ts, "purchase", 12),
    ]
    ev = spark.createDataFrame(rows, schema)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts"), F.lit(0).alias("is_target"),
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(1).alias("is_target"), "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_target").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    out = (
        clicks.unionByName(purchases)
        .withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("is_target") == 1)
        .collect()
    )
    assert len(out) == 1
    assert out[0].last_click_ts == earlier  # not the equal-ts click


def test_empty_input_aggregation(spark):
    schema = "k string, v double"
    empty = spark.createDataFrame([], schema)
    out = empty.groupBy("k").agg(F.sum("v").alias("s")).collect()
    assert out == []
    glob = empty.agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()
    assert glob[0].n == 0 and glob[0].s is None


def test_null_handling_in_joins(spark):
    left = spark.createDataFrame([(1, "a"), (None, "b")], "k long, lv string")
    right = spark.createDataFrame([(1, "x"), (None, "y")], "k long, rv string")
    inner = left.join(right, "k").collect()
    # SQL semantics: NULL keys never match
    assert len(inner) == 1 and inner[0].k == 1
    louter = left.join(right, "k", "left").collect()
    assert len(louter) == 2


def test_duplicate_key_join_fanout(spark):
    left = spark.createDataFrame([(1, "a"), (1, "b")], "k long, lv string")
    right = spark.createDataFrame([(1, "x"), (1, "y")], "k long, rv string")
    assert left.join(right, "k").count() == 4


def test_window_on_single_row_partition(spark):
    df = spark.createDataFrame([(1, 5.0)], "k long, v double")
    w = W.partitionBy("k").orderBy("v")
    row = df.select(
        F.row_number().over(w).alias("rn"),
        F.lag("v").over(w).alias("prev"),
        F.sum("v").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("run"),
    ).collect()[0]
    assert row.rn == 1 and row.prev is None and row.run == 5.0


def test_approx_count_distinct_accuracy(spark, sf_dir):
    """HLL++ estimates must land within the documented ~5% rsd of exact
    distinct counts (the rows-only check can't see values — this can)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey").alias("approx"),
    ).first()
    assert abs(row.approx - row.exact) <= 0.05 * row.exact + 1


def test_hll_partial_merge_consistency_and_accuracy(spark, sf_dir):
    """The '__all__' row must equal the estimate of a directly-built
    global sketch (merging per-group sketches loses nothing — the whole
    point of storing sketch columns), and land within 5% of the exact
    distinct count."""
    from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all

    out = {
        r.event_type: r.approx_users
        for r in load_all()["agg_hll_partial_merge"].fn(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("d")
    ).first().d
    assert out["__all__"] == direct, "merged sketches diverge from direct build"
    exact = ev.select("user_id").distinct().count()
    assert abs(out["__all__"] - exact) <= 0.05 * exact + 1
    assert len(out) >= 3  # per-type rows plus the merged row


def test_cms_heavy_hitters_one_sided_guarantee(spark, sf_dir):
    """Count-min estimates never under-count (est >= exact for every
    reported term) and never miss a true heavy hitter (any term whose
    exact count clears the threshold must be reported — the one-sided
    CMS guarantee makes false negatives impossible)."""
    from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all

    got = {
        r.term: r.est_count
        for r in load_all()["text_heavy_hitters_cms"].fn(spark, sf_dir).collect()
    }
    assert got, "fixture should contain heavy-hitter terms"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    occ = docs.select(F.explode(F.split("text", " ")).alias("term"))
    exact = {r.term: r.c for r in occ.groupBy("term").agg(F.count("*").alias("c")).collect()}
    total = sum(exact.values())
    import math

    threshold = math.ceil(total * 0.01)
    for term, est in got.items():
        assert est >= exact[term], f"CMS under-counted {term}"
    for term, c in exact.items():
        if c >= threshold:
            assert term in got, f"true heavy hitter {term} missing"


def test_percentile_approx_accuracy(spark, sf_dir):
    """Approximate medians stay within 2% (relative) of the exact
    percentile at default accuracy."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx"),
    ).first()
    assert abs(row.approx - row.exact) <= 0.02 * abs(row.exact)


def test_tdigest_determinism_accuracy_and_merge_path(spark, sf_dir):
    """The t-digest query must be (a) deterministic across runs, (b)
    within ~1.5% RANK error of the exact percentiles (compare the
    estimate against the exact values at q +/- 1.5% rank — a value
    tolerance would be meaningless on a skewed distribution), and (c)
    merge-path consistent: the '__all__' digest (merged from salted
    per-group partials) stays inside the same rank window around the
    exact global percentiles."""
    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all

    fn = load_all()["sketch_tdigest_quantiles"].fn
    rows1 = {r.event_type: (r.p50, r.p90, r.p99) for r in fn(spark, sf_dir).collect()}
    rows2 = {r.event_type: (r.p50, r.p90, r.p99) for r in fn(spark, sf_dir).collect()}
    assert rows1 == rows2, "digest build is nondeterministic"
    assert "__all__" in rows1 and len(rows1) >= 3

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    vals = np.array([r.value for r in ev.select("value").collect()], dtype=float)
    for i, q in enumerate((0.50, 0.90, 0.99)):
        est = rows1["__all__"][i]
        lo = np.quantile(vals, max(q - 0.015, 0.0))
        hi = np.quantile(vals, min(q + 0.015, 1.0))
        assert lo - 1e-9 <= est <= hi + 1e-9, (q, est, lo, hi)
    # per-group accuracy on the largest group
    gtype = (
        ev.groupBy("event_type").count().orderBy(F.col("count").desc()).first().event_type
    )
    gvals = np.array(
        [r.value for r in ev.filter(F.col("event_type") == gtype).select("value").collect()],
        dtype=float,
    )
    for i, q in enumerate((0.50, 0.90, 0.99)):
        est = rows1[gtype][i]
        lo = np.quantile(gvals, max(q - 0.02, 0.0))
        hi = np.quantile(gvals, min(q + 0.02, 1.0))
        assert lo - 1e-9 <= est <= hi + 1e-9, (gtype, q, est, lo, hi)


def test_tdigest_compress_invariants():
    """td_compress is order-invariant, weight-preserving, and bounded at
    K centroids; td_quantile on an uncompressed digest reproduces exact
    order statistics (midpoint interpolation over unit weights)."""
    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.aggregates import (
        _TD_K,
        td_compress,
        td_quantile,
    )

    rng = np.random.default_rng(7)
    vals = rng.normal(size=5000)
    w = np.ones(5000, dtype=np.int64)
    m1, w1 = td_compress(vals, w)
    m2, w2 = td_compress(vals[::-1], w)
    assert m1 == m2 and w1 == w2, "compression depends on input order"
    assert len(m1) <= _TD_K
    assert sum(w1) == 5000
    assert m1 == sorted(m1)
    # exactness on a tiny digest (no compression path)
    small = [1.0, 2.0, 3.0, 4.0]
    assert td_quantile(small, [1, 1, 1, 1], 0.5) == 2.5


def test_hll_intersection_accuracy_and_symmetry(spark, sf_dir):
    """Every pairwise inclusion-exclusion estimate must land within 7%
    (+2) of the exact user-set intersection, and the estimate must not
    depend on pair order (type_a < type_b canonicalization covers the
    matrix exactly once per unordered pair)."""
    from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all

    rows = load_all()["agg_hll_intersection"].fn(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    users = {
        r.event_type: set()
        for r in ev.select("event_type").distinct().collect()
    }
    for r in ev.select("event_type", "user_id").collect():
        users[r.event_type].add(r.user_id)
    n_types = len(users)
    assert len(rows) == n_types * (n_types - 1) // 2
    for r in rows:
        exact = len(users[r.type_a] & users[r.type_b])
        assert abs(r.est_intersection - exact) <= 0.07 * exact + 2, (
            r.type_a, r.type_b, r.est_intersection, exact,
        )


def test_skewness_kurtosis_matches_numpy(spark, sf_dir):
    """Independent cross-validation of the two-pass moment formulas
    against numpy on the raw parquet — a third engine beyond the
    Spark/DuckDB pair, so a shared formula mistake in the oracle cannot
    self-confirm."""
    import numpy as np
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.aggregates import (
        agg_skewness_kurtosis,
    )

    rows = {r.l_returnflag: r for r in agg_skewness_kurtosis(spark, sf_dir).collect()}
    pdf = pq.read_table(f"{sf_dir}/lineitem.parquet").to_pandas()
    for flag, grp in pdf.groupby("l_returnflag"):
        x = grp["l_extendedprice"].to_numpy(dtype=float)
        mu = x.mean()
        m2, m3, m4 = ((x - mu) ** 2).mean(), ((x - mu) ** 3).mean(), ((x - mu) ** 4).mean()
        assert rows[flag].n == len(x)
        assert abs(rows[flag].skewness - m3 / m2**1.5) < 1e-3
        assert abs(rows[flag].excess_kurtosis - (m4 / m2**2 - 3)) < 1e-3


def test_covariance_corr_matches_numpy(spark, sf_dir):
    import numpy as np
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.aggregates import (
        agg_covariance_corr,
    )

    rows = {r.l_returnflag: r for r in agg_covariance_corr(spark, sf_dir).collect()}
    pdf = pq.read_table(f"{sf_dir}/lineitem.parquet").to_pandas()
    for flag, grp in pdf.groupby("l_returnflag"):
        x = grp["l_quantity"].to_numpy(dtype=float)
        y = grp["l_extendedprice"].to_numpy(dtype=float)
        cov = np.cov(x, y, ddof=1)[0, 1]
        corr = np.corrcoef(x, y)[0, 1]
        assert abs(rows[flag].covar - cov) < max(1e-3, 1e-6 * abs(cov))
        assert abs(rows[flag].corr - corr) < 1e-3


def test_changepoint_cusum_matches_numpy(spark, sf_dir):
    """Brute-force CUSUM per series in numpy/pandas: daily sums, running
    deviation from the mean, |peak| argmax with earliest-day ties."""
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.events import (
        events_changepoint_cusum,
    )

    got = {
        r.event_type: (r.change_day, r.peak_cusum)
        for r in events_changepoint_cusum(spark, sf_dir).collect()
    }
    pdf = pq.read_table(f"{sf_dir}/events.parquet").to_pandas()
    pdf["day"] = pdf["ts"].dt.date
    daily = (
        pdf.groupby(["event_type", "day"])["value"].sum().round(2).reset_index()
    )
    for etype, grp in daily.groupby("event_type"):
        grp = grp.sort_values("day")
        dev = grp["value"] - grp["value"].mean()
        cusum = dev.cumsum().round(2)
        peak_idx = cusum.abs().values.argmax()  # argmax = first max = earliest day
        day, peak = grp["day"].iloc[peak_idx], cusum.iloc[peak_idx]
        assert got[etype][0] == day, (etype, got[etype], day)
        assert abs(got[etype][1] - peak) < 0.02, (etype, got[etype], peak)


def test_triangle_edges_close_in_pair_set(spark, sf_dir):
    """Structural property independent of the oracle: every reported
    triangle's three edges must each be a reported near-dup pair, and
    every wedge in the pair set whose closing edge exists must be
    reported — i.e. the output IS the triangle set of the pair graph."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.dedup import (
        dedup_minhash_pairs,
        dedup_triangle_count,
    )

    edges = {
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_pairs(spark, sf_dir).collect()
    }
    tris = {
        (r.doc_a, r.doc_b, r.doc_c)
        for r in dedup_triangle_count(spark, sf_dir).collect()
    }
    for a, b, c in tris:
        assert a < b < c
        assert (a, b) in edges and (b, c) in edges and (a, c) in edges
    brute = {
        (a, b, c)
        for (a, b) in edges
        for (b2, c) in edges
        if b == b2 and (a, c) in edges
    }
    assert tris == brute


def test_benford_digit_table_is_complete_and_consistent(spark, sf_dir):
    """dq_benford invariants: all 9 digits present, counts sum to the
    table row count, shares sum to 1, expectation matches the closed
    form, chi-square terms non-negative — plus a numpy recompute of the
    first-digit histogram as the third engine."""
    import math

    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.dq import dq_benford

    rows = {r.digit: r for r in dq_benford(spark, sf_dir).collect()}
    assert sorted(rows) == list(range(1, 10))
    tp = pq.read_table(f"{sf_dir}/orders.parquet", columns=["o_totalprice"])
    vals = [v for v in tp.column("o_totalprice").to_pylist() if v >= 1]
    assert sum(r.n for r in rows.values()) == len(vals)
    # numpy/python third engine for the histogram itself
    expect = {d: 0 for d in range(1, 10)}
    for v in vals:
        expect[int(str(int(math.floor(v)))[0])] += 1
    for d, r in rows.items():
        assert r.n == expect[d]
        assert abs(r.exp_share - round(math.log10(1 + 1 / d), 4)) <= 1e-9
        assert r.chi2_term >= 0
    assert abs(sum(r.obs_share for r in rows.values()) - 1.0) < 1e-2


def test_collocation_pmi_matches_python_recompute(spark, sf_dir):
    """Full PMI recompute in plain python over the raw parquet (third
    engine): token/pair counts, the ratio-product formula, identical
    rounding, identical (pmi desc, w1, w2) top-K cut."""
    import math
    from collections import Counter

    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.text import (
        _PMI_MIN_COUNT,
        _PMI_TOPK,
        text_collocation_pmi,
    )

    got = [
        (r.w1, r.w2, r.c_xy, r.pmi)
        for r in text_collocation_pmi(spark, sf_dir).collect()
    ]
    texts = (
        pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
        .column("text")
        .to_pylist()
    )
    uni, big = Counter(), Counter()
    n_pair = 0
    for txt in texts:
        ws = txt.split(" ")
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
        n_pair += max(len(ws) - 1, 0)
    n_tok = sum(uni.values())
    scored = [
        (
            round(
                math.log(
                    (c / n_pair) * (n_tok / uni[w1]) * (n_tok / uni[w2])
                ),
                4,
            ),
            w1,
            w2,
            c,
        )
        for (w1, w2), c in big.items()
        if c >= _PMI_MIN_COUNT
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = [(w1, w2, c, pmi) for pmi, w1, w2, c in scored[:_PMI_TOPK]]
    assert sorted(got) == sorted(want)


def test_ewma_matches_pandas_recursion(spark, sf_dir):
    """The closed-form two-running-sums EWMA must equal pandas'
    recursive ewm(adjust=True) on every series — the property that the
    algebraic reformulation (weights (1/(1-a))^d, common scale
    cancelled by the ratio) is in fact the same estimator. Daily means
    recomputed exact-cents like the operator; gap days contribute
    decayed weights exactly as the day-index exponent encodes."""
    import pandas as pd
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.events import (
        _EWMA_ALPHA,
        events_ewma,
    )

    got = {
        (r.event_type, r.day): (r.daily_avg, r.ewma)
        for r in events_ewma(spark, sf_dir).collect()
    }
    pdf = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_type", "ts", "value"]
    ).to_pandas()
    pdf["day"] = pdf["ts"].dt.normalize()
    pdf["cents"] = (pdf["value"] * 100).round().astype("int64")
    for etype, grp in pdf.groupby("event_type"):
        daily = (
            grp.groupby("day")
            .agg(s=("cents", "sum"), n=("cents", "size"))
            .sort_index()
        )
        x = daily["s"] / daily["n"] / 100.0
        # hand-rolled recursive adjusted EWMA with calendar-gap decay:
        # num_t = x_t + (1-a)^gap * num_(t-1); den likewise — the
        # textbook recursion the closed form must reproduce
        decay = 1.0 - _EWMA_ALPHA
        num = den = 0.0
        prev_d = None
        for day, xt in x.items():
            d = (day - pd.Timestamp("2024-01-01")).days
            gap = d - prev_d if prev_d is not None else 0
            num = xt + (decay**gap) * num
            den = 1.0 + (decay**gap) * den
            prev_d = d
            g = got[(etype, day.date())]
            assert abs(g[1] - num / den) < 5e-4, (etype, day, g, num / den)
            assert abs(g[0] - xt) < 5e-4


def test_linear_regression_matches_numpy(spark, sf_dir):
    """OLS cross-check vs numpy.polyfit per group (third engine)."""
    import numpy as np
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.aggregates import (
        agg_linear_regression,
    )

    rows = {
        r.l_returnflag: r for r in agg_linear_regression(spark, sf_dir).collect()
    }
    pdf = pq.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_returnflag", "l_quantity", "l_extendedprice"],
    ).to_pandas()
    for flag, grp in pdf.groupby("l_returnflag"):
        x = grp["l_quantity"].to_numpy(dtype=float)
        y = grp["l_extendedprice"].to_numpy(dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        r = np.corrcoef(x, y)[0, 1]
        assert rows[flag].n == len(x)
        assert abs(rows[flag].slope - slope) < max(1e-3, 1e-5 * abs(slope))
        assert abs(rows[flag].intercept - intercept) < max(
            1e-3, 1e-5 * abs(intercept)
        )
        assert abs(rows[flag].r2 - r * r) < 1e-3


def test_js_divergence_matches_full_union_recompute(spark, sf_dir):
    """The shared-terms decomposition must equal the textbook
    union-vocabulary JSD — recomputed in plain python over the raw
    parquet (third engine), including the p*ln2 tails the inner join
    never materializes. Also pins symmetry-free bounds [0, ln 2]."""
    import math
    from collections import Counter, defaultdict

    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.text import (
        text_js_divergence,
    )

    got = {
        (r.source_a, r.source_b): (r.n_shared_terms, r.jsd)
        for r in text_js_divergence(spark, sf_dir).collect()
    }
    tb = pq.read_table(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    dist = defaultdict(Counter)
    for src, txt in zip(
        tb.column("source").to_pylist(), tb.column("text").to_pylist()
    ):
        dist[src].update(txt.split(" "))
    srcs = sorted(dist)
    assert set(got) == {(x, y) for x in srcs for y in srcs if x < y}
    for (sa, sb), (n_shared, jsd) in got.items():
        pa, pb = dist[sa], dist[sb]
        na, nb = sum(pa.values()), sum(pb.values())
        union = set(pa) | set(pb)
        want = 0.0
        for w in union:
            p, q = pa[w] / na, pb[w] / nb
            m = (p + q) / 2
            if p:
                want += 0.5 * p * math.log(p / m)
            if q:
                want += 0.5 * q * math.log(q / m)
        assert n_shared == len(set(pa) & set(pb))
        assert abs(jsd - want) < 5e-4
        assert -1e-9 <= jsd <= math.log(2) + 1e-9


def test_column_entropy_matches_scipy_style_recompute(spark, sf_dir):
    """Entropy recomputed from raw value counts in python (third
    engine); normalized entropy bounded [0, 1]."""
    import math
    from collections import Counter

    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.dq import (
        dq_column_entropy,
    )

    rows = {r.col: r for r in dq_column_entropy(spark, sf_dir).collect()}
    tb = pq.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_returnflag", "l_linestatus", "l_quantity"],
    )
    series = {
        "l_returnflag": tb.column("l_returnflag").to_pylist(),
        "l_linestatus": tb.column("l_linestatus").to_pylist(),
        "l_quantity": [str(int(v)) for v in tb.column("l_quantity").to_pylist()],
    }
    assert set(rows) == set(series)
    for col, vals in series.items():
        cnt = Counter(vals)
        n = len(vals)
        h = -sum((c / n) * math.log(c / n) for c in cnt.values())
        assert rows[col].n_distinct == len(cnt)
        assert abs(rows[col].entropy - h) < 5e-4
        want_norm = 0.0 if len(cnt) == 1 else h / math.log(len(cnt))
        assert abs(rows[col].norm_entropy - want_norm) < 5e-4
        assert -1e-9 <= rows[col].norm_entropy <= 1 + 1e-9


def test_gini_matches_numpy_recompute(spark, sf_dir):
    """Gini recomputed from sorted numpy cents (third engine) plus the
    bounds and tie-invariance properties the operator's exactness
    argument relies on."""
    import numpy as np
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.aggregates import (
        agg_gini_concentration,
    )

    rows = {r.grp: r for r in agg_gini_concentration(spark, sf_dir).collect()}
    pdf = pq.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_orderpriority", "o_totalprice"]
    ).to_pandas()
    for grp, g in pdf.groupby("o_orderpriority"):
        c = np.sort(np.round(g["o_totalprice"].to_numpy() * 100).astype(np.int64))
        n = len(c)
        i = np.arange(1, n + 1, dtype=np.int64)
        gini = 2.0 * (i * c).sum() / (n * 1.0 * c.sum()) - (n + 1.0) / n
        assert rows[grp].n == n
        assert abs(rows[grp].gini - gini) < 5.1e-5  # operator rounds 4dp
        assert 0.0 <= rows[grp].gini < 1.0
        assert abs(rows[grp].total_value - round(c.sum() / 100.0, 2)) < 1e-6


def test_seasonal_strength_matches_pandas_decomposition(spark, sf_dir):
    """Fs = max(0, 1 - Var(resid)/Var(total)) recomputed in pandas over
    exact-cents hourly means; strength bounded [0, 1]."""
    import numpy as np
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.events import (
        events_seasonal_strength,
    )

    rows = {
        r.event_type: r for r in events_seasonal_strength(spark, sf_dir).collect()
    }
    pdf = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_type", "ts", "value"]
    ).to_pandas()
    pdf["hr"] = pdf["ts"].dt.floor("h")
    pdf["cents"] = (pdf["value"] * 100).round().astype("int64")
    for etype, g in pdf.groupby("event_type"):
        hourly = g.groupby("hr").agg(s=("cents", "sum"), n=("cents", "size"))
        x = (hourly["s"] / hourly["n"] / 100.0).rename("x").reset_index()
        x["dow"] = x["hr"].dt.dayofweek
        x["hod"] = x["hr"].dt.hour
        prof = x.groupby(["dow", "hod"])["x"].transform("mean")
        resid = x["x"] - prof
        var_total = ((x["x"] - x["x"].mean()) ** 2).sum() / len(x)
        var_resid = (resid**2).sum() / len(x)
        want = max(0.0, 1.0 - var_resid / var_total) if var_total else 0.0
        r = rows[etype]
        assert r.n == len(x)
        assert abs(r.var_total - var_total) < 5e-4
        assert abs(r.var_resid - var_resid) < 5e-4
        assert abs(r.seasonal_strength - want) < 5e-4
        assert 0.0 <= r.seasonal_strength <= 1.0


def test_forecast_backtest_matches_pandas(spark, sf_dir):
    """Naive/seasonal-naive backtest recomputed in pandas over
    exact-cents daily means (third engine); MASE consistency."""
    import numpy as np
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.events import (
        events_forecast_backtest,
    )

    rows = {
        r.event_type: r for r in events_forecast_backtest(spark, sf_dir).collect()
    }
    pdf = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_type", "ts", "value"]
    ).to_pandas()
    pdf["day"] = pdf["ts"].dt.normalize()
    pdf["cents"] = (pdf["value"] * 100).round().astype("int64")
    for etype, g in pdf.groupby("event_type"):
        daily = g.groupby("day").agg(s=("cents", "sum"), n=("cents", "size"))
        x = (daily["s"] / daily["n"] / 100.0).sort_index()
        p1, p7 = x.shift(1), x.shift(7)
        mask = p1.notna() & p7.notna()
        e1 = (x - p1)[mask].abs()
        e7 = (x - p7)[mask].abs()
        r = rows[etype]
        assert r.n == int(mask.sum())
        assert abs(r.mae_naive - e1.mean()) < 5e-4
        assert abs(r.mae_snaive - e7.mean()) < 5e-4
        assert abs(r.rmse_snaive - np.sqrt(((x - p7)[mask] ** 2).mean())) < 5e-4
        assert abs(r.mase - e7.mean() / e1.mean()) < 5e-3


def test_functional_dependency_matches_pandas(spark, sf_dir):
    """FD violation counts recomputed with pandas nunique (third
    engine); the key FD o_orderkey -> o_orderdate must hold exactly."""
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.dq import (
        dq_functional_dependency,
    )

    rows = {r.fd: r for r in dq_functional_dependency(spark, sf_dir).collect()}
    orders = pq.read_table(f"{sf_dir}/orders.parquet").to_pandas()
    li = pq.read_table(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_returnflag"]
    ).to_pandas()
    cases = {
        "o_custkey->o_orderpriority": orders.groupby("o_custkey")[
            "o_orderpriority"
        ].nunique(),
        "l_orderkey->l_returnflag": li.groupby("l_orderkey")[
            "l_returnflag"
        ].nunique(),
        "o_orderkey->o_orderdate": orders.groupby("o_orderkey")[
            "o_orderdate"
        ].nunique(),
    }
    assert set(rows) == set(cases)
    for fd, k in cases.items():
        assert rows[fd].n_det == len(k)
        assert rows[fd].n_violating == int((k > 1).sum())
        assert rows[fd].max_dep_per_det == int(k.max())
    assert rows["o_orderkey->o_orderdate"].n_violating == 0


def test_series_correlation_matches_pandas(spark, sf_dir):
    """Pairwise daily-series correlation recomputed with pandas corr
    (third engine); bounded [-1, 1]."""
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.events import (
        events_series_correlation,
    )

    rows = {
        (r.type_a, r.type_b): r
        for r in events_series_correlation(spark, sf_dir).collect()
    }
    pdf = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_type", "ts", "value"]
    ).to_pandas()
    pdf["day"] = pdf["ts"].dt.normalize()
    pdf["cents"] = (pdf["value"] * 100).round().astype("int64")
    daily = (
        pdf.groupby(["event_type", "day"])
        .agg(s=("cents", "sum"), n=("cents", "size"))
        .assign(x=lambda t: t["s"] / t["n"] / 100.0)["x"]
        .unstack(level=0)
    )
    types = sorted(daily.columns)
    for i, ta in enumerate(types):
        for tb in types[i + 1 :]:
            joined = daily[[ta, tb]].dropna()
            r = rows[(ta, tb)]
            assert r.n_days == len(joined)
            want = joined[ta].corr(joined[tb])
            assert abs(r.corr - want) < 5e-3, (ta, tb, r.corr, want)
            assert -1.0 <= r.corr <= 1.0


def test_theil_sen_matches_python_exact(spark, sf_dir):
    """Third engine for events_trend_theil_sen: recompute the
    integer-quantized pairwise slopes and their exact half-unit median
    in pure Python — bit-equality, no tolerance (the integer-core
    contract), plus a sanity bound: the slope lies within the min/max
    pairwise slope."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.events import (
        _TS_K,
        events_trend_theil_sen,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    import collections
    import datetime as dt

    daily: dict = collections.defaultdict(lambda: collections.defaultdict(int))
    for r in ev.select("event_type", "ts", "value").collect():
        d = (r.ts.date() - dt.date(1970, 1, 1)).days
        daily[r.event_type][d] += int(round(r.value * 100))
    want = {}
    for et, series in daily.items():
        days = sorted(series)
        s = []
        for i, d1 in enumerate(days):
            for d2 in days[i + 1 :]:
                dc, dd = series[d2] - series[d1], d2 - d1
                s.append((2 * (dc * 1000000 + _TS_K * dd) + dd) // (2 * dd) - _TS_K)
        s.sort()
        n = len(s)
        med2 = s[n // 2] * 2 if n % 2 else s[n // 2 - 1] + s[n // 2]
        want[et] = (n, med2 / 2.0 / 1000000.0)
    got = {
        r.event_type: (r.n_pairs, r.slope_per_day)
        for r in events_trend_theil_sen(spark, sf_dir).collect()
    }
    assert got == want
    for et, (_n, slope) in got.items():
        days = sorted(daily[et])
        raw = [
            (daily[et][d2] - daily[et][d1]) / (d2 - d1)
            for i, d1 in enumerate(days)
            for d2 in days[i + 1 :]
        ]
        assert min(raw) - 1e-3 <= slope <= max(raw) + 1e-3


def test_referential_integrity_plan_memo_rebuilds_on_table_rewrite(
    spark, sf_dir, tmp_path
):
    """dq_referential_integrity memoizes its built plan; the memo key
    carries the content fingerprint of every table the plan reads, so
    rewriting one of them in the same session rebuilds the plan (fresh
    file listing, fresh counts) instead of serving the stale one, while
    an untouched fixture still reuses it."""
    import shutil

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.dq import (
        dq_referential_integrity,
    )

    sf = str(tmp_path)
    for name in ("lineitem", "orders", "part", "supplier", "customer", "nation"):
        shutil.copy(f"{sf_dir}/{name}.parquet", f"{sf}/{name}.parquet")
    first = dq_referential_integrity(spark, sf)
    assert dq_referential_integrity(spark, sf) is first, "warm call must reuse"
    before = {r.rel: r.n_orphans for r in first.collect()}
    assert before["lineitem->orders"] == 0

    # drop every odd order: their line items become orphans
    spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") % 2 == 0
    ).write.mode("overwrite").parquet(f"{sf}/orders.parquet")
    rebuilt = dq_referential_integrity(spark, sf)
    assert rebuilt is not first, "rewritten table must rebuild the plan"
    after = {r.rel: r.n_orphans for r in rebuilt.collect()}
    odd_lines = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_orderkey") % 2 == 1)
        .count()
    )
    assert after["lineitem->orders"] == odd_lines > 0
