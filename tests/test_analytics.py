"""Bounds for the analytics-surface extensions (plans/analytics.py).

The six oracle-backed queries are hash-verified by the driver gate /
test_oracle_parity; here we cover what hash equality can't: accuracy
bounds for the approximate aggregates (sketches differ across
engines, so the contract is relative error vs the exact answer, not
bit equality) and operator-level edge cases for the new helpers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prisma_migrator_spark.catalog import load_table
from prisma_migrator_spark.operators.ranking import topk_per_group
from prisma_migrator_spark.plans.registry import QUERIES


def test_approx_distinct_within_rsd(spark, sf_dir):
    approx = {
        r["l_suppkey"]: r["approx_parts"]
        for r in QUERIES["approx_distinct_parts"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_suppkey"]: r["n"]
        for r in li.groupBy("l_suppkey")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        # rsd=0.02 is a standard deviation, not a hard cap; 5x margin.
        assert abs(approx[k] - n) <= max(2, 0.10 * n), (k, approx[k], n)


def test_approx_quantiles_within_rank_error(spark, sf_dir):
    got = {
        r["event_type"]: r
        for r in QUERIES["approx_event_value_quantiles"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    for et, row in got.items():
        vals = sorted(
            r["value"] for r in ev.where(F.col("event_type") == et).collect()
        )
        n = len(vals)
        for name, p in [("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p95", 0.95)]:
            # GK sketch guarantees rank error <= n/accuracy (=n/10000);
            # allow a +/- 1% rank window to be safe on tiny groups.
            lo = vals[max(0, int((p - 0.01) * n) - 1)]
            hi = vals[min(n - 1, int((p + 0.01) * n) + 1)]
            assert lo <= row[name] <= hi, (et, name, row[name], lo, hi)


def test_topk_per_group_ties_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 10, 2), ("a", 10, 1), ("a", 9, 3), ("b", 5, 1)],
        ["k", "score", "id"],
    )
    top = topk_per_group(df, ["k"], "score", k=2, tiebreakers=["id"])
    rows = {(r["k"], r["rn"]): r["id"] for r in top.collect()}
    # tie on score=10 broken by ascending id
    assert rows[("a", 1)] == 1 and rows[("a", 2)] == 2
    assert rows[("b", 1)] == 1


def test_interval_join_bounds_are_half_open(spark):
    from prisma_migrator_spark.operators.joins import interval_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 23:59:59"),
         (1, "2024-01-02 00:00:00"), (2, "2024-01-01 12:00:00")],
        ["uid", "ts"],
    ).select("uid", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], ["uid", "start"]
    ).select("uid", F.col("start").cast("timestamp").alias("start"))
    out = interval_join(left, right, ["uid"], "ts", "start", "24 HOURS")
    got = sorted(r["ts"].isoformat() for r in out.collect())
    # start inclusive, start+24h exclusive; uid=2 has no anchor
    assert got == ["2024-01-01T00:00:00", "2024-01-01T23:59:59"]


def test_funnel_ordering_constraints(spark):
    """Stage timestamps must be strictly increasing: a click BEFORE
    the first view doesn't count, nor a purchase before the first
    qualifying click; users without a view are absent."""
    import datetime as dt

    from prisma_migrator_spark.plans.analytics import (
        funnel_view_click_purchase,
    )
    from prisma_migrator_spark.plans import QUERIES

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1: click before view (ignored), then view, click, purchase
        (1, t(0), "click"), (1, t(1), "view"), (1, t(2), "click"),
        (1, t(3), "purchase"),
        # u2: purchase precedes its only click -> stage 2
        (2, t(1), "view"), (2, t(2), "purchase"), (2, t(3), "click"),
        # u3: only a view -> stage 1
        (3, t(5), "view"),
        # u4: no view at all -> excluded
        (4, t(1), "click"), (4, t(2), "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        ev.withColumn("value", F.lit(1.0)).withColumn(
            "event_id", F.col("user_id")
        ).write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r["user_id"]: r
            for r in funnel_view_click_purchase(spark, d).collect()
        }
    assert set(out) == {1, 2, 3}
    assert out[1]["stage"] == 3
    assert out[1]["click_us"] > out[1]["view_us"]
    assert out[1]["purchase_us"] > out[1]["click_us"]
    assert out[2]["stage"] == 2 and out[2]["purchase_us"] is None
    assert out[3]["stage"] == 1 and out[3]["click_us"] is None


def test_retention_day_zero_counts_all_users(spark, sf_dir):
    """Every user is active on their own cohort day, so summing
    day_offset=0 across cohorts equals the distinct-user count; all
    offsets are non-negative."""
    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.plans.analytics import retention_cohorts_daily

    out = retention_cohorts_daily(spark, sf_dir).collect()
    n_users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r["n_users"] for r in out if r["day_offset"] == 0) == n_users
    assert all(r["day_offset"] >= 0 for r in out)


def test_gapfill_series_is_dense(spark, sf_dir):
    """Each user's resampled series has every consecutive bucket
    exactly one step apart (zero-filled, no holes), spanning their
    first to last event bucket."""
    from prisma_migrator_spark.plans.analytics import (
        _GAP_BUCKET_US,
        events_gapfill_6h,
    )

    rows = events_gapfill_6h(spark, sf_dir).collect()
    by_user: dict[int, list[int]] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r["bucket_us"])
    assert by_user
    for buckets in by_user.values():
        buckets.sort()
        assert all(
            b2 - b1 == _GAP_BUCKET_US for b1, b2 in zip(buckets, buckets[1:])
        )


def test_hll_sketch_merge_is_exact_union(spark, sf_dir):
    """Merging per-day HLL sketches must equal the single-pass sketch
    (union is lossless), and both must estimate within 5% of exact."""
    from prisma_migrator_spark.plans.registry import QUERIES

    row = QUERIES["incremental_distinct_users"](spark, sf_dir).collect()[0]
    assert row.n_days >= 1
    assert row.est_merged == row.est_direct
    assert abs(row.est_merged - row.exact_users) <= 0.05 * row.exact_users


def test_approx_top_k_matches_exact_heavy_hitters(spark, sf_dir):
    """With a 10k-slot sketch over a small-vocab corpus the estimates
    must equal the exact counts, and the returned set must be the
    exact top-15 (frequency-sorted prefix)."""
    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.llm.text import tokens
    from prisma_migrator_spark.plans.registry import QUERIES

    got = {
        r.term: r.est_count
        for r in QUERIES["heavy_hitter_terms_approx"](spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    exact = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .where(F.length("t") > 0)
        .groupBy("t")
        .count()
        .orderBy(F.desc("count"), "t")
        .limit(20)
        .collect()
    )
    exact_counts = {r.t: r["count"] for r in exact}
    assert len(got) == 15
    for term, est in got.items():
        assert exact_counts.get(term) == est, (term, est)
    # every returned term's exact count >= the 16th exact count
    floor = exact[15]["count"]
    assert all(exact_counts[t] >= floor for t in got)


def test_check_constraints_null_condition_counts_as_violation(spark):
    """A rule whose condition evaluates to NULL (no explicit isNull
    guard) must fail closed: for a data-quality gate, 'unknown' is a
    violation, not a silent pass."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from prisma_migrator_spark.plans.profiling import check_constraints

    df = spark.createDataFrame(
        [Row(x=10), Row(x=None), Row(x=3)],
        schema="x int",
    )
    got = {
        r.rule: (r.n_rows, r.n_violations)
        for r in check_constraints(
            df, [("x_gt_5", F.col("x") > 5)]
        ).collect()
    }
    # x=10 violates, x=NULL counts as violation, x=3 passes
    assert got["x_gt_5"] == (3, 2)


def test_apps_by_category_dynamic_assembly(spark, sf_dir):
    """The parameterized entry point must honor each optional
    predicate independently (reference getAppsByCategory,
    src/utils/lib.ts:281-318): no args = TRUE branch = latest snapshot
    per app over ALL apps; a handle list restricts to apps seen under
    those categories (with the role filter engaged); the position cap
    restricts further; and handles ∪ cap = intersection of the two
    restrictions."""
    from prisma_migrator_spark.plans.core import (
        apps_by_category,
        latest_per_key_lineitem,
    )

    base = apps_by_category(spark, sf_dir)
    all_latest = latest_per_key_lineitem(spark, sf_dir)
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, all_latest.collect())
    )

    handles = [1, 2, 3]
    by_cat = apps_by_category(spark, sf_dir, category_handles=handles)
    capped = apps_by_category(spark, sf_dir, max_position=1)
    both = apps_by_category(
        spark, sf_dir, category_handles=handles, max_position=1
    )
    base_keys = {r.l_partkey for r in base.select("l_partkey").collect()}
    cat_keys = {r.l_partkey for r in by_cat.select("l_partkey").collect()}
    cap_keys = {r.l_partkey for r in capped.select("l_partkey").collect()}
    both_keys = {r.l_partkey for r in both.select("l_partkey").collect()}
    assert cat_keys < base_keys  # strict: handles really filter
    assert cap_keys <= base_keys
    # both params → ∃ one capp row satisfying the CONJUNCTION: at most
    # the intersection of the separate existence tests
    assert both_keys <= (cat_keys & cap_keys) and both_keys
    # the snapshot row for a key is IDENTICAL across parameterizations
    # (parameters select apps; they never change which snapshot wins)
    pick = {r.l_partkey: tuple(r) for r in base.collect()}
    for r in both.collect():
        assert tuple(r) == pick[r.l_partkey]


def test_pareto_frontier_2d_constructed(spark):
    """Edge cases the sf fixture can't isolate: both-axes ties all
    survive, same-price smaller-size is dominated, equal-max across
    a bucket boundary is dominated (strict > against the cross-bucket
    base), and a brute-force dominance check agrees row-for-row."""
    from prisma_migrator_spark.plans.analytics import pareto_frontier_2d

    rows = [
        # (id, price, size)
        (1, 10.0, 5),
        (2, 10.0, 5),    # exact tie with 1 -> both on frontier
        (3, 10.0, 4),    # same price, smaller size -> dominated by 1
        (4, 9.0, 5),     # dominates 1/2 on price? equal size, cheaper:
                         # 1/2 dominated -> only 4 survives of the 5s
        (5, 8.0, 2),
        (6, 12.0, 5),    # equal size, pricier than 4 -> dominated
        (7, 11.0, 7),
        (8, 20.0, 7),    # equal size as 7, pricier -> dominated
        (9, 30.0, 9),
    ]
    df = spark.createDataFrame(rows, "id int, price double, size int")
    got = {
        r.id
        for r in pareto_frontier_2d(
            df, minimize="price", maximize="size", n_buckets=4
        ).collect()
    }

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
            for q in rows
        )

    want = {p[0] for p in rows if not dominated(p)}
    assert got == want == {4, 5, 7, 9}

    # single-value degenerate input: everything ties, everything stays
    one = spark.createDataFrame([(1, 5.0, 3), (2, 5.0, 3)],
                                "id int, price double, size int")
    assert {
        r.id for r in pareto_frontier_2d(one, "price", "size").collect()
    } == {1, 2}


def test_customer_custkey_unique_nonnull_fixture_invariant(spark, sf_dir):
    """Pins the fixture invariant category_difficulty's r9 rewrite
    rests on (ADVICE r9): COUNT(DISTINCT c_custkey) was replaced by
    count(*) over a frame that is one row per customer, which is only
    sound while c_custkey is unique and non-null in the customer
    table. A future fixture regeneration that violates either breaks
    HERE, not silently in the oracle comparison."""
    from prisma_migrator_spark.catalog import load_table

    cust = load_table(spark, sf_dir, "customer")
    total, distinct, nulls = cust.select(
        F.count(F.lit(1)),
        F.countDistinct("c_custkey"),
        F.count(F.when(F.col("c_custkey").isNull(), 1)),
    ).first()
    assert nulls == 0, "c_custkey has NULLs - the count(*) rewrite is unsound"
    assert total == distinct, (
        f"c_custkey not unique ({total} rows, {distinct} distinct) - "
        "the count(*) rewrite is unsound"
    )


def test_document_tokens_have_no_underscore_fixture_invariant(spark, sf_dir):
    """Pins the fixture invariant the merge_phrases oracle rests on:
    its gaps-and-islands unroll matches the greedy fold only while no
    raw token contains '_', because a fused ``left_right`` token could
    otherwise re-match a phrase key in Spark where the oracle's raw
    adjacent-pair flags cannot. Tokens are split exactly as
    merge_phrases_q splits them. A fixture regeneration that violates
    the invariant breaks HERE, not silently in the oracle comparison."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
    )
    bad = [r.tok for r in toks.where(F.col("tok").contains("_")).limit(5).collect()]
    assert bad == [], f"document tokens contain '_' - merge_phrases oracle unsound: {bad}"
