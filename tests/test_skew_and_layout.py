"""Salting operators preserve semantics; skew profiling and snapshot
diffs."""

from pyspark.sql import functions as F

from near_event_streams_spark.operators import skew
from near_event_streams_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _events(spark):
    return load_table(spark, SF_DIR, "events")


def test_salted_aggregate_matches_plain(spark):
    ev = _events(spark)
    plain = {
        (r["event_type"], r["n"], round(r["sum_value"], 6))
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }
    # deterministic spread on event_id; float sums re-rounded (salting
    # legitimately changes double summation order)
    salted = {
        (r["event_type"], r["n"], round(r["sum_value"], 6))
        for r in skew.salted_aggregate(
            ev,
            ["event_type"],
            sum_cols=["value"],
            salt=8,
            spread_col="event_id",
        ).collect()
    }
    assert {(t, n) for t, n, _ in plain} == {(t, n) for t, n, _ in salted}
    # sums agree to float tolerance
    ps = {t: s for t, _, s in plain}
    ss = {t: s for t, _, s in salted}
    for t in ps:
        assert abs(ps[t] - ss[t]) < 1e-3, (t, ps[t], ss[t])


def test_salted_join_matches_plain(spark):
    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    plain = (
        orders.join(cust, "o_custkey")
        .groupBy("c_nationkey")
        .count()
        .collect()
    )
    salted = (
        skew.salted_join(orders, cust, "o_custkey", salt=8)
        .groupBy("c_nationkey")
        .count()
        .collect()
    )
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_salted_join_query_plan_fans_out_salt(spark):
    """The driver-gated ``join_salted_user_spend`` must actually salt:
    the join keys include ``_salt`` (so one hot user_id spreads over 8
    partitions) and the small side carries the 8-way explode
    replication — a refactor that silently drops the salt would still
    pass the oracle (salting is semantics-preserving), so the plan is
    the only place to pin it."""
    from near_event_streams_spark.plans.analytics_ext import (
        join_salted_user_spend,
    )
    from tests.test_plan_quality import plan_text

    spark.catalog.clearCache()
    df = join_salted_user_spend(spark, SF_DIR)
    plan = plan_text(df, mode="simple")
    assert "_salt" in plan, plan[:1500]
    # sequence(0, 7) constant-folds to a literal 8-element array, so
    # pin the two pieces that survive optimization: the small side's
    # explode replication and the big side's seeded random salt
    assert "explode(" in plan and "rand(7)" in plan, plan[:1500]


def test_key_skew_profile_ranks_planted_hot_key(spark):
    """A planted 60%-share hot key must rank first with the exact
    share; cumulative share is monotone and totals cover the whole
    frame, not just the top-k."""
    from pyspark.sql import functions as F

    from near_event_streams_spark.operators.skew import key_skew_profile

    rows = [(0,)] * 600 + [(k,) for k in range(1, 101) for _ in range(4)]
    df = spark.createDataFrame(rows, "k long")
    out = key_skew_profile(df, "k", top_k=5).collect()
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    top = out[0]
    assert top["key"] == 0 and top["cnt"] == 600
    assert top["n_rows"] == 1000 and top["n_keys"] == 101
    assert top["share_pct"] == 60.0
    shares = [r["cum_share_pct"] for r in out]
    assert shares == sorted(shares)
    assert out[1]["key"] == 1 and out[1]["cnt"] == 4  # tie-break by key


def test_snapshot_diff_null_safe_semantics(spark):
    """Null handling in the comparison: null->value is CHANGED,
    null->null is UNCHANGED (a naive equality would call both changed
    and a naive != would call neither); added/removed classified off
    presence, not payload."""
    from near_event_streams_spark.operators.reconcile import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (4, "y")], "k long, v string"
    )
    new = spark.createDataFrame(
        [(1, "now-set"), (2, None), (3, "x"), (5, "z")],
        "k long, v string",
    )
    got = {
        r["k"]: r["diff_status"]
        for r in snapshot_diff(old, new, ["k"], ["v"]).collect()
    }
    assert got == {
        1: "changed",
        2: "unchanged",
        3: "unchanged",
        4: "removed",
        5: "added",
    }
