"""VERDICT r3 #6: with 100k+ partitions, per-partition verdict rows must be
written distributed (partition_verdict_sink) instead of collect()ed. These
tests assert exact verdict parity between the collected path and the
sink-written path across every fused kind (map incl. mostly, agg bounds,
drift incl. categorical KL, z-score dependent pass)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sparkcheck import ExpectationSuite, validate
from sparkcheck.runner import read_partition_verdicts


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")


def _suite():
    return (ExpectationSuite("sink-parity")
            .add("expect_column_values_to_not_be_null", column="l_orderkey")
            .add("expect_column_values_to_be_in_set",
                 column="l_linestatus", value_set=["O"], mostly=0.4)
            .add("expect_column_values_to_be_between",
                 column="l_quantity", min_value=1, max_value=50)
            .add("expect_column_mean_to_be_between",
                 column="l_discount", min_value=0.0, max_value=0.2)
            .add("expect_column_kl_divergence_to_be_less_than",
                 column="l_quantity", threshold=5.0,
                 partition_object={"bins": [0, 10, 25, 51],
                                   "weights": [0.2, 0.3, 0.5]})
            .add("expect_column_value_z_scores_to_be_less_than",
                 column="l_extendedprice", threshold=3.0, mostly=0.9))


def _norm_collected(meta_verdicts):
    out = {}
    for v in meta_verdicts:
        k = (str(v["partition_id"]), v["expectation_type"], v["domain"])
        ov = v.get("observed_value")
        out[k] = (bool(v["success"]),
                  v.get("unexpected_count"),
                  v.get("element_count"),
                  v.get("missing_count"),
                  float(ov) if isinstance(ov, (int, float))
                  and not isinstance(ov, bool) else None)
    return out


def _norm_sink(df):
    out = {}
    for r in df.collect():
        k = (r["partition_id"], r["expectation_type"], r["domain"])
        out[k] = (bool(r["success"]), r["unexpected_count"],
                  r["element_count"], r["missing_count"],
                  r["observed_value"])
    return out


def test_sink_verdicts_match_collected(spark, li, tmp_path):
    suite = _suite()
    collected = validate(li, suite, per_partition=True,
                         partition_col="l_returnflag")
    sink_dir = str(tmp_path / "sink")
    sunk = validate(li, suite, per_partition=True,
                    partition_col="l_returnflag",
                    partition_verdict_sink=sink_dir)
    # global EVRs identical between modes
    assert [r.success for r in collected.results] == \
        [r.success for r in sunk.results]
    for a, b in zip(collected.results, sunk.results):
        assert a.result.get("unexpected_count") == b.result.get("unexpected_count")
        ova, ovb = a.result.get("observed_value"), b.result.get("observed_value")
        if isinstance(ova, float):
            assert math.isclose(ova, ovb, rel_tol=1e-12)
        else:
            assert ova == ovb
    # sink mode keeps the driver list empty; the rows live in the sink
    assert sunk.meta["partition_verdicts"] == []
    assert sunk.meta["partition_verdicts_path"] == sink_dir

    got = _norm_sink(read_partition_verdicts(spark, sink_dir))
    want = _norm_collected(collected.meta["partition_verdicts"])
    assert set(got) == set(want)
    for k in want:
        ws, wu, we, wm, wo = want[k]
        gs, gu, ge, gm, go = got[k]
        assert (gs, gu, ge, gm) == (ws, wu, we, wm), k
        if wo is None:
            assert go is None, k
        else:
            assert go is not None and math.isclose(go, wo, rel_tol=1e-9), k
    # all three partition values × all six expectations present
    assert len(got) == 3 * 6


def test_sink_requires_per_partition(spark, li, tmp_path):
    with pytest.raises(ValueError, match="per_partition"):
        validate(li, _suite(), partition_verdict_sink=str(tmp_path / "x"))


def test_sink_handles_many_partitions(spark, tmp_path):
    """High-partition smoke: 500 distinct partition keys; the driver never
    materializes the rollup (we just assert the sink holds all of them and
    the counts are exact)."""
    from pyspark.sql import functions as F
    df = (spark.range(0, 20_000, numPartitions=8)
          .select(F.col("id"),
                  (F.col("id") % 500).cast("string").alias("bucket"),
                  F.when(F.col("id") % 40 == 0, None)
                  .otherwise(F.col("id")).alias("v")))
    suite = ExpectationSuite("many").add(
        "expect_column_values_to_not_be_null", column="v", mostly=0.9)
    sink_dir = str(tmp_path / "many")
    res = validate(df, suite, per_partition=True, partition_col="bucket",
                   partition_verdict_sink=sink_dir)
    assert res.results[0].success  # 2.5% nulls < 10%
    v = read_partition_verdicts(spark, sink_dir)
    rows = v.collect()
    assert len(rows) == 500
    # bucket b holds the 40 ids ≡ b (mod 500); ids ≡ 0 (mod 40) are null,
    # which hits buckets divisible by 20 (gcd arithmetic) 20 times each
    for r in rows:
        b = int(r["partition_id"])
        want_null = 20 if b % 20 == 0 else 0
        assert r["element_count"] == 40, b
        assert r["unexpected_count"] == want_null, b
        assert bool(r["success"]) == (want_null == 0), b  # 50% < mostly=0.9


def _dup_df(spark):
    """8 buckets; `v` duplicates SPAN buckets (id % 1000 repeats across the
    0..16k range), so per-partition dup attribution must see global groups."""
    from pyspark.sql import functions as F
    return (spark.range(0, 16_000, numPartitions=8)
            .select(F.col("id"),
                    (F.col("id") % 8).cast("string").alias("bucket"),
                    F.when(F.col("id") % 100 == 7, None)
                    .otherwise(F.col("id") % 1000).alias("v"),
                    (F.col("id") % 50).cast("double").alias("x"),
                    # per-bucket mix {a,b} (buckets 0-3) / {a,c} (4-7);
                    # globally a=50% b=25% c=25%
                    F.when(F.col("id") % 16 < 8, "a")
                    .when(F.col("id") % 16 < 12, "b")
                    .otherwise("c").alias("cat"),
                    # same, plus an out-of-set 'z' that lands ONLY in
                    # bucket 3 (id % 200 == 3 => id % 8 == 3)
                    F.when(F.col("id") % 200 == 3, "z")
                    .when(F.col("id") % 16 < 8, "a")
                    .when(F.col("id") % 16 < 12, "b")
                    .otherwise("c").alias("cat2")))


def _wide_suite():
    return (ExpectationSuite("wide-sink")
            .add("expect_column_values_to_be_unique", column="v", mostly=0.5)
            .add("expect_column_psi_to_be_less_than",
                 column="x", threshold=5.0,
                 partition_object={"bins": [0, 10, 30, 50],
                                   "weights": [0.2, 0.4, 0.4]})
            .add("expect_column_chisquare_test_p_value_to_be_greater_than",
                 column="x", threshold=1e-12,
                 partition_object={"bins": [0, 10, 30, 50],
                                   "weights": [0.2, 0.4, 0.4]})
            .add("expect_table_row_count_to_be_between", min_value=1)
            .add("expect_column_proportion_of_unique_values_to_be_between",
                 column="v", min_value=0.01, max_value=1.0)
            .add("expect_column_quantile_values_to_be_between", column="x",
                 quantile_ranges={"quantiles": [0.5],
                                  "value_ranges": [[0.0, 49.0]]})
            # r5: distinct_set rides the Catalyst sink path (array_except on
            # the stored collect_set slot). v=0 only ever lands in bucket 0
            # and v=1 only in bucket 1 (1000k+j ≡ j mod 8), so EVERY
            # per-partition verdict fails while the global one passes —
            # catches a path that conflates the two.
            .add("expect_column_distinct_values_to_contain_set",
                 column="v", value_set=[0, 1])
            # r5: map_window per-partition verdicts (grouped window: each
            # bucket's x=id%50 wraps as id climbs by 8 — real violations in
            # every bucket, attributed to the row's own input partition)
            .add("expect_column_values_to_be_increasing", column="x",
                 group_by="bucket", order_by="id", mostly=0.5)
            # r5 late: categorical KL rides the Arrow sink path when
            # tail_weight_holdout == 0. Every bucket sees only 2 of the 3
            # expected values (KL ~= 0.347 > 0.2) while the GLOBAL mix
            # matches exactly (KL = 0) — global passes, every partition
            # fails.
            .add("expect_column_kl_divergence_to_be_less_than",
                 column="cat", threshold=0.2,
                 partition_object={"values": ["a", "b", "c"],
                                   "weights": [0.5, 0.25, 0.25]})
            # out-of-set 'z' exists only in bucket 3: that partition (and
            # the global) scores inf with holdout 0 — exercises the
            # synthetic out-of-set-mass entry in the sink scorer
            .add("expect_column_kl_divergence_to_be_less_than",
                 column="cat2", threshold=1.0,
                 partition_object={"values": ["a", "b", "c"],
                                   "weights": [0.5, 0.25, 0.25]}))


def test_unique_and_drift_sink_rows_are_distributed(spark, tmp_path):
    """r5: unique + drift + agg_custom per-partition verdicts must reach the
    sink WITHOUT any driver-side fallback file, and match the collected
    path row for row. Unique rows must also sum to the global count."""
    import glob

    df = _dup_df(spark)
    suite = _wide_suite()
    collected = validate(df, suite, per_partition=True, partition_col="bucket")
    sink_dir = str(tmp_path / "sink")
    sunk = validate(df, suite, per_partition=True, partition_col="bucket",
                    partition_verdict_sink=sink_dir)
    assert [r.success for r in collected.results] == \
        [r.success for r in sunk.results]

    # every kind rode the distributed path: no narrow driver fallback file
    assert not glob.glob(f"{sink_dir}/*-driver.parquet")

    got = _norm_sink(read_partition_verdicts(spark, sink_dir))
    want = _norm_collected(collected.meta["partition_verdicts"])
    assert set(got) == set(want)
    for k in want:
        ws, wu, we, wm, wo = want[k]
        gs, gu, ge, gm, go = got[k]
        assert (gs, gu, ge, gm) == (ws, wu, we, wm), k
        if wo is None:
            assert go is None, k
        else:
            assert go is not None and math.isclose(go, wo, rel_tol=1e-9), k
    # 8 buckets x 10 expectations
    assert len(got) == 8 * 10

    # categorical KL (cat): global mix matches exactly (passes) while every
    # bucket is missing one expected value (fails) — conflation catch
    kl = {k[0]: v for k, v in got.items()
          if k[1] == "expect_column_kl_divergence_to_be_less_than"
          and k[2] == "cat"}
    kl_global = next(r for r in sunk.results
                     if r.expectation_config.expectation_type
                     == "expect_column_kl_divergence_to_be_less_than"
                     and r.expectation_config.kwargs["column"] == "cat")
    assert kl_global.success
    assert len(kl) == 8 and not any(v[0] for v in kl.values())
    # categorical KL (cat2): only bucket 3 holds the out-of-set value —
    # it scores inf (fails, observed None); the other buckets pass
    kl2 = {k[0]: v for k, v in got.items()
           if k[1] == "expect_column_kl_divergence_to_be_less_than"
           and k[2] == "cat2"}
    assert len(kl2) == 8
    assert not kl2["3"][0] and kl2["3"][4] is None
    assert all(v[0] for p, v in kl2.items() if p != "3")

    # unique: per-partition dup participation sums to the global count
    uniq = [v for k, v in got.items()
            if k[1] == "expect_column_values_to_be_unique"]
    global_ux = next(r for r in sunk.results
                     if r.expectation_config.expectation_type
                     == "expect_column_values_to_be_unique")
    assert sum(u[1] for u in uniq) == global_ux.result["unexpected_count"]
    assert global_ux.result["unexpected_count"] > 0  # fixture has real dups

    # distinct_set: v=0 lives only in bucket 0 and v=1 only in bucket 1, so
    # the GLOBAL contain-set passes while every per-partition verdict fails
    ds_global = next(r for r in sunk.results
                     if r.expectation_config.expectation_type
                     == "expect_column_distinct_values_to_contain_set")
    assert ds_global.success
    ds = [v for k, v in got.items()
          if k[1] == "expect_column_distinct_values_to_contain_set"]
    assert len(ds) == 8 and not any(v[0] for v in ds)

    # map_window: per-partition order violations sum to the global count
    inc = [v for k, v in got.items()
           if k[1] == "expect_column_values_to_be_increasing"]
    inc_global = next(r for r in sunk.results
                      if r.expectation_config.expectation_type
                      == "expect_column_values_to_be_increasing")
    assert sum(u[1] for u in inc) == inc_global.result["unexpected_count"]
    assert inc_global.result["unexpected_count"] > 0  # x wraps inside buckets


def test_non_row_local_items_emit_no_partition_verdicts(spark):
    """Bootstrap-KS (raw-sample pool) and exact-opt-in quantiles are NOT
    pure functions of a partition's rollup row: emitting 'per-partition'
    verdicts for them would copy the GLOBAL value under every partition
    label and run one driver job per partition. They must emit none, while
    the global verdicts stay intact and the row-local siblings (asymptotic
    binned KS, fused-sketch quantiles) still emit 8."""
    from collections import Counter
    from pyspark.sql import functions as F
    df = (spark.range(0, 4000, numPartitions=4)
          .select((F.col("id") % 8).cast("string").alias("bucket"),
                  (F.col("id") % 50).cast("double").alias("x")))
    po = {"bins": [0.0, 10.0, 30.0, 50.0], "weights": [0.2, 0.4, 0.4]}
    qr = {"quantiles": [0.5], "value_ranges": [[0.0, 49.0]]}
    suite = (ExpectationSuite("rowlocal")
             .add("expect_column_bootstrapped_ks_test_p_value_to_be_"
                  "greater_than", column="x", threshold=1e-9,
                  bootstrap=True, partition_object=po)
             .add("expect_column_kl_divergence_to_be_less_than",
                  column="x", threshold=5.0, partition_object=po)
             .add("expect_column_quantile_values_to_be_between",
                  column="x", exact=True, quantile_ranges=qr))
    res = validate(df, suite, per_partition=True, partition_col="bucket")
    assert all(r.success for r in res.results)
    by_type = Counter(v["expectation_type"]
                      for v in res.meta["partition_verdicts"])
    assert by_type["expect_column_bootstrapped_ks_test_p_value_to_be_"
                   "greater_than"] == 0
    assert by_type["expect_column_quantile_values_to_be_between"] == 0
    assert by_type["expect_column_kl_divergence_to_be_less_than"] == 8

    # categorical KL with a POSITIVE holdout and out-of-set mass: the
    # out-of-set expected mass splits per distinct value (its own job), so
    # partitions holding such mass get no verdict; clean partitions still do
    cat = (spark.range(0, 800, numPartitions=4)
           .select((F.col("id") % 4).cast("string").alias("bucket"),
                   F.when(F.col("id") % 400 == 1, "z")  # only bucket 1
                   .when(F.col("id") % 2 == 0, "a")
                   .otherwise("b").alias("c")))
    hsuite = ExpectationSuite("h").add(
        "expect_column_kl_divergence_to_be_less_than", column="c",
        threshold=5.0, tail_weight_holdout=0.1,
        partition_object={"values": ["a", "b"], "weights": [0.5, 0.5]})
    hres = validate(cat, hsuite, per_partition=True, partition_col="bucket")
    assert hres.results[0].success
    hpv = {v["partition_id"] for v in hres.meta["partition_verdicts"]}
    assert hpv == {"0", "2", "3"}  # bucket 1 holds 'z': refused, not faked


def test_sink_mostly_divides_like_mostly_success(spark, tmp_path):
    """One partition of 25 rows, 18 of them null, not_null with
    mostly=0.28: (25 - 18) / 25 >= 0.28 holds, so the global, collected and
    sink verdicts all pass. Testing 7 >= 0.28 * 25 instead fails, because
    0.28 * 25 rounds to 7.000000000000001."""
    from pyspark.sql import functions as F
    df = spark.range(25, numPartitions=1).select(
        F.lit("p").alias("bucket"),
        F.when(F.col("id") < 18, None).otherwise(F.col("id")).alias("v"))
    suite = ExpectationSuite("round").add(
        "expect_column_values_to_not_be_null", column="v", mostly=0.28)
    collected = validate(df, suite, per_partition=True, partition_col="bucket")
    sink_dir = str(tmp_path / "sink")
    sunk = validate(df, suite, per_partition=True, partition_col="bucket",
                    partition_verdict_sink=sink_dir)
    assert collected.results[0].success and sunk.results[0].success
    [pv] = collected.meta["partition_verdicts"]
    assert (pv["success"], pv["unexpected_count"], pv["element_count"]) == \
        (True, 18, 25)
    [row] = read_partition_verdicts(spark, sink_dir).collect()
    assert (row["success"], row["unexpected_count"], row["element_count"]) == \
        (True, 18, 25)


def test_z_score_partition_verdicts_apply_mostly(spark, tmp_path):
    """Bucket b holds 10 of its 20 rows at 1e6 (|z| ~ 1.7 against the
    global mean and stddev; every other row has |z| ~ 0.57), so with
    threshold=1 and mostly=0.95 bucket b fails and bucket a passes, in both
    modes, with element and missing counts present."""
    from pyspark.sql import functions as F
    df = spark.range(40, numPartitions=2).select(
        F.when(F.col("id") < 20, "a").otherwise("b").alias("bucket"),
        F.when(F.col("id") >= 30, F.lit(1e6))
        .otherwise(F.col("id").cast("double")).alias("x"))
    suite = ExpectationSuite("z").add(
        "expect_column_value_z_scores_to_be_less_than", column="x",
        threshold=1.0, mostly=0.95)
    want = {"a": (True, 0, 20, 0), "b": (False, 10, 20, 0)}
    collected = validate(df, suite, per_partition=True, partition_col="bucket")
    assert {v["partition_id"]: (v["success"], v["unexpected_count"],
                                v["element_count"], v["missing_count"])
            for v in collected.meta["partition_verdicts"]} == want
    sink_dir = str(tmp_path / "sink")
    validate(df, suite, per_partition=True, partition_col="bucket",
             partition_verdict_sink=sink_dir)
    assert {r["partition_id"]: (r["success"], r["unexpected_count"],
                                r["element_count"], r["missing_count"])
            for r in read_partition_verdicts(spark, sink_dir).collect()} == want


def test_partition_scoring_error_is_not_dropped(spark, monkeypatch):
    """A per-partition scoring error lands in that item's exception_info
    (its siblings are untouched), or raises with catch_exceptions=False."""
    import sparkcheck.runner as runner
    real = runner.score_row

    def broken_for_bucket_1(item, row, rf):
        if (row.get("__pid") == "1" and item.config.expectation_type
                == "expect_column_mean_to_be_between"):
            raise RuntimeError("scorer broke")
        return real(item, row, rf)

    monkeypatch.setattr(runner, "score_row", broken_for_bucket_1)
    df = _dup_df(spark)
    suite = (ExpectationSuite("drop")
             .add("expect_column_values_to_not_be_null", column="v",
                  mostly=0.5)
             .add("expect_column_mean_to_be_between", column="x",
                  min_value=0, max_value=50))
    res = validate(df, suite, per_partition=True, partition_col="bucket")
    ok, broken = res.results
    assert ok.success and not (ok.exception_info or {}).get("raised_exception")
    assert not broken.success
    assert broken.exception_info["raised_exception"]
    assert "scorer broke" in broken.exception_info["exception_message"]
    kinds = [v["expectation_type"] for v in res.meta["partition_verdicts"]]
    assert kinds == ["expect_column_values_to_not_be_null"] * 8
    with pytest.raises(RuntimeError, match="scorer broke"):
        validate(df, suite, per_partition=True, partition_col="bucket",
                 catch_exceptions=False)


def test_datetime_bound_agg_sink_matches_collected(spark, tmp_path):
    """Aggregates with datetime bounds are scored by the same Python code in
    both modes: on executors in sink mode (no driver-side fallback file),
    on the driver when collected."""
    import datetime
    import glob
    rows = ([("x", datetime.date(2020, 1, d)) for d in range(1, 11)]
            + [("y", datetime.date(2021, 6, d)) for d in range(1, 11)])
    df = spark.createDataFrame(rows, "bucket string, d date")
    suite = (ExpectationSuite("dt")
             .add("expect_column_min_to_be_between", column="d",
                  min_value="2020-01-01", max_value="2020-12-31",
                  parse_strings_as_datetimes=True)
             .add("expect_column_max_to_be_between", column="d",
                  min_value="2020-01-05", max_value="2020-12-31",
                  parse_strings_as_datetimes=True))
    collected = validate(df, suite, per_partition=True, partition_col="bucket")
    sink_dir = str(tmp_path / "sink")
    sunk = validate(df, suite, per_partition=True, partition_col="bucket",
                    partition_verdict_sink=sink_dir)
    assert [r.success for r in collected.results] == [True, False]
    assert [r.success for r in sunk.results] == [True, False]
    assert not glob.glob(f"{sink_dir}/*-driver.parquet")
    got = _norm_sink(read_partition_verdicts(spark, sink_dir))
    assert got == _norm_collected(collected.meta["partition_verdicts"])
    assert {(k[0], k[1]): v[0] for k, v in got.items()} == {
        ("x", "expect_column_min_to_be_between"): True,
        ("y", "expect_column_min_to_be_between"): False,
        ("x", "expect_column_max_to_be_between"): True,
        ("y", "expect_column_max_to_be_between"): False}


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(cases=st.lists(
    st.integers(0, 1000).flatmap(lambda nn: st.tuples(
        st.just(nn), st.integers(0, nn),
        st.integers(0, 100).map(lambda k: k / 100))),
    min_size=1, max_size=100))
@example(cases=[(25, 18, 0.28)])
def test_mostly_col_matches_mostly_success(spark, cases):
    """The sink's Catalyst mostly expression agrees with
    results.mostly_success on every (nonnull, unexpected, mostly)."""
    from pyspark.sql import functions as F

    from sparkcheck.results import mostly_success
    from sparkcheck.runner import _mostly_col

    def n(v):
        return F.lit(v).cast("long")

    row = spark.range(1).select(*[
        _mostly_col(n(nn), n(nn), n(ux), mostly).alias(f"c{i}")
        for i, (nn, ux, mostly) in enumerate(cases)]).first()
    for i, (nn, ux, mostly) in enumerate(cases):
        assert row[f"c{i}"] == mostly_success(nn, nn, ux, mostly), \
            (nn, ux, mostly)


@pytest.mark.filterwarnings("ignore:increasing/decreasing")
def test_null_partition_value_gets_its_own_verdict(spark, tmp_path):
    """A null partition_col value is a partition: 10 rows 'a', 3 rows
    NULL, 5 rows 'b' (every x of 'b' null). The rollup's global row is told
    apart from the NULL partition by grouping(), so the NULL partition has
    its own verdict for every map-shaped kind (fused, unique, z-score,
    window) and the partition counts sum to the global ones, collected and
    sink alike."""
    from pyspark.sql import functions as F
    df = spark.range(18, numPartitions=3).select(
        F.col("id"),
        F.when(F.col("id") < 10, "a").when(F.col("id") < 13, None)
        .otherwise("b").alias("part"),
        F.when(F.col("id") >= 13, None).otherwise(F.col("id")).alias("x"),
        (F.col("id") % 9).alias("u"),
        F.col("id").cast("double").alias("y"))
    suite = (ExpectationSuite("nullpart")
             .add("expect_column_values_to_not_be_null", column="x")
             .add("expect_column_values_to_be_unique", column="u")
             .add("expect_column_value_z_scores_to_be_less_than",
                  column="y", threshold=1.0)
             .add("expect_column_values_to_be_increasing", column="y"))
    # not_null: 'b' holds the 5 nulls; unique: every u occurs twice;
    # z-score: |id - 8.5| > stddev 5.34 for ids 0-3 and 14-17
    want = {("a", "expect_column_values_to_not_be_null"): (10, 0),
            (None, "expect_column_values_to_not_be_null"): (3, 0),
            ("b", "expect_column_values_to_not_be_null"): (5, 5),
            ("a", "expect_column_values_to_be_unique"): (10, 10),
            (None, "expect_column_values_to_be_unique"): (3, 3),
            ("b", "expect_column_values_to_be_unique"): (5, 5),
            ("a", "expect_column_value_z_scores_to_be_less_than"): (10, 4),
            (None, "expect_column_value_z_scores_to_be_less_than"): (3, 0),
            ("b", "expect_column_value_z_scores_to_be_less_than"): (5, 4),
            ("a", "expect_column_values_to_be_increasing"): (10, 0),
            (None, "expect_column_values_to_be_increasing"): (3, 0),
            ("b", "expect_column_values_to_be_increasing"): (5, 0)}
    collected = validate(df, suite, per_partition=True, partition_col="part")
    sink_dir = str(tmp_path / "sink")
    sunk = validate(df, suite, per_partition=True, partition_col="part",
                    partition_verdict_sink=sink_dir)
    for res in (collected, sunk):
        assert [(r.result["element_count"], r.result["unexpected_count"])
                for r in res.results] == [(18, 5), (18, 18), (18, 8), (18, 0)]
    assert {(v["partition_id"], v["expectation_type"]):
            (v["element_count"], v["unexpected_count"])
            for v in collected.meta["partition_verdicts"]} == want
    assert {(r["partition_id"], r["expectation_type"]):
            (r["element_count"], r["unexpected_count"])
            for r in read_partition_verdicts(spark, sink_dir).collect()} == want


def test_unique_counts_samples_and_shares_in_every_mode(spark, tmp_path):
    """Exact uniqueness reads its dup totals, top-k samples and per-partition
    shares from one dup-key intermediate; global, collected and sink modes
    agree with the closed forms. Single column: v = id % 500 below id 1000
    (500 values twice each, the two rows in different buckets), unique
    above. Compound (a, b) with partially-null keys, which group null-safely
    (all_values_are_missing drops only the all-null rows)."""
    from pyspark.sql import functions as F
    single = spark.range(0, 1200, numPartitions=4).select(
        (F.col("id") % 3).cast("string").alias("bucket"),
        F.when(F.col("id") < 1000, F.col("id") % 500)
        .otherwise(F.col("id")).alias("v"))
    compound = spark.createDataFrame(
        [("x", 1, None), ("y", 1, None),
         ("x", None, 2), ("x", None, 2), ("y", None, 2),
         ("x", None, None), ("y", None, None),
         ("x", 3, 4), ("y", 3, 5),
         ("y", 6, 6), ("y", 6, 6)], "bucket string, a int, b int")
    cases = [
        (single, "expect_column_values_to_be_unique", {"column": "v"},
         1000, 500, [v for v in range(10) for _ in range(2)],
         {"0": 334, "1": 333, "2": 333}),
        (compound, "expect_compound_columns_to_be_unique",
         {"column_list": ["a", "b"]}, 7, 3,
         [{"a": None, "b": 2}] * 3 + [{"a": 1, "b": None}] * 2
         + [{"a": 6, "b": 6}] * 2,
         {"x": 3, "y": 4}),
    ]
    for df, etype, kw, dup_rows, groups, samples, shares in cases:
        suite = ExpectationSuite("u").add(etype, **kw)
        sink_dir = str(tmp_path / etype)
        runs = {
            "global": validate(df, suite),
            "collected": validate(df, suite, per_partition=True,
                                  partition_col="bucket"),
            "sink": validate(df, suite, per_partition=True,
                             partition_col="bucket",
                             partition_verdict_sink=sink_dir)}
        for mode, res in runs.items():
            r = res.results[0].result
            assert (r["unexpected_count"], r["details"]["duplicate_groups"],
                    r["partial_unexpected_list"]) == \
                (dup_rows, groups, samples), (etype, mode)
        assert {v["partition_id"]: v["unexpected_count"] for v in
                runs["collected"].meta["partition_verdicts"]} == shares
        assert {r["partition_id"]: r["unexpected_count"] for r in
                read_partition_verdicts(spark, sink_dir).collect()} == shares
