"""Core engine tests on tiny literal tables (FIXTURES.md §3 — GE-corpus style).

Expected values encode the reference's semantics: mostly denominator, vacuous
truth on empty/all-null, duplicate marking (ALL rows of a dup value),
missing/unexpected percent fields (expectation.py:1989-2109)."""

import math

import pytest
from pyspark.sql import types as T

from sparkcheck import ExpectationSuite, Validator, validate


@pytest.fixture(scope="module")
def ge_mixed(spark):
    schema = T.StructType([
        T.StructField("a", T.StringType()),
        T.StructField("c", T.IntegerType()),
        T.StructField("unique", T.IntegerType()),
        T.StructField("nulls", T.StringType()),
        T.StructField("mult_dup", T.StringType()),
        T.StructField("x", T.DoubleType()),
    ])
    rows = [
        ("2", 1, 1, None, "1", 1.0),
        ("2", 1, 2, None, "1", 2.5),
        ("2", 2, 3, None, "2", float("nan")),
        (None, None, None, None, "2", None),
    ]
    return spark.createDataFrame(rows, schema)


def one(df, etype, **kwargs):
    suite = ExpectationSuite("t").add(etype, **kwargs)
    return validate(df, suite, result_format=kwargs.pop("rf", "COMPLETE")).results[0]


class TestMapExpectations:
    def test_not_be_null(self, ge_mixed):
        r = one(ge_mixed, "expect_column_values_to_not_be_null", column="a")
        assert not r.success
        assert r.result["element_count"] == 4
        assert r.result["unexpected_count"] == 1
        assert r.result["missing_count"] == 0  # filter_nulls=False
        assert r.result["unexpected_percent"] == 25.0
        assert r.result["partial_unexpected_list"] == [None]

    def test_not_be_null_mostly(self, ge_mixed):
        r = one(ge_mixed, "expect_column_values_to_not_be_null", column="a", mostly=0.7)
        assert r.success

    def test_be_null(self, ge_mixed):
        r = one(ge_mixed, "expect_column_values_to_be_null", column="nulls")
        assert r.success
        assert r.result["unexpected_count"] == 0

    def test_vacuous_truth_all_null(self, ge_mixed):
        # reference expectation.py:1586-1592 — all-null column => success
        r = one(ge_mixed, "expect_column_values_to_be_in_set",
                column="nulls", value_set=["x"])
        assert r.success
        assert r.result["element_count"] == 4
        assert r.result["missing_count"] == 4

    def test_vacuous_truth_empty_table(self, ge_mixed):
        empty = ge_mixed.filter("a = 'nope'")
        r = one(empty, "expect_column_values_to_be_between",
                column="c", min_value=0, max_value=1)
        assert r.success
        assert r.result["element_count"] == 0

    def test_in_set(self, ge_mixed):
        r = one(ge_mixed, "expect_column_values_to_be_in_set",
                column="c", value_set=[1])
        assert not r.success
        assert r.result["unexpected_count"] == 1
        assert r.result["partial_unexpected_list"] == [2]
        # missing (null) rows are not unexpected
        assert r.result["missing_count"] == 1
        assert r.result["unexpected_percent"] == pytest.approx(100.0 / 3)

    def test_in_set_mostly(self, ge_mixed):
        r = one(ge_mixed, "expect_column_values_to_be_in_set",
                column="c", value_set=[1], mostly=0.5)
        assert r.success

    def test_between_strict(self, ge_mixed):
        r = one(ge_mixed, "expect_column_values_to_be_between",
                column="c", min_value=1, max_value=2, strict_max=True)
        assert not r.success
        assert r.result["unexpected_count"] == 1

    def test_value_lengths(self, ge_mixed):
        r = one(ge_mixed, "expect_column_value_lengths_to_equal", column="a", value=1)
        assert r.success

    def test_regex(self, ge_mixed):
        r = one(ge_mixed, "expect_column_values_to_match_regex",
                column="mult_dup", regex="^1$")
        assert not r.success
        assert r.result["unexpected_count"] == 2
        assert sorted(r.result["partial_unexpected_list"]) == ["2", "2"]

    def test_like_pattern(self, ge_mixed):
        r = one(ge_mixed, "expect_column_values_to_match_like_pattern",
                column="a", like_pattern="2%")
        assert r.success

    def test_unique_marks_all_dup_rows(self, ge_mixed):
        # reference window semantics: BOTH rows of each duplicated value
        r = one(ge_mixed, "expect_column_values_to_be_unique", column="mult_dup")
        assert not r.success
        assert r.result["unexpected_count"] == 4
        assert sorted(r.result["partial_unexpected_list"]) == ["1", "1", "2", "2"]
        assert r.result["details"]["duplicate_groups"] == 2

    def test_unique_positive(self, ge_mixed):
        r = one(ge_mixed, "expect_column_values_to_be_unique", column="unique")
        assert r.success
        assert r.result["unexpected_count"] == 0

    def test_compound_unique(self, ge_mixed):
        r = one(ge_mixed, "expect_compound_columns_to_be_unique",
                column_list=["a", "c"])
        assert not r.success
        assert r.result["unexpected_count"] == 2  # ("2",1) twice

    def test_compound_unique_partial_null_keys(self, spark):
        """Reference default ignore_row_if='all_values_are_missing'
        (expect_compound_columns_to_be_unique.py:35): only all-null key rows
        are excluded; partially-null keys participate and nulls group
        together, so two (5, NULL) rows are a duplicate pair."""
        df = spark.createDataFrame(
            [(5, None), (5, None), (6, 1), (None, None)], "a int, b int")
        r = one(df, "expect_compound_columns_to_be_unique",
                column_list=["a", "b"])
        assert not r.success
        assert r.result["element_count"] == 4
        assert r.result["unexpected_count"] == 2  # the (5, NULL) pair
        # any_value_is_missing opt-in drops the partially-null rows entirely
        r2 = one(df, "expect_compound_columns_to_be_unique",
                 column_list=["a", "b"], ignore_row_if="any_value_is_missing")
        assert r2.success
        assert r2.result["unexpected_count"] == 0

    def test_increasing(self, spark):
        df = spark.createDataFrame([(1,), (2,), (2,), (1,)], "v int") \
            .coalesce(1)
        r = one(df, "expect_column_values_to_be_increasing", column="v")
        assert not r.success
        assert r.result["unexpected_count"] == 1
        r2 = one(df, "expect_column_values_to_be_increasing", column="v", strictly=True)
        assert r2.result["unexpected_count"] == 2

    def test_z_score(self, spark):
        rows = [(float(v),) for v in [1, 1, 1, 1, 1, 1, 1, 1, 1, 100]]
        df = spark.createDataFrame(rows, "v double")
        r = one(df, "expect_column_value_z_scores_to_be_less_than",
                column="v", threshold=2.0)
        assert not r.success
        assert r.result["unexpected_count"] == 1
        assert r.result["partial_unexpected_list"] == [100.0]


class TestPairAndMulticolumn:
    @pytest.fixture(scope="class")
    def pairs(self, spark):
        return spark.createDataFrame(
            [(1, 1, 2), (2, 2, 3), (3, 4, 1), (None, None, 5)],
            "a int, b int, c int")

    def test_pair_equal(self, pairs):
        r = one(pairs, "expect_column_pair_values_to_be_equal",
                column_A="a", column_B="b")
        assert not r.success
        # both-null row dropped by ignore_row_if default
        assert r.result["element_count"] == 4
        assert r.result["missing_count"] == 1
        assert r.result["unexpected_count"] == 1

    def test_pair_greater(self, pairs):
        r = one(pairs, "expect_column_pair_values_a_to_be_greater_than_b",
                column_A="c", column_B="a", or_equal=False,
                ignore_row_if="either_value_is_missing")
        assert not r.success
        assert r.result["unexpected_count"] == 1  # (3,4,1): c=1 < a=3

    def test_multicolumn_sum(self, spark):
        df = spark.createDataFrame([(1, 2), (2, 1), (0, 2)], "a int, b int")
        r = one(df, "expect_multicolumn_sum_to_equal",
                column_list=["a", "b"], sum_total=3)
        assert not r.success
        assert r.result["unexpected_count"] == 1

    def test_select_unique_within_record(self, spark):
        df = spark.createDataFrame([(1, 2), (2, 2)], "a int, b int")
        r = one(df, "expect_select_column_values_to_be_unique_within_record",
                column_list=["a", "b"])
        assert not r.success
        assert r.result["unexpected_count"] == 1


class TestAggregates:
    def test_mean(self, ge_mixed):
        r = one(ge_mixed, "expect_column_mean_to_be_between",
                column="c", min_value=1, max_value=2)
        assert r.success
        assert r.result["observed_value"] == pytest.approx(4 / 3)

    def test_stdev_is_sample(self, spark):
        df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
        r = one(df, "expect_column_stdev_to_be_between", column="v",
                min_value=0.9, max_value=1.1)
        assert r.success
        assert r.result["observed_value"] == pytest.approx(1.0)  # stddev_samp

    def test_min_max_sum_median(self, spark):
        df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (10.0,)], "v double")
        assert one(df, "expect_column_min_to_be_between", column="v",
                   min_value=1, max_value=1).success
        assert one(df, "expect_column_max_to_be_between", column="v",
                   min_value=10, max_value=10).success
        assert one(df, "expect_column_sum_to_be_between", column="v",
                   min_value=16, max_value=16).success
        r = one(df, "expect_column_median_to_be_between", column="v",
                min_value=2.5, max_value=2.5)
        assert r.success

    def test_quantiles(self, spark):
        df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "v double")
        r = one(df, "expect_column_quantile_values_to_be_between", column="v",
                quantile_ranges={
                    "quantiles": [0.5, 0.9],
                    "value_ranges": [[50, 51], [89, 92]]})
        assert r.success
        # default semantics = reference order statistics (df.approxQuantile)
        assert r.result["observed_value"]["values"][0] == pytest.approx(50.0)
        r2 = one(df, "expect_column_quantile_values_to_be_between", column="v",
                 interpolation="linear",
                 quantile_ranges={
                     "quantiles": [0.5, 0.9],
                     "value_ranges": [[50, 51], [89, 92]]})
        assert r2.result["observed_value"]["values"][0] == pytest.approx(50.5)

    def test_unique_value_count(self, ge_mixed):
        r = one(ge_mixed, "expect_column_unique_value_count_to_be_between",
                column="c", min_value=2, max_value=2)
        assert r.success

    def test_unique_proportion(self, ge_mixed):
        r = one(ge_mixed, "expect_column_proportion_of_unique_values_to_be_between",
                column="unique", min_value=1, max_value=1)
        assert r.success

    def test_distinct_sets(self, ge_mixed):
        assert one(ge_mixed, "expect_column_distinct_values_to_be_in_set",
                   column="c", value_set=[1, 2, 3]).success
        assert one(ge_mixed, "expect_column_distinct_values_to_contain_set",
                   column="c", value_set=[1]).success
        r = one(ge_mixed, "expect_column_distinct_values_to_equal_set",
                column="c", value_set=[1, 2])
        assert r.success
        assert r.result["observed_value"] == [1, 2]

    def test_most_common(self, ge_mixed):
        r = one(ge_mixed, "expect_column_most_common_value_to_be_in_set",
                column="c", value_set=[1])
        assert r.success
        assert r.result["observed_value"] == [1]

    def test_most_common_all_unique_tie_collect_bounded(self, spark):
        """Degenerate column where every value occurs once: ALL values tie at
        the max, so the tie collect must stay bounded (max_ties) while the
        success flag is still exact — 'zzz9999' sorts beyond the truncated
        list but ties_okay membership is resolved distributed (r2 VERDICT
        'What's wrong' #2)."""
        n = 3000
        df = spark.createDataFrame(
            [(f"v{i:05d}",) for i in range(n - 1)] + [("zzz9999",)],
            "u string")
        r = one(df, "expect_column_most_common_value_to_be_in_set",
                column="u", value_set=["v00000"], max_ties=50)
        assert not r.success  # >1 tie and not ties_okay
        assert len(r.result["observed_value"]) == 50
        assert r.result["details"]["ties_truncated"]["n_ties"] == n
        # ties_okay + a member OUTSIDE the truncated list: success must be
        # True (distributed membership), proving truncation never flips it
        r2 = one(df, "expect_column_most_common_value_to_be_in_set",
                 column="u", value_set=["zzz9999"], ties_okay=True,
                 max_ties=50)
        assert r2.success
        assert "zzz9999" not in r2.result["observed_value"]
        # below the cap the semantics are byte-identical to the unbounded form
        r3 = one(df.limit(10), "expect_column_most_common_value_to_be_in_set",
                 column="u", value_set=["v00003"], ties_okay=True)
        assert r3.success and len(r3.result["observed_value"]) == 10
        assert "details" not in r3.result


class TestTableAndSchema:
    def test_row_count(self, ge_mixed):
        assert one(ge_mixed, "expect_table_row_count_to_equal", value=4).success
        assert one(ge_mixed, "expect_table_row_count_to_be_between",
                   min_value=1, max_value=10).success

    def test_row_count_with_row_condition(self, ge_mixed):
        r = one(ge_mixed, "expect_table_row_count_to_equal", value=3,
                row_condition="c IS NOT NULL")
        assert r.success

    def test_schema_checks(self, ge_mixed):
        assert one(ge_mixed, "expect_column_to_exist", column="a").success
        assert not one(ge_mixed, "expect_column_to_exist", column="zz").success
        assert one(ge_mixed, "expect_table_column_count_to_equal", value=6).success
        assert one(ge_mixed, "expect_table_columns_to_match_set",
                   column_set=["a", "c", "unique", "nulls", "mult_dup", "x"]).success
        assert one(ge_mixed, "expect_column_values_to_be_of_type",
                   column="c", expected_type="IntegerType").success
        assert one(ge_mixed, "expect_column_values_to_be_in_type_list",
                   column="x", type_list=["DoubleType", "FloatType"]).success

    def test_row_count_other_table(self, ge_mixed, spark):
        other = spark.range(4)
        suite = ExpectationSuite("t").add(
            "expect_table_row_count_to_equal_other_table", other_table_name="o")
        r = validate(ge_mixed, suite, tables={"o": other}).results[0]
        assert r.success


class TestReferential:
    def test_fk(self, spark):
        facts = spark.createDataFrame([(1,), (2,), (3,), (99,), (None,)], "k int")
        dim = spark.createDataFrame([(1,), (2,), (3,)], "k int")
        suite = ExpectationSuite("t").add(
            "expect_column_values_to_be_in_table", column="k", other_table="dim")
        r = validate(facts, suite, tables={"dim": dim},
                     result_format="COMPLETE").results[0]
        assert not r.success
        assert r.result["unexpected_count"] == 1
        assert r.result["partial_unexpected_list"] == [99]
        assert r.result["missing_count"] == 1


class TestDrift:
    def test_kl_categorical_pass(self, spark):
        df = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "v string")
        po = {"values": ["a", "b"], "weights": [0.5, 0.5]}
        r = one(df, "expect_column_kl_divergence_to_be_less_than",
                column="v", partition_object=po, threshold=0.05)
        assert r.success
        assert r.result["observed_value"] == pytest.approx(0.0)

    def test_kl_continuous_drift_fails(self, spark):
        df = spark.createDataFrame([(float(i % 10),) for i in range(100)], "v double")
        po = {"bins": [0.0, 5.0, 10.0], "weights": [0.9, 0.1]}
        r = one(df, "expect_column_kl_divergence_to_be_less_than",
                column="v", partition_object=po, threshold=0.1)
        assert not r.success
        assert r.result["observed_value"] > 0.1

    def test_kl_categorical_high_cardinality_rare_path_bounded(self, spark):
        """10^4 distinct out-of-set values with a small max_unexpected_values
        cap: the KL must equal the uncapped computation exactly (scalar
        aggregation path) while the driver only ever sees cap+1 rows."""
        rows = [("a",)] * 5000 + [("b",)] * 5000 + \
               [(f"junk{i}",) for i in range(10_000)]
        df = spark.createDataFrame(rows, "v string").repartition(8)
        po = {"values": ["a", "b"], "weights": [0.5, 0.5]}
        capped = one(df, "expect_column_kl_divergence_to_be_less_than",
                     column="v", partition_object=po, threshold=5.0,
                     tail_weight_holdout=0.1, max_unexpected_values=50)
        uncapped = one(df, "expect_column_kl_divergence_to_be_less_than",
                       column="v", partition_object=po, threshold=5.0,
                       tail_weight_holdout=0.1)
        assert capped.result["observed_value"] == pytest.approx(
            uncapped.result["observed_value"], abs=1e-12)
        assert capped.success == uncapped.success
        trunc = capped.result["details"]["unexpected_values_truncated"]
        assert trunc["distinct"] == 10_000
        assert trunc["total_count"] == 10_000
        assert len(trunc["top"]) == 50

    def test_kl_categorical_rare_path_zero_holdout_inf(self, spark):
        """Out-of-set mass with no tail holdout is inf on the scalar path
        too (observed mass where expected is zero)."""
        rows = [("a",)] * 100 + [(f"junk{i}",) for i in range(200)]
        df = spark.createDataFrame(rows, "v string")
        po = {"values": ["a"], "weights": [1.0]}
        r = one(df, "expect_column_kl_divergence_to_be_less_than",
                column="v", partition_object=po, threshold=10,
                max_unexpected_values=20)
        assert not r.success
        assert r.result["observed_value"] is None  # inf -> None

    def test_kl_auto_categorical_bounded(self, spark):
        """bucketize_data=False with no partition_object (auto mode) on a
        high-cardinality column: the driver must only see max_categories
        groups; KL(p||p)=0 exactly regardless (r2 VERDICT 'What's wrong' #3)."""
        rows = [("hot",)] * 500 + [(f"u{i:05d}",) for i in range(5000)]
        df = spark.createDataFrame(rows, "v string").repartition(8)
        r = one(df, "expect_column_kl_divergence_to_be_less_than",
                column="v", partition_object=None, bucketize_data=False,
                max_categories=100)
        assert r.success
        assert r.result["observed_value"] == 0.0
        trunc = r.result["details"]["partition_truncated"]
        assert trunc["distinct"] == 5001
        assert trunc["total_count"] == 5500
        obs = r.result["details"]["observed_partition"]
        assert len(obs["values"]) == 100
        assert "hot" in obs["values"]  # top-by-count values are kept

    def test_kl_auto_categorical_small_unchanged(self, spark):
        """Below the cap the auto path is byte-identical to the unbounded
        form: full partition returned, no truncation marker."""
        df = spark.createDataFrame([("a",)] * 6 + [("b",)] * 4, "v string")
        r = one(df, "expect_column_kl_divergence_to_be_less_than",
                column="v", partition_object=None, bucketize_data=False)
        assert r.success
        assert r.result["observed_value"] == pytest.approx(0.0)
        obs = r.result["details"]["observed_partition"]
        assert obs["values"] == ["a", "b"]
        assert obs["weights"] == pytest.approx([0.6, 0.4])
        assert "partition_truncated" not in r.result["details"]

    def test_kl_out_of_bins_inf_without_holdout(self, spark):
        df = spark.createDataFrame([(15.0,), (1.0,)], "v double")
        po = {"bins": [0.0, 5.0, 10.0], "weights": [0.5, 0.5]}
        r = one(df, "expect_column_kl_divergence_to_be_less_than",
                column="v", partition_object=po, threshold=10)
        assert not r.success
        # reference contract: inf/nan KL -> observed_value None, success False
        assert r.result["observed_value"] is None

    def test_bootstrapped_ks_raw_sample_mode(self, spark):
        """bootstrap=True: reference-faithful raw-sample bootstrap
        (column_bootstrapped_ks_test_p_value.py) — in-distribution data
        passes, shifted data fails, results are deterministic (seeded) and
        the driver pool stays bounded by bootstrap_pool_cap."""
        import random
        rng = random.Random(7)
        rows = [(rng.uniform(0.0, 10.0),) for _ in range(4000)]
        df = spark.createDataFrame(rows, "v double").repartition(8)
        po = {"bins": [0.0, 2.5, 5.0, 7.5, 10.0],
              "weights": [0.25, 0.25, 0.25, 0.25]}
        kw = dict(column="v", partition_object=po, threshold=0.05,
                  bootstrap=True, bootstrap_pool_cap=500)
        r1 = one(df, "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than", **kw)
        # same input, same seed => identical value; a different partitioning
        # may sample a different pool but must reach the same verdict here
        r1b = one(df, "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than", **kw)
        assert r1.result["observed_value"] == r1b.result["observed_value"]
        r2 = one(df.repartition(3),
                 "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than", **kw)
        assert r1.success and r2.success
        assert r1.result["observed_value"] > 0.5
        d = r1.result["details"]
        assert d["method"] == "bootstrapped_raw_sample"
        assert d["pool_size"] <= 500
        assert d["bootstrap_sample_size"] == 8  # 2x len(weights)
        # shifted distribution: every resample KS-rejects
        shifted = spark.createDataFrame(
            [(rng.uniform(7.0, 10.0),) for _ in range(4000)], "v double")
        r3 = one(shifted,
                 "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than", **kw)
        assert not r3.success
        assert r3.result["observed_value"] < 0.05

    def test_bootstrapped_ks_default_stays_sketch(self, spark):
        """Without bootstrap=True the distributed binned-sketch scoring is
        unchanged (the documented default)."""
        df = spark.createDataFrame([(float(i % 10),) for i in range(100)], "v double")
        po = {"bins": [0.0, 5.0, 10.0], "weights": [0.5, 0.5]}
        r = one(df, "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than",
                column="v", partition_object=po, threshold=0.05)
        assert r.result["details"]["method"] == "asymptotic_ks_on_binned_sketch"

    def test_ks_and_psi(self, spark):
        df = spark.createDataFrame([(float(i % 10),) for i in range(1000)], "v double")
        po = {"bins": [0.0, 5.0, 10.0], "weights": [0.5, 0.5]}
        r = one(df, "expect_column_ks_statistic_to_be_less_than",
                column="v", partition_object=po, threshold=0.02)
        assert r.success
        r2 = one(df, "expect_column_psi_to_be_less_than",
                 column="v", partition_object=po, threshold=0.01)
        assert r2.success


class TestSuiteLevel:
    def test_fused_suite_and_statistics(self, ge_mixed):
        suite = (ExpectationSuite("s")
                 .add("expect_column_values_to_not_be_null", column="a", mostly=0.7)
                 .add("expect_column_values_to_be_in_set", column="c", value_set=[1, 2])
                 .add("expect_column_mean_to_be_between", column="c", min_value=0, max_value=2)
                 .add("expect_table_row_count_to_equal", value=4)
                 .add("expect_column_values_to_be_unique", column="mult_dup"))
        res = validate(ge_mixed, suite)
        assert not res.success
        st = res.statistics
        assert st["evaluated_expectations"] == 5
        assert st["successful_expectations"] == 4
        assert st["success_percent"] == 80.0

    def test_per_partition_verdicts(self, spark):
        df = spark.createDataFrame([(i, i % 7) for i in range(100)],
                                   "id int, v int").repartition(4)
        suite = (ExpectationSuite("s")
                 .add("expect_column_values_to_not_be_null", column="id")
                 .add("expect_column_mean_to_be_between", column="v",
                      min_value=0, max_value=6))
        res = validate(df, suite, per_partition=True)
        assert res.success
        verdicts = res.meta["partition_verdicts"]
        pids = {v["partition_id"] for v in verdicts}
        assert len(pids) == 4
        assert all(v["success"] for v in verdicts)

    def test_exception_capture(self, ge_mixed):
        suite = ExpectationSuite("s").add(
            "expect_column_values_to_be_between", column="does_not_exist",
            min_value=0, max_value=1)
        res = validate(ge_mixed, suite, catch_exceptions=True)
        assert not res.results[0].success
        assert res.results[0].exception_info["raised_exception"]

    def test_validator_interactive(self, ge_mixed):
        v = Validator(ge_mixed)
        r = v.expect_column_values_to_not_be_null(column="a", mostly=0.7)
        assert r.success
        assert len(v.suite.expectations) == 1
        res = v.validate()
        assert res.success

    def test_suite_json_roundtrip(self):
        suite = ExpectationSuite("s").add(
            "expect_column_values_to_be_between", column="c", min_value=0, max_value=1)
        s2 = ExpectationSuite.from_json(suite.to_json())
        assert s2.expectations[0].kwargs["min_value"] == 0


def test_ungrouped_window_warns(spark):
    """Un-grouped increasing/decreasing collapses to one partition — the
    engine must say so (scale guard); with group_by there is no warning."""
    import warnings
    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "v int, g string")
    with pytest.warns(UserWarning, match="without `group_by`"):
        one(df, "expect_column_values_to_be_increasing", column="v")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        one(df, "expect_column_values_to_be_increasing", column="v", group_by="g")


def test_validator_head(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "v int")
    v = Validator(df)
    rows = v.head(3)
    assert [r["v"] for r in rows] == [0, 1, 2]
    assert len(v.head(fetch_all=True)) == 10


# ----------------------------------------------- violation samples, one pass

@pytest.fixture(scope="module")
def sample_df(spark, tmp_path_factory):
    """3000 rows shuffled into 4 parquet files, so scan order is not id
    order. Four map checks fail with three value types: a string regex, an
    int between, a column pair (struct sample) and an in_set with only 2
    unexpected rows (fewer than partial_unexpected_count)."""
    from pyspark.sql import functions as F
    path = str(tmp_path_factory.mktemp("samples") / "t")
    (spark.range(0, 3000, numPartitions=4).select(
        F.col("id"),
        F.concat(F.when(F.col("id") % 7 == 3, F.lit("bad-"))
                 .otherwise(F.lit("ok-")), F.col("id").cast("string")).alias("s"),
        F.when(F.col("id") % 11 == 0, F.lit(99999))
        .otherwise(F.col("id") % 100).cast("int").alias("n"),
        (F.col("id") % 13).alias("a"), (F.col("id") % 5).alias("b"),
        F.when(F.col("id").isin(17, 2900), "x").otherwise("y").alias("c"))
     .orderBy(F.rand(7)).repartition(4).write.parquet(path))
    return spark.read.parquet(path)


def _sample_suite():
    return (ExpectationSuite("samples")
            .add("expect_column_values_to_match_regex", column="s",
                 regex="^ok-")
            .add("expect_column_values_to_be_between", column="n",
                 min_value=0, max_value=99)
            .add("expect_column_pair_values_A_to_be_greater_than_B",
                 column_A="a", column_B="b")
            .add("expect_column_values_to_be_in_set", column="c",
                 value_set=["y"])
            .add("expect_column_values_to_not_be_null", column="s")
            .add("expect_column_mean_to_be_between", column="n",
                 min_value=0, max_value=10**9))


def _first_k(df, k):
    """Per failing item of _sample_suite, df.filter(cond).limit(k): the
    sample list and the keyed index entries (unexpected_index_column_names
    = ["id"])."""
    from pyspark.sql import functions as F
    checks = [(~F.col("s").rlike("^ok-"), "s"),
              (~F.col("n").between(0, 99), "n"),
              (~(F.col("a") > F.col("b")), None),
              (~F.col("c").isin("y"), "c")]
    out = []
    for cond, col in checks:
        rows = df.filter(cond).limit(k).collect()
        vals = [r[col] if col else [r["a"], r["b"]] for r in rows]
        index = [{"id": r["id"], **({col: r[col]} if col else {})}
                 for r in rows]
        out.append((vals, index))
    return out


def test_sample_pass_matches_filter_limit(sample_df):
    """Every failing item's samples are exactly the rows
    filter(cond).limit(k) returns, in the same order: BASIC (k=20), and
    COMPLETE with keyed index entries at unexpected_list_limit 7, 500 and
    1000. The failing items have 429, 273, 695 and 2 unexpected rows, so
    the items with at most k share one query at k=500 (three of them) and
    k=1000 (all four, the column-pair struct too); the others, and the lone
    in_set item at k=7 and k=20, get a limit query each."""
    basic = validate(sample_df, _sample_suite()).results
    for evr, (vals, _) in zip(basic, _first_k(sample_df, 20)):
        assert evr.result["partial_unexpected_list"] == vals
    assert len(basic[3].result["partial_unexpected_list"]) == 2
    for k in (7, 500, 1000):
        rf = {"result_format": "COMPLETE", "unexpected_list_limit": k,
              "unexpected_index_column_names": ["id"]}
        complete = validate(sample_df, _sample_suite(),
                            result_format=rf).results
        for evr, (vals, index) in zip(complete, _first_k(sample_df, k)):
            assert evr.result["unexpected_list"] == vals
            assert evr.result["unexpected_index_list"] == index
        assert [e.result["unexpected_count"] for e in complete[:5]] == \
            [429, 273, 695, 2, 0]
        assert complete[4].result["unexpected_list"] == []


@pytest.mark.parametrize("k", [20, 1000])
def test_sample_query_error_lands_in_served_items(sample_df, monkeypatch, k):
    """A failing sample query becomes the exception_info of each failing
    map item it served, and of no other item; with catch_exceptions=False
    it raises. k=20 breaks the per-item limit queries, k=1000 the one query
    the four items share."""
    import pyspark.sql.classic.dataframe as CD
    real = CD.DataFrame.collect

    def broken(self):
        if "__i" in self.columns:
            raise RuntimeError("sample query broke")
        return real(self)

    monkeypatch.setattr(CD.DataFrame, "collect", broken)
    rf = {"result_format": "COMPLETE", "unexpected_list_limit": k}
    res = validate(sample_df, _sample_suite(), result_format=rf).results
    raised = [bool((r.exception_info or {}).get("raised_exception"))
              for r in res]
    assert raised == [True, True, True, True, False, False]
    assert all("sample query broke" in r.exception_info["exception_message"]
               for r in res[:4])
    assert res[4].success and res[5].success
    with pytest.raises(RuntimeError, match="sample query broke"):
        validate(sample_df, _sample_suite(), result_format=rf,
                 catch_exceptions=False)
