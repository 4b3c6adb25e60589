"""Physical-plan quality gates: the fused pass must keep its scan pruned and
its filters pushed down — regression tests on `.explain` output, not just on
results (SURVEY.md §4 rows 4/5)."""

import re

import pytest
from pyspark.sql import functions as F

from sparkcheck.planner import compile_suite
from sparkcheck.types import ExpectationConfiguration as EC

# jobs of _contract_suite() on clips_path (4 input files, local[4])
PER_PARTITION_JOBS = 10
GLOBAL_JOBS = 9


@pytest.fixture(scope="module")
def clips_path(spark, tmp_path_factory):
    from sparkcheck.io import generate_audio_clips
    path = str(tmp_path_factory.mktemp("plan") / "clips")
    generate_audio_clips(spark, 5000, num_partitions=4).write.parquet(path)
    return path


def _executed_plan(df) -> str:
    df.collect()
    txt = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints Final + Initial plans; keep only the final one
    return txt.split("== Initial Plan ==")[0]


def _fused_agg(spark, clips_path, configs, row_condition=None):
    df = spark.read.parquet(clips_path)
    if row_condition:
        df = df.filter(row_condition)
    plan = compile_suite(configs)
    dp = next(iter(plan.domains.values()))
    return df.agg(*dp.slot_table.agg_list)


def test_fused_pass_never_reads_binary(spark, clips_path):
    agg = _fused_agg(spark, clips_path, [
        EC("expect_column_values_to_not_be_null", {"column": "clip_id"}),
        EC("expect_column_values_to_be_between",
           {"column": "sr_hz", "min_value": 8000, "max_value": 48000}),
        EC("expect_column_mean_to_be_between",
           {"column": "dur_ms", "min_value": 0, "max_value": 10**9}),
        EC("expect_audio_snr_vs_reference_to_be_above", {"reference_table": "r"}),
        EC("expect_column_kl_divergence_to_be_less_than",
           {"column": "dur_ms",
            "partition_object": {"bins": [0, 3000, 30000], "weights": [0.5, 0.5]},
            "threshold": 10}),
    ])
    txt = _executed_plan(agg)
    m = re.search(r"ReadSchema: struct<([^>]*)>", txt)
    assert m, txt[:500]
    read_cols = m.group(1)
    assert "bytes" not in read_cols, f"binary column leaked into the fused scan: {read_cols}"
    assert "transcript" not in read_cols  # unused column pruned too
    for c in ("clip_id", "sr_hz", "dur_ms"):
        assert c in read_cols


def test_row_condition_reaches_parquet_scan(spark, clips_path):
    agg = _fused_agg(spark, clips_path,
                     [EC("expect_table_row_count_to_be_between", {"min_value": 0})],
                     row_condition="codec = 'wav'")
    txt = _executed_plan(agg)
    m = re.search(r"PushedFilters: (\[[^\]]*\])", txt)
    assert m and "EqualTo(codec,wav)" in m.group(1), txt[:800]


def test_suite_is_one_scan_per_domain(spark, clips_path):
    """All fused metrics of a domain share ONE FileScan (the whole point of
    the fused-slot planner)."""
    agg = _fused_agg(spark, clips_path, [
        EC("expect_column_values_to_not_be_null", {"column": "clip_id"}),
        EC("expect_column_values_to_match_regex",
           {"column": "clip_id", "regex": "^clip-"}),
        EC("expect_column_values_to_be_in_set",
           {"column": "codec", "value_set": ["wav", "flac", "mp3", "opus"]}),
        EC("expect_column_mean_to_be_between",
           {"column": "dur_ms", "min_value": 0, "max_value": 10**9}),
        EC("expect_column_stdev_to_be_between",
           {"column": "dur_ms", "min_value": 0, "max_value": 10**9}),
    ])
    txt = _executed_plan(agg)
    assert txt.count("FileScan parquet") == 1, txt[:800]


def test_salted_repartition_breaks_hot_key(spark):
    """North-rule skew handling: 80% of rows share codec='wav'; salting
    spreads the hot key across partitions instead of one straggler."""
    from sparkcheck.io import generate_audio_clips
    from sparkcheck.metrics.audio import salted_repartition
    clips = generate_audio_clips(spark, 20_000, with_bytes=False, num_partitions=4)
    plain = clips.repartition(8, F.col("codec"))
    sizes_plain = [r["count"] for r in plain.groupBy(F.spark_partition_id().alias("p"))
                   .count().collect()]
    salted = salted_repartition(clips, "codec", n_salts=16, num_partitions=8)
    sizes_salted = [r["count"] for r in salted.groupBy(F.spark_partition_id().alias("p"))
                    .count().collect()]
    # hash-partitioning by codec leaves >=80% of rows in one partition;
    # salting caps the biggest partition near the even share
    assert max(sizes_plain) > 0.75 * 20_000
    assert max(sizes_salted) < 0.35 * 20_000
    assert sum(sizes_salted) == 20_000


def test_default_quantiles_use_bounded_sketch(spark, clips_path):
    """Scale guard: the DEFAULT quantile path must compile to the fused
    percentile_approx sketch (bounded memory, mergeable), never the exact
    percentile aggregation or a separate approxQuantile(0.0) job; the exact
    paths stay available behind explicit opt-ins."""
    qr = {"quantiles": [0.5], "value_ranges": [[None, None]]}
    default_cfg = EC("expect_column_quantile_values_to_be_between",
                     {"column": "dur_ms", "quantile_ranges": qr})
    plan = compile_suite([default_cfg])
    item = next(iter(plan.domains.values())).fused_items[0]
    assert not item.info.get("use_approx_quantile")
    assert "value" in item.slots  # fused slot, single pass
    agg = _fused_agg(spark, clips_path, [default_cfg])
    txt = _executed_plan(agg)
    assert "percentile_approx" in txt
    assert not re.search(r"(?<!_approx)\bpercentile\(", txt), txt[:800]
    # explicit opt-ins keep the exact semantics
    exact_cfg = EC("expect_column_quantile_values_to_be_between",
                   {"column": "dur_ms", "quantile_ranges": qr, "exact": True})
    item_e = next(iter(compile_suite([exact_cfg]).domains.values())).fused_items[0]
    assert item_e.info.get("use_approx_quantile")
    linear_cfg = EC("expect_column_quantile_values_to_be_between",
                    {"column": "dur_ms", "quantile_ranges": qr,
                     "interpolation": "linear"})
    item_l = next(iter(compile_suite([linear_cfg]).domains.values())).fused_items[0]
    assert "value" in item_l.slots and not item_l.info.get("use_approx_quantile")


def test_mismatch_decode_pushes_in_filter(spark, clips_path):
    """The SNR mismatch-decode rescan must reach parquet as an In filter so
    row-group stats can prune (key-sorted layout). Spark silently degrades
    In to a min..max range above spark.sql.parquet.pushdown.inFilterThreshold
    (default 10) — on a key-sorted table that range spans everything and the
    scan reads the FULL binary column. The engine raises the threshold for
    the decode actions and must restore it afterwards."""
    from sparkcheck import ExpectationSuite, validate
    from sparkcheck.io import generate_audio_clips
    th_key = "spark.sql.parquet.pushdown.inFilterThreshold"
    before = spark.conf.get(th_key, None)
    # 20k clips so the deterministic corruption yields >10 mismatches —
    # above Spark's default threshold, i.e. the silent-degrade regime
    dirty = generate_audio_clips(spark, 20000, num_partitions=4,
                                 audio_ms_cap=300)
    ref = generate_audio_clips(spark, 20000, clean=True, num_partitions=4,
                               audio_ms_cap=300)
    suite = ExpectationSuite("snr").add(
        "expect_audio_snr_vs_reference_to_be_above",
        reference_table="ref", min_snr_db=30.0, mostly=0.5)
    res = validate(dirty, suite, tables={"ref": ref})
    d = res.results[0].result["details"]
    assert 10 < d["hash_mismatch_count"] <= 250, d
    # conf restored after the decode actions
    assert spark.conf.get(th_key, None) == before


def test_simhash64_scan_prunes_and_single_pass(spark, tmp_path_factory):
    """simhash64 must read only (id, text), compute all 64 bit-votes in ONE
    map-side-combinable aggregation over one corpus scan (no per-bit
    re-scan), and keep the vote sums inside whole-stage codegen."""
    path = str(tmp_path_factory.mktemp("simhash") / "docs")
    spark.createDataFrame(
        [(i, f"some document text number {i} with several words here",
          "en", "web", 42) for i in range(200)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(path)
    from sparkcheck.pipeline.dedup import simhash64
    sh = simhash64(spark.read.parquet(path), "doc_id", "text")
    txt = _executed_plan(sh)
    m = re.search(r"ReadSchema: struct<([^>]*)>", txt)
    assert m and "lang" not in m.group(1) and "source" not in m.group(1)
    assert txt.count("FileScan parquet") == 1
    # one partial + one final HashAggregate pair — 64 sums fused, not 64 jobs
    assert txt.count("HashAggregate") == 2, txt[:800]
    # '*(' prefixes mark WholeStageCodegen spans in the executed-plan format
    assert "*(" in txt


def test_winnow_scan_prunes_and_single_filescan(spark, tmp_path_factory):
    """Winnowing must read only (id, text) and scan the corpus once (the
    gram array is materialized behind a projection, not re-scanned)."""
    path = str(tmp_path_factory.mktemp("winnow") / "docs")
    spark.createDataFrame(
        [(i, f"some document text number {i} with several words here",
          "en", "web", 42) for i in range(200)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(path)
    from sparkcheck.pipeline.text import winnow_fingerprints
    fp = winnow_fingerprints(spark.read.parquet(path))
    txt = _executed_plan(fp)
    m = re.search(r"ReadSchema: struct<([^>]*)>", txt)
    assert m and "lang" not in m.group(1) and "source" not in m.group(1)
    assert txt.count("FileScan parquet") == 1


def test_quality_filter_prunes_scan(spark, tmp_path):
    """The quality gate must stay a pruned streaming scan: only the columns
    it actually uses reach ReadSchema, and no Exchange appears."""
    from sparkcheck.pipeline.text import quality_filter
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [("a", "the quick brown fox", "en", 99)] * 50,
        "doc_id string, text string, lang string, extra int"
    ).write.parquet(path)
    d = spark.read.parquet(path)
    # the gate itself: pure projection, zero shuffle
    txt_filter = _executed_plan(quality_filter(d).select("doc_id", "passes"))
    assert "Exchange" not in txt_filter
    # column pruning: an aggregation over `passes` only needs `text`
    agg = quality_filter(d).agg(
        F.sum(F.col("passes").cast("int")).alias("n_pass"))
    txt = _executed_plan(agg)
    m = re.search(r"ReadSchema: struct<([^>]*)>", txt)
    assert m, txt[:500]
    assert "extra" not in m.group(1)
    assert "doc_id" not in m.group(1)  # only text is needed for the agg


def test_verdict_sink_rollup_prunes_binary(spark, tmp_path, clips_path):
    """Sink-mode per-partition validation must not read the binary column
    when the suite has no audio expectation (same pruning contract as the
    collected fused pass)."""
    from sparkcheck import ExpectationSuite, validate
    d = spark.read.parquet(clips_path)
    suite = (ExpectationSuite("s")
             .add("expect_column_values_to_not_be_null", column="clip_id")
             .add("expect_column_mean_to_be_between",
                  column="dur_ms", min_value=0, max_value=10**9))
    sink = str(tmp_path / "sink")
    validate(d, suite, per_partition=True, partition_col="codec",
             partition_verdict_sink=sink)
    # the sink's rollup parquet carries only __pid + slot columns; re-read
    # the write's input side via the rollup file schema: slot count is small
    import pyarrow.parquet as pq
    import glob
    rollup = glob.glob(f"{sink}/rollup-domain-*.parquet/*.parquet")
    assert rollup
    names = pq.read_schema(rollup[0]).names
    assert "__pid" in names and len(names) <= 12
    # and the verdict rows exist for both kinds
    from sparkcheck.runner import read_partition_verdicts
    kinds = {r["kind"] for r in read_partition_verdicts(spark, sink).collect()}
    assert kinds == {"map", "agg"}


def test_incremental_stats_pass_prunes_scan(spark, clips_path):
    """The incremental per-delta statistics pass must read ONLY the columns
    its mergeable expectations reference — never the binary column — and the
    transcript-rate pair condition must fuse into the same single agg."""
    from sparkcheck.incremental import IncrementalCheckpoint
    from sparkcheck.types import ExpectationSuite
    suite = (ExpectationSuite("inc")
             .add("expect_column_values_to_not_be_null", column="clip_id")
             .add("expect_column_mean_to_be_between", column="dur_ms",
                  min_value=0, max_value=10**9)
             .add("expect_transcript_words_per_second_to_be_between",
                  min_wps=0.05, max_wps=200.0))
    inc = IncrementalCheckpoint.__new__(IncrementalCheckpoint)
    inc.suite = suite
    from sparkcheck.planner import compile_suite
    from sparkcheck.incremental import _classify_item
    inc._plan = compile_suite(suite.expectations)
    inc._strategy = {id(it.config): _classify_item(it)
                     for it in inc._iter_items()}
    d = spark.read.parquet(clips_path)
    (did, dp, items), = list(inc._domain_items())
    stats = inc._stat_exprs(items)
    agg = d.agg(*[s["expr"] for s in stats.values()])
    txt = _executed_plan(agg)
    m = re.search(r"ReadSchema: struct<([^>]*)>", txt)
    assert m, txt[:500]
    cols = m.group(1)
    assert "bytes" not in cols, f"binary column leaked into stats scan: {cols}"
    for c in ("clip_id", "dur_ms", "transcript"):
        assert c in cols
    # ONE fused aggregation: no join, a single scan node
    assert txt.count("FileScan") == 1 or txt.count("Scan parquet") == 1, txt[:800]


def test_profile_pass_uses_sketch_quantiles_by_default(spark, clips_path):
    """build_reference_profile runs on the 'clean snapshot' — potentially
    the full table — so its quantiles must default to the bounded-memory
    percentile_approx sketch; exact sort-based percentile is opt-in."""
    import pyspark.sql.classic.dataframe as CD

    import sparkcheck.profiler as P

    captured = []
    orig = CD.DataFrame.first

    def spy(self):
        captured.append(self._jdf.queryExecution().analyzed().toString())
        return orig(self)

    CD.DataFrame.first = spy
    try:
        d = spark.read.parquet(clips_path)
        P.build_reference_profile(d, ["dur_ms"])
        default_plan = "".join(captured)
        captured.clear()
        P.build_reference_profile(d, ["dur_ms"], exact=True)
        exact_plan = "".join(captured)
    finally:
        CD.DataFrame.first = orig
    assert "percentile_approx" in default_plan
    assert re.search(r"(?<!_approx)percentile\(", exact_plan)
    assert "percentile_approx" not in exact_plan


def test_unique_proportion_approx_plans_hll(spark, clips_path):
    """approximate=True on proportion-of-unique must plan the HLL sketch
    (mergeable, bounded memory), not the exact distinct aggregate whose
    per-key hash state grows with cardinality; without the opt-in the
    exact aggregate stays."""
    from sparkcheck import ExpectationSuite
    from sparkcheck.planner import compile_suite

    d = spark.read.parquet(clips_path)

    def agg_plan(**extra):
        suite = ExpectationSuite("p").add(
            "expect_column_proportion_of_unique_values_to_be_between",
            column="clip_id", min_value=0.1, **extra)
        plan = compile_suite(suite.expectations)
        (domain,) = plan.domains.values()
        exprs = [e.alias(f"c{i}") for i, e in
                 enumerate(domain.slot_table.exprs.values())]
        return d.agg(*exprs)._jdf.queryExecution().analyzed().toString()

    exact = agg_plan()
    approx = agg_plan(approximate=True)
    assert "count(distinct" in exact.lower()
    assert "approx_count_distinct" not in exact
    assert "approx_count_distinct" in approx
    assert "count(distinct" not in approx.lower()


def _job_ids(spark, fn):
    """Runs ``fn`` in a Spark job group of its own; returns its result and
    the ids of the jobs it ran (deterministic for a given plan and data)."""
    import uuid
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _count_jobs(spark, fn):
    out, ids = _job_ids(spark, fn)
    return out, len(ids)


def _contract_suite():
    from sparkcheck import ExpectationSuite
    return (ExpectationSuite("contract")
            .add("expect_column_values_to_not_be_null", column="clip_id",
                 mostly=0.999)
            .add("expect_column_values_to_match_regex", column="clip_id",
                 regex=r"^clip-[0-9]{10}$", mostly=0.99)
            .add("expect_column_values_to_be_unique", column="clip_id",
                 mostly=0.99)
            .add("expect_column_values_to_be_between", column="sr_hz",
                 min_value=8000, max_value=48000, mostly=0.999)
            .add("expect_column_values_to_be_in_set", column="codec",
                 value_set=["wav", "flac", "mp3", "opus"], mostly=0.999)
            .add("expect_column_value_lengths_to_be_between",
                 column="transcript", min_value=5, max_value=400)
            .add("expect_column_mean_to_be_between", column="dur_ms",
                 min_value=2000, max_value=5000)
            .add("expect_column_stdev_to_be_between", column="dur_ms",
                 min_value=100, max_value=5000)
            .add("expect_column_kl_divergence_to_be_less_than",
                 column="dur_ms", threshold=1.0, tail_weight_holdout=0.01,
                 partition_object={
                     "bins": [200, 1500, 2500, 3500, 5000, 8000, 30000],
                     "weights": [0.18, 0.26, 0.20, 0.17, 0.12, 0.07]})
            .add("expect_table_row_count_to_be_between", min_value=1))


def test_contract_suite_job_budget(spark, clips_path):
    """The contract suite's Spark job count is pinned: the fused pass, ONE
    sample query for its four failing map items, and uniqueness from one
    persisted dup-key intermediate. Per-partition collected mode: fused 2,
    samples 2, uniqueness 6."""
    from sparkcheck import validate
    df = spark.read.parquet(clips_path)
    res, pp_jobs = _count_jobs(
        spark, lambda: validate(df, _contract_suite(), per_partition=True))
    failing = [r.expectation_config.expectation_type for r in res.results
               if r.result.get("unexpected_count")]
    assert len(failing) == 5, failing  # 4 fused map items + unique
    assert not any((r.exception_info or {}).get("raised_exception")
                   for r in res.results)
    assert pp_jobs == PER_PARTITION_JOBS
    _, global_jobs = _count_jobs(
        spark, lambda: validate(df, _contract_suite()))
    assert global_jobs == GLOBAL_JOBS


def _spy_sample_plans(monkeypatch) -> list[str]:
    """Records the executed plan of every sample query (a frame with an
    ``__i`` column) that collects."""
    import pyspark.sql.classic.dataframe as CD
    plans = []
    real = CD.DataFrame.collect

    def spy(self):
        rows = real(self)
        if "__i" in self.columns:
            plans.append(self._jdf.queryExecution().executedPlan().toString()
                         .split("== Initial Plan ==")[0])
        return rows

    monkeypatch.setattr(CD.DataFrame, "collect", spy)
    return plans


def test_sample_pass_is_one_query_for_any_failing_items(spark, clips_path,
                                                       monkeypatch):
    """Violation samples for 2 or 4 failing items with at most k unexpected
    rows each cost the same <= 2 jobs: one shared query whose per-item
    first-k cut runs as a WindowGroupLimit (partial, below the shuffle). A
    lone such item keeps its plain limit query, also <= 2 jobs."""
    from sparkcheck.runner import ValidationRun
    df = spark.read.parquet(clips_path)
    plan = compile_suite([
        EC("expect_column_values_to_not_be_null", {"column": "clip_id"}),
        EC("expect_column_values_to_match_regex",
           {"column": "clip_id", "regex": r"^clip-[0-9]{10}$"}),
        EC("expect_column_values_to_be_between",
           {"column": "sr_hz", "min_value": 8000, "max_value": 48000}),
        EC("expect_column_values_to_be_in_set",
           {"column": "codec", "value_set": ["wav", "flac", "mp3", "opus"]}),
    ])
    run = ValidationRun(df)
    conds = [(it, run._nonnull_of(it) & ~it.spec.condition(it.kwargs))
             for it in next(iter(plan.domains.values())).fused_items]
    failing = [(it, cond, df.filter(cond).count()) for it, cond in conds]
    assert all(0 < n <= run._sample_limit() for _, _, n in failing)
    plans = _spy_sample_plans(monkeypatch)
    one, n_one = _count_jobs(spark, lambda: run._sample_pass(df, failing[:1]))
    two, n_two = _count_jobs(spark, lambda: run._sample_pass(df, failing[:2]))
    four, n_four = _count_jobs(spark, lambda: run._sample_pass(df, failing))
    assert n_one <= 2 and n_two == n_four <= 2
    assert [len(one), len(two), len(four)] == [1, 2, 4]
    assert all(samples for samples, _ in four.values())
    assert four[id(failing[0][0])] == one[id(failing[0][0])]
    assert len(plans) == 3
    assert "CollectLimit" in plans[0] and "Window" not in plans[0]
    for txt in plans[1:]:
        assert "WindowGroupLimit" in txt, txt


def test_dense_violations_keep_an_early_stopping_limit(spark, monkeypatch):
    """An item with more than k unexpected rows gets a limit query of its
    own, which stops after the first input partition when that partition
    holds k of them: one job of one task, no window. The two items with at
    most k rows (one violation, in the last partition) share the windowed
    query. Samples equal df.filter(cond).limit(k) either way."""
    from sparkcheck.runner import ValidationRun
    df = spark.range(0, 4000, numPartitions=4).select(
        "id", (F.col("id") % 3).alias("a"),
        F.when(F.col("id") == 3999, -1).otherwise(1).alias("b"))
    plan = compile_suite([
        EC("expect_column_values_to_be_between",
           {"column": "a", "min_value": 0, "max_value": 0}),
        EC("expect_column_values_to_be_in_set",
           {"column": "id", "value_set": list(range(10))}),
        EC("expect_column_values_to_be_between",
           {"column": "b", "min_value": 0, "max_value": 1}),
        EC("expect_column_values_to_be_in_set",
           {"column": "b", "value_set": [1]}),
    ])
    run = ValidationRun(df)
    items = next(iter(plan.domains.values())).fused_items
    conds = [run._nonnull_of(it) & ~it.spec.condition(it.kwargs)
             for it in items]
    failing = [(it, c, df.filter(c).count()) for it, c in zip(items, conds)]
    assert [n for _, _, n in failing] == [2666, 3990, 1, 1]
    plans = _spy_sample_plans(monkeypatch)
    out, ids = _job_ids(spark, lambda: run._sample_pass(df, failing))
    st = spark.sparkContext.statusTracker()
    tasks = [sum(st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds)
             for j in ids]
    assert tasks[:2] == [1, 1]   # the two dense items: first partition only
    assert len(ids) <= 4
    assert ["Window" in p for p in plans] == [False, False, True]
    assert all("CollectLimit" in p for p in plans[:2])
    for (it, c, _), key in zip(failing, ["a", "id", "b", "b"]):
        want = [r[key] for r in df.filter(c).limit(20).collect()]
        assert out[id(it)] == (want, None)


def test_global_uniqueness_plans_no_window(spark, clips_path, monkeypatch):
    """Globally, the dup-key intermediate is a hash aggregate and a filter:
    a key is one row there, so a window over it would only sort. Per
    partition the window sums each key's partition counts."""
    import pyspark.sql.classic.dataframe as CD

    from sparkcheck import ExpectationSuite, validate
    plans = []
    real = CD.DataFrame.persist

    def spy(self, *a, **kw):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return real(self, *a, **kw)

    monkeypatch.setattr(CD.DataFrame, "persist", spy)
    df = spark.read.parquet(clips_path)
    suite = ExpectationSuite("u").add("expect_column_values_to_be_unique",
                                      column="clip_id")
    glob = validate(df, suite).results[0]
    part = validate(df, suite, per_partition=True).results[0]
    assert glob.result["unexpected_count"] == part.result["unexpected_count"] > 0
    assert len(plans) == 2
    assert "Window" not in plans[0] and "Aggregate" in plans[0]
    assert "Window" in plans[1]
