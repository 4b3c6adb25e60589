"""Execution: run a compiled suite against a DataFrame.

Job structure (vs the reference, SURVEY.md §4):
- pass 1: ONE ``df.agg(...)`` per domain — all aggregate values, map-condition
  unexpected counts, HLL sketches, and drift histogram buckets fused. With
  ``per_partition=True`` this becomes ``df.rollup("__pid").agg(...)`` so one
  pass yields per-partition rollup rows AND the exact global row (the
  reference runs one job per materialized metric family instead:
  map_metric_provider.py:2344-2490).
- pass 2 (optional): dependent conditions (z-score) whose expressions need
  pass-1 values (mean/stddev) — one fused agg for all of them together.
- violation samples: per item the rows ``filter(cond).limit(k)`` returns,
  as the reference's partial_unexpected_list (map_metric_provider.py:
  2372-2415). The fused counts choose the query: an item with more than k
  unexpected rows keeps that limit query, which stops reading once it has
  k rows; every item with at most k, which no limit can stop early, shares
  ONE query per domain (and one for the failing z-score items): matching
  rows are exploded per item and cut to each item's first k in scan order
  by a ``row_number`` window.
- uniqueness: one persisted dup-key intermediate (the (key, partition)
  counts of duplicated keys) feeds the dup totals, every partition's share
  and the top duplicated values (groupBy instead of the reference's
  whole-table window — column_values_unique.py:83-87).
- extra jobs only where semantics require them: window conditions
  (increasing/decreasing), referential anti-joins, audio-invariant joins.

Verdicts: one scorer, ``score_row(item, row, rf)``, turns a rollup row into
an EVR. The global row and every partition row go through it. It returns
None when a verdict needs the data and not just the row (exact-opt-in
quantiles, bootstrapped KS, auto-partition KL, categorical KL with a positive
holdout and out-of-set mass); the global path resolves those from the data
and adds violation samples, and partitions get no verdict for them. The
scorer runs in one of two places:
- collected mode: on the driver, over the partition rows the rollup collects;
- sink mode (``partition_verdict_sink``): on executors, ``rdd.mapPartitions``
  over the stored rollup, so no partition row reaches the driver.
Map-shaped verdicts (fused map, window, unique, z-score) join each
partition's unexpected count to the rollup's element and nonnull counts and
are scored by ``results.mostly_success`` when collected, and by its one
Catalyst mirror ``_mostly_col`` in sink mode (no Python worker).

Scale notes: the fused pass is a single scan with map-side partial
aggregation; `bytes`-typed columns are never read unless an audio expectation
is in the suite (Catalyst column pruning); violation samples are capped
driver-side (COMPLETE caps at ``unexpected_list_limit``, default 10k) with the
full set available via the checkpoint results sink instead of the driver.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import math
import operator
import os
import traceback
from decimal import Decimal
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .expectations.defs import get_spec
from .metrics import conditions as C
from .metrics import sketches
from .planner import CompiledItem, DomainPlan, compile_suite
from .results import (
    format_map_output,
    mostly_success,
    normalize_result_format,
    validate_metric_value_between,
)
from .types import (
    ExpectationConfiguration,
    ExpectationSuite,
    ExpectationSuiteValidationResult,
    ExpectationValidationResult,
    build_statistics,
)

UNEXPECTED_LIST_LIMIT = 10_000
# per-partition verdicts carry the counts of a BASIC map result, no samples
_PARTITION_RF = normalize_result_format("BASIC")
# one row per (partition, expectation) in a partition_verdict_sink
_SINK_SCHEMA = ("partition_id string, expectation_type string, "
                "domain string, kind string, success boolean, "
                "element_count long, missing_count long, "
                "unexpected_count long, observed_value double, "
                "config_kwargs string")


def _is_valid_partition_object(po) -> bool:
    """Reference execution_engine/util.py:21-78 semantics."""
    import numpy as _np
    if po is None:
        return False
    if "values" in po and "weights" in po:
        return (len(po["values"]) == len(po["weights"])
                and _np.allclose(sum(po["weights"]), 1))
    if "bins" in po and "weights" in po:
        comb = list(po["weights"])
        if "tail_weights" in po:
            if len(po["tail_weights"]) != 2:
                return False
            comb = comb + list(po["tail_weights"])
        bins = po["bins"]
        return (len(bins) == len(po["weights"]) + 1
                and all(b2 > b1 for b1, b2 in zip(bins, bins[1:]))
                and _np.allclose(sum(comb), 1.0))
    return False


def _domain(kw: dict) -> str:
    return (kw.get("column") or ",".join(kw.get("column_list", []))
            or kw.get("column_A", ""))


# ------------------------------------------------------------- the scorer

def score_row(item: CompiledItem, row: dict,
              rf: dict) -> ExpectationValidationResult | None:
    """The verdict of one fused item from one rollup row — the global row
    or a partition's — formatted with result format ``rf``. Reads only the
    row and the item's compiled metadata, so it runs on the driver or on an
    executor alike.

    Returns None when the verdict needs the data, not just the row:
    exact-opt-in quantiles (approxQuantile job), bootstrapped KS (raw-sample
    pool), auto-partition KL (partition built from the batch) and
    categorical KL with a positive tail_weight_holdout and out-of-set mass
    (the holdout splits per distinct out-of-set value)."""
    spec, kw = item.spec, item.kwargs
    if spec.kind == "map":
        return _map_evr(item, rf, *_map_counts(item, row))
    if spec.kind == "agg":
        return _between_evr(item, row[item.slots["value"]])
    if spec.kind == "agg_custom":
        if item.info.get("use_approx_quantile"):
            return None
        return _agg_custom_evr(item, row)
    if spec.kind != "drift":
        raise ValueError(f"unexpected fused kind {spec.kind}")
    if item.info.get("auto") or _bootstrapped(item):
        return None
    out_mass = _out_of_set_mass(item, row)
    if out_mass > 0.5:
        if float(kw.get("tail_weight_holdout", 0.0)) > 0:
            return None
        # holdout 0: any out-of-set mass scores inf however it splits across
        # values, so one synthetic entry holding all of it is exact
        return _kl_evr(item, row, {object(): out_mass})
    return _drift_evr(item, row)


def _map_counts(item: CompiledItem, row: dict) -> tuple[int, int, int]:
    return (int(row[item.slots["element"]] or 0),
            int(row[item.slots["nonnull"]] or 0),
            int(row[item.slots["unexpected"]] or 0))


def _sample_value(item: CompiledItem, i: int) -> Column:
    """The value a violation sample of ``item`` records, as ``__v{i}``."""
    spec = item.spec
    return (spec.sample_value(item.kwargs) if spec.sample_value
            else F.col(item.kwargs["column"])).alias(f"__v{i}")


def _map_evr(item: CompiledItem, rf: dict, element: int, nonnull: int,
             unexpected: int, samples: list | None = None,
             index_list: list | None = None) -> ExpectationValidationResult:
    success = mostly_success(element, nonnull, unexpected,
                             item.kwargs.get("mostly", 1.0))
    result = format_map_output(rf, success, element, nonnull, unexpected,
                               samples, unexpected_index_list=index_list)
    return ExpectationValidationResult(
        success=success, expectation_config=item.config, result=result)


def _mostly_col(el: Column, nn: Column, ux: Column, mostly: float) -> Column:
    """``results.mostly_success`` as a Catalyst expression over non-null
    long counts: a vacuous pass on an empty or all-null partition, else
    (nonnull - unexpected) / nonnull >= mostly. It divides exactly as
    mostly_success does; comparing against ``mostly * nonnull`` instead
    rounds differently (25 rows, 7 expected, mostly=0.28)."""
    return F.when((el == 0) | (nn == 0), F.lit(True)).otherwise(
        (nn - ux).cast("double") / nn.cast("double") >= F.lit(float(mostly)))


def _between_evr(item: CompiledItem, value: Any) -> ExpectationValidationResult:
    kw = item.kwargs
    min_v, max_v = kw.get("min_value"), kw.get("max_value")
    if kw.get("parse_strings_as_datetimes"):
        # deprecated reference kwarg (expectation.py:1338-1360): string
        # bounds parsed with dateutil; the observed datetime is rendered
        # with output_strftime_format (or str) in the result
        from dateutil.parser import parse as _parse
        for name, b in (("min", min_v), ("max", max_v)):
            if b is not None:
                try:
                    parsed = _parse(b)
                except (TypeError, ValueError):
                    continue
                if name == "min":
                    min_v = parsed
                else:
                    max_v = parsed
    cmp_value = value
    if (isinstance(value, _dt.date)
            and not isinstance(value, _dt.datetime)
            and (isinstance(min_v, _dt.datetime)
                 or isinstance(max_v, _dt.datetime))):
        # DATE column vs dateutil-parsed bounds (always datetimes):
        # python refuses date-vs-datetime comparison, so compare the
        # day's midnight but keep the date for observed_value rendering
        cmp_value = _dt.datetime.combine(value, _dt.time.min)
    out = validate_metric_value_between(
        cmp_value, min_v, max_v,
        kw.get("strict_min", False), kw.get("strict_max", False))
    if cmp_value is not value:
        out["result"]["observed_value"] = value
    if kw.get("parse_strings_as_datetimes") and out["result"].get(
            "observed_value") is not None:
        ov = out["result"]["observed_value"]
        if isinstance(ov, (_dt.datetime, _dt.date)):
            fmt = kw.get("output_strftime_format")
            out["result"]["observed_value"] = (
                ov.strftime(fmt) if fmt else str(ov))
    return ExpectationValidationResult(
        success=out["success"], expectation_config=item.config, result=out["result"])


def _quantiles_evr(item: CompiledItem, values: list) -> ExpectationValidationResult:
    ranges = item.kwargs["quantile_ranges"]["value_ranges"]
    successes = [bool(v is not None and (lo is None or v >= lo)
                      and (hi is None or v <= hi))
                 for v, (lo, hi) in zip(values, ranges)]
    return ExpectationValidationResult(
        success=all(successes) and len(values) == len(ranges),
        expectation_config=item.config,
        result={"observed_value": {
            "quantiles": item.info["quantiles"], "values": values},
            "details": {"success_details": successes}})


def _agg_custom_evr(item: CompiledItem, row: dict) -> ExpectationValidationResult:
    kw, handler = item.kwargs, item.spec.extra["handler"]
    if handler == "row_count":
        count = int(row[item.slots["value"]] or 0)
        if item.spec.extra["mode"] == "equal":
            success = count == int(kw["value"])
            return ExpectationValidationResult(
                success=success, expectation_config=item.config,
                result={"observed_value": count})
        return _between_evr(item, count)
    if handler == "quantiles":
        values = row[item.slots["value"]]
        return _quantiles_evr(item, list(values) if values is not None else [])
    if handler == "unique_proportion":
        distinct = int(row[item.slots["distinct"]] or 0)
        nonnull = int(row[item.slots["nonnull"]] or 0)
        proportion = (distinct / nonnull) if nonnull else None
        return _between_evr(item, proportion)
    if handler == "distinct_set":
        observed = sorted(row[item.slots["value"]] or [])
        mode = item.spec.extra["mode"]
        oset = set(observed)
        if kw.get("value_set") is None:
            # null set = universal set (vacuously true subset/contains)
            success = True if mode != "equal" else len(oset) == 0
        else:
            value_set = set(kw["value_set"])
            success = {
                "subset": oset <= value_set,
                "superset": oset >= value_set,
                "equal": oset == value_set,
            }[mode]
        return ExpectationValidationResult(
            success=bool(success), expectation_config=item.config,
            result={"observed_value": observed})
    raise ValueError(handler)


def _bootstrapped(item: CompiledItem) -> bool:
    return item.spec.extra["score"] == "ks_p" and bool(item.kwargs.get("bootstrap"))


def _drift_counts(item: CompiledItem, row: dict) -> tuple[list[float], float, float, float]:
    counts = [float(row[a] or 0) for a in item.info["bin_aliases"]]
    below = float(row[item.slots["below"]] or 0) if "below" in item.slots else 0.0
    above = float(row[item.slots["above"]] or 0) if "above" in item.slots else 0.0
    nonnull = float(row[item.slots["nonnull"]] or 0)
    return counts, below, above, nonnull


def _out_of_set_mass(item: CompiledItem, row: dict) -> float:
    """Non-null rows of a categorical KL item outside its expected values
    (0 for every other item)."""
    if "values" not in item.info or item.spec.extra["score"] != "kl":
        return 0.0
    counts, _, _, nonnull = _drift_counts(item, row)
    return nonnull - sum(counts)


def _drift_evr(item: CompiledItem, row: dict,
               pool=None) -> ExpectationValidationResult:
    """Drift verdict from the fused bin counts; ``pool`` is the raw-sample
    pool a bootstrapped KS scores (ValidationRun._bootstrap_pool)."""
    kw = item.kwargs
    score_kind = item.spec.extra["score"]
    if score_kind == "kl":
        return _kl_evr(item, row)
    counts = _drift_counts(item, row)[0]
    expected = item.info["expected_weights"]
    if score_kind == "ks":
        value, details = sketches.ks_statistic(counts, expected), {}
    elif score_kind == "psi":
        value, details = sketches.psi(counts, expected), {}
    elif score_kind == "chisq_p":
        value, details = sketches.chisquare_p_value(counts, expected)
    elif _bootstrapped(item):
        # reference-faithful mode (column_bootstrapped_ks_test_p_value
        # .py:44-96): bootstrap raw samples against the partition CDF.
        po = kw["partition_object"]
        value, details = sketches.bootstrap_ks_test(
            pool, po["bins"], po["weights"],
            p=float(kw.get("p", 0.05)),
            bootstrap_samples=int(kw.get("bootstrap_samples") or 1000),
            bootstrap_sample_size=kw.get("bootstrap_sample_size"),
            seed=int(kw.get("bootstrap_seed", 42)))
        details["ks_statistic_binned"] = sketches.ks_statistic(
            counts, expected)
    elif score_kind in ("ks_p", "ks_param_p"):
        ks = sketches.ks_statistic(counts, expected)
        n_eff = sum(counts)
        value = sketches.ks_p_value(ks, n_eff)
        details = {"ks_statistic": ks, "n_effective": n_eff,
                   # semantic divergence from the reference, by design:
                   # the reference (pandas-only) bootstraps RAW samples;
                   # ours scores the KS asymptotic p on the BINNED sketch
                   # (mergeable across partitions, bounded memory) — the
                   # p-values differ, especially at small n. Pass
                   # bootstrap=True for the reference-faithful raw-sample
                   # bootstrap (bounded pool).
                   "method": "asymptotic_ks_on_binned_sketch"}
    else:
        value, details = sketches.chisquare_statistic(counts, expected), {}
    threshold = float(kw["threshold"])
    if item.spec.extra.get("direction") == "greater":
        success = value is not None and value > threshold
    else:
        success = value is not None and value < threshold
    observed_partition = (
        sketches.build_categorical_partition(item.info["values"], counts)
        if "values" in item.info
        else sketches.build_partition_from_edges(item.info["bins"], counts))
    return ExpectationValidationResult(
        success=bool(success), expectation_config=item.config,
        result={"observed_value": value,
                "details": {"observed_partition": observed_partition,
                            "expected_partition": kw["partition_object"], **details}})


def _kl_evr(item: CompiledItem, row: dict,
            out_of_set: dict | None = None) -> ExpectationValidationResult:
    """expect_column_kl_divergence_to_be_less_than against an explicit
    partition_object, with the reference's exact semantics
    (expect_column_kl_divergence_to_be_less_than.py:315-630): scipy-entropy
    normalization, tail_weights / holdout rules, +/-inf endpoints,
    categorical outer-union fill. ``out_of_set`` holds the counts of
    observed values outside a categorical partition."""
    kw = item.kwargs
    counts, below, above, nonnull = _drift_counts(item, row)
    th = float(kw.get("tail_weight_holdout", 0.0))
    if "values" in item.info:
        values = item.info["values"]
        observed = {v: c for v, c in zip(values, counts)}
        observed.update(out_of_set or {})
        value, details = sketches.kl_divergence_categorical(
            observed, nonnull, values, item.info["expected_weights"], th)
        return _kl_result(item, value, details)
    value, d = sketches.kl_divergence(
        counts, item.info["expected_weights"], below, above, nonnull,
        th, float(kw.get("internal_weight_holdout", 0.0)),
        bins=item.info.get("bins"),
        expected_tail_weights=kw["partition_object"].get("tail_weights"))
    shown_bins = [b for b in item.info.get("bins") or [] if not math.isinf(b)]
    return _kl_result(item, value, {
        "observed_partition": {"bins": shown_bins,
                               "weights": d["observed_weights"],
                               "tail_weights": d["observed_tail_weights"]},
        "expected_partition": {"bins": shown_bins,
                               "weights": d["expected_weights"],
                               "tail_weights": d["expected_tail_weights"]},
    })


def _kl_result(item: CompiledItem, value: float,
               details: dict) -> ExpectationValidationResult:
    """observed_value None on inf/nan; success = kl <= threshold (True when
    threshold is None)."""
    threshold = item.kwargs.get("threshold")
    displayable = not (math.isinf(value) or math.isnan(value))
    return ExpectationValidationResult(
        success=True if threshold is None else bool(value <= float(threshold)),
        expectation_config=item.config,
        result={"observed_value": value if displayable else None,
                "details": details})


def _sink_row(pid: str, item: CompiledItem,
              evr: ExpectationValidationResult) -> tuple:
    """One partition verdict as a row of _SINK_SCHEMA."""
    res = evr.result
    ov = res.get("observed_value")
    if not isinstance(ov, (int, float, Decimal)) or isinstance(ov, bool):
        ov = None
    return (pid, item.config.expectation_type, _domain(item.kwargs),
            item.spec.kind, bool(evr.success), res.get("element_count"),
            res.get("missing_count"), res.get("unexpected_count"),
            None if ov is None else float(ov),
            json.dumps(item.kwargs, sort_keys=True, default=str))


def _rollup(df: DataFrame, aggs: list[Column]) -> DataFrame:
    """``df.rollup("__pid").agg(aggs)`` plus ``__g``, the grouping flag of
    __pid: 1 on the global row, 0 on partition rows. ``__pid IS NULL``
    cannot tell them apart: a null partition value has a row of its own."""
    return df.rollup("__pid").agg(*aggs, F.grouping("__pid").alias("__g"))


def _collect_rollup(df: DataFrame,
                    aggs: list[Column]) -> tuple[dict | None, list[dict]]:
    """The collected rollup's global row (None on empty input) and its
    partition rows."""
    rows = [r.asDict() for r in _rollup(df, aggs).collect()]
    glob = [r for r in rows if r["__g"]]
    return glob[0] if glob else None, [r for r in rows if not r["__g"]]


def _score_partition_rows(items: list[CompiledItem], rows):
    """``mapPartitions`` body of sink mode: score_row over stored rollup
    rows, on the executors."""
    for r in rows:
        row = r.asDict()
        for item in items:
            evr = score_row(item, row, _PARTITION_RF)
            if evr is not None:
                yield _sink_row(row["partition_id"], item, evr)


class ValidationRun:
    """Holds one validation run's context and results."""

    def __init__(
        self,
        df: DataFrame,
        *,
        tables: dict[str, DataFrame] | None = None,
        result_format: Any = "BASIC",
        catch_exceptions: bool = True,
        per_partition: bool = False,
        partition_col: str | None = None,
        unique_strategy: str = "exact",  # 'exact' | 'approx' | 'auto'
        partition_verdict_sink: str | None = None,
    ) -> None:
        self.df = df
        self.tables = tables or {}
        self.rf = normalize_result_format(result_format)
        self.rf.setdefault("unexpected_list_limit", UNEXPECTED_LIST_LIMIT)
        self.catch_exceptions = catch_exceptions
        self.per_partition = per_partition
        self.partition_col = partition_col
        self.unique_strategy = unique_strategy
        # VERDICT r3 #6: with per_partition=True the rollup produces one row
        # per partition x the full slot-table width; collect()ing that is
        # fine at thousands of partitions but a driver-memory edge at 100k+
        # Iceberg partitions. Set `partition_verdict_sink` (a directory) to
        # write the rollup rows AND the derived per-partition verdict rows
        # as parquet DISTRIBUTED — the driver only ever reads the single
        # global row back. Read results with read_partition_verdicts().
        self.partition_verdict_sink = partition_verdict_sink
        if partition_verdict_sink is not None and not per_partition:
            raise ValueError(
                "partition_verdict_sink requires per_partition=True")
        self.partition_verdicts: list[dict] = []

    # ------------------------------------------------------------- helpers

    def _pid_expr(self):
        """Rollup key for per-partition verdicts: a REAL partition column
        (e.g. the Iceberg partition value — semantically meaningful, stable
        across parallelism levels) when given, else the physical
        spark_partition_id (reflects the current scan layout)."""
        if self.partition_col:
            return F.col(self.partition_col)
        return F.spark_partition_id()

    def _sample_limit(self) -> int:
        if self.rf["result_format"] == "COMPLETE":
            return self.rf["unexpected_list_limit"]
        return self.rf["partial_unexpected_count"]

    # ------------------------------------------------ per-partition verdicts

    def _record_partition_verdict(self, pid, item: CompiledItem,
                                  evr: ExpectationValidationResult) -> None:
        # pid is the physical partition id (int) or, with partition_col, the
        # partition's column value (any scalar type)
        res = evr.result
        self.partition_verdicts.append({
            "partition_id": int(pid) if isinstance(pid, (int, bool)) else pid,
            "expectation_type": item.config.expectation_type,
            "domain": _domain(item.kwargs),
            "success": bool(evr.success),
            # full kwargs so consumers (checkpoint single-pass) can identify
            # the exact CONFIG — (type, domain) alone collides when a suite
            # checks the same column twice with different bounds
            "config_kwargs": dict(item.kwargs),
            "kind": item.spec.kind,
            "unexpected_count": res.get("unexpected_count"),
            "element_count": res.get("element_count"),
            "missing_count": res.get("missing_count"),
            "observed_value": _jsonable(res.get("observed_value")),
        })

    def _record_map_verdicts(self, item: CompiledItem, pid_rows: list[dict],
                             ux_by_pid: dict) -> None:
        """Collected mode of the map-shaped emitter: each partition's
        unexpected count joined to its rollup row's element/nonnull."""
        for prow in pid_rows:
            self._record_partition_verdict(prow["__pid"], item, _map_evr(
                item, _PARTITION_RF, int(prow[item.slots["element"]] or 0),
                int(prow[item.slots["nonnull"]] or 0),
                int(ux_by_pid.get(prow["__pid"]) or 0)))

    def _map_verdict_frame(self, item: CompiledItem, frame: DataFrame,
                           ux: Column) -> DataFrame:
        """Sink mode of the map-shaped emitter: ``frame`` holds stored rollup
        rows (element/nonnull slots) and ``ux`` each partition's unexpected
        count; the verdict is _mostly_col, so no Python worker runs."""
        el = F.coalesce(F.col(item.slots["element"]), F.lit(0)).cast("long")
        nn = F.coalesce(F.col(item.slots["nonnull"]), F.lit(0)).cast("long")
        ux = F.coalesce(ux, F.lit(0)).cast("long")
        return frame.select(
            F.col("__pid").cast("string").alias("partition_id"),
            F.lit(item.config.expectation_type).alias("expectation_type"),
            F.lit(_domain(item.kwargs)).alias("domain"),
            F.lit(item.spec.kind).alias("kind"),
            _mostly_col(el, nn, ux, item.kwargs.get("mostly", 1.0))
            .alias("success"),
            el.alias("element_count"), (el - nn).alias("missing_count"),
            ux.alias("unexpected_count"),
            F.lit(None).cast("double").alias("observed_value"),
            F.lit(json.dumps(item.kwargs, sort_keys=True, default=str))
            .alias("config_kwargs"))

    def _sink_path(self, name: str) -> str:
        return os.path.join(self.partition_verdict_sink, f"{name}.parquet")

    def _sink_rollup(self, df: DataFrame, aggs: list[Column],
                     name: str) -> tuple[dict | None, DataFrame]:
        """Write ``_rollup(df, aggs)`` to the sink and read back only its
        global row (a pushed `__g = 1` filter on the tiny parquet). Returns
        that row (None on empty input) and the stored partition rows."""
        path = self._sink_path(name)
        _rollup(df, aggs).write.mode("overwrite").parquet(path)
        stored = df.sparkSession.read.parquet(path)
        g = stored.filter(F.col("__g") == 1).collect()
        return (g[0].asDict() if g else None,
                stored.filter(F.col("__g") == 0).drop("__g"))

    def _stored_shares(self, didx: int, shares: DataFrame) -> DataFrame:
        """The partition rows of a domain's stored fused rollup, left-joined
        on __pid to ``shares`` (per-partition unexpected counts). The join
        is null-safe: a null partition value is a partition too."""
        stored = (self.df.sparkSession.read
                  .parquet(self._sink_path(f"rollup-domain-{didx}"))
                  .filter(F.col("__g") == 0))
        shares = shares.withColumnRenamed("__pid", "__spid")
        return stored.join(shares, stored["__pid"].eqNullSafe(
            shares["__spid"]), "left")

    def _write_verdicts(self, frames: list[DataFrame], name: str) -> None:
        if frames:
            functools.reduce(lambda a, b: a.unionByName(b), frames).write.mode(
                "overwrite").parquet(self._sink_path(name))

    def _fused_pass_to_sink(self, dp: DomainPlan, dfd: DataFrame,
                            didx: int) -> dict:
        """Per-partition fused pass for 100k+-partition tables: the wide
        rollup (partitions x slot-table width) is written to the sink as
        parquet DISTRIBUTED and the driver reads back only the global row.
        Map items are scored by _mostly_col; every other fused item by
        score_row inside ``rdd.mapPartitions`` on the executors. Returns the
        global row."""
        grow, pid_src = self._sink_rollup(
            dfd.withColumn("__pid", self._pid_expr()), dp.slot_table.agg_list,
            f"rollup-domain-{didx}")
        frames = [self._map_verdict_frame(it, pid_src, F.col(it.slots["unexpected"]))
                  for it in dp.fused_items if it.spec.kind == "map"]
        scored = [it for it in dp.fused_items if it.spec.kind != "map"]
        if scored:
            # ship only the scored items' slots to the Python workers
            cols = sorted({c for it in scored for c in
                           [*it.slots.values(), *it.info.get("bin_aliases", [])]})
            rows = (pid_src.select(
                F.col("__pid").cast("string").alias("partition_id"), *cols)
                .rdd.mapPartitions(
                    functools.partial(_score_partition_rows, scored)))
            frames.append(dfd.sparkSession.createDataFrame(rows, _SINK_SCHEMA))
        self._write_verdicts(frames, f"verdicts-domain-{didx}")
        return grow or {a: None for a in dp.slot_table.exprs}

    # ---------------------------------------------------------- fused evrs

    def _fused_evr(self, item: CompiledItem, row: dict, dfd: DataFrame,
                   samples: dict) -> ExpectationValidationResult:
        """The global verdict of a fused item: score_row on the global row,
        plus what needs the data — violation samples (``samples``, from
        _sample_pass), or the whole verdict where score_row returns None
        (and categorical KL with out-of-set values, whose details name
        them)."""
        evr = (None if _out_of_set_mass(item, row) > 0.5
               else score_row(item, row, self.rf))
        if evr is None:
            return self._data_backed_evr(item, row, dfd)
        if id(item) in samples:
            return self._sampled_map_evr(item, _map_counts(item, row),
                                         samples[id(item)])
        return evr

    def _run_fused_item(self, item: CompiledItem, grow: dict,
                        pid_rows: list[dict], dfd: DataFrame,
                        samples: dict) -> ExpectationValidationResult:
        """Global verdict plus, in collected mode, one verdict per partition
        row; a raise in any of them lands in this item's EVR."""
        evr = self._fused_evr(item, grow, dfd, samples)
        scored = [(p["__pid"], score_row(item, p, _PARTITION_RF))
                  for p in pid_rows]
        for pid, pevr in scored:
            if pevr is not None:
                self._record_partition_verdict(pid, item, pevr)
        return evr

    def _data_backed_evr(self, item: CompiledItem, row: dict,
                         dfd: DataFrame) -> ExpectationValidationResult:
        if item.info.get("use_approx_quantile"):
            return _quantiles_evr(item, dfd.approxQuantile(
                item.kwargs["column"], item.info["quantiles"], 0.0))
        if item.info.get("auto"):
            return self._kl_auto_evr(item, row, dfd)
        if _bootstrapped(item):
            return _drift_evr(item, row, self._bootstrap_pool(item, row, dfd))
        return self._out_of_set_kl_evr(item, row, dfd)

    def _sample_pass(self, dfd: DataFrame,
                     failing: list[tuple[CompiledItem, Column, int]]) -> dict:
        """Violation samples of every ``(item, unexpected_cond,
        unexpected_count)`` in ``failing``: per item, the rows
        ``dfd.filter(cond).limit(k)`` returns, i.e. its first k unexpected
        rows in scan order (the reference's partial_unexpected_list,
        map_metric_provider.py:2372-2415).

        The fused counts pick the queries. Each item with more than k
        unexpected rows gets that limit query of its own: Spark's
        CollectLimit reads input partitions a few at a time and stops once
        it holds k rows, after the first partition when the violations are
        dense. An item with at most k unexpected rows cannot stop before the
        end of the data, so two or more such items share ONE query (a lone
        one keeps its limit query, which is cheaper than the shared shape):
        rows matching any of their conditions get their scan-order id
        (``monotonically_increasing_id``) and are exploded once per item
        whose condition holds; ``row_number() <= k`` per item (a partial
        WindowGroupLimit below the shuffle for k up to
        ``spark.sql.optimizer.windowGroupLimitThreshold``) bounds what moves
        even if the data changed since the fused pass. Since each of its
        items matches at most k rows, the shared query shuffles at most
        items x k rows for any k; the driver orders them by (item, scan id).
        Each item has its own value column, so strings, numbers and
        column-pair structs keep their types.

        Spark has no stable row index, so the reference's pandas-only
        `unexpected_index_list` (positional indices, expectation.py:
        1541-1553) is re-expressed the way its newer result-format contract
        does: the caller names business-key column(s) (e.g. clip_id) in
        `unexpected_index_column_names` and each entry is a dict of those
        key values + the domain column's unexpected value.

        Returns {id(item): (samples, index_list or None)}. If a query
        raises, each item it served maps to the exception instead, which
        _sampled_map_evr raises into that item's verdict."""
        if self.rf["result_format"] == "BOOLEAN_ONLY":
            return {}
        k = self._sample_limit()
        idx_cols = self.rf.get("unexpected_index_column_names") or []
        idx = [F.col(c).alias(f"__idx_{j}") for j, c in enumerate(idx_cols)]
        shared = [(it, cond) for it, cond, n in failing if n <= k]
        if len(shared) < 2:
            shared = []
        queries = [([it], dfd.filter(cond).select(
                        F.lit(0).alias("__i"), _sample_value(it, 0), *idx)
                    .limit(k))
                   for it, cond, n in failing if n > k or not shared]
        if shared:
            conds = [cond for _, cond in shared]
            first_k = Window.partitionBy("__i").orderBy("__mid")
            queries.append((
                [it for it, _ in shared],
                dfd.filter(functools.reduce(operator.or_, conds)).select(
                    F.monotonically_increasing_id().alias("__mid"),
                    F.explode(F.array_compact(F.array(
                        *[F.when(c, F.lit(i)) for i, c in enumerate(conds)])))
                    .alias("__i"),
                    *[_sample_value(it, i) for i, (it, _) in enumerate(shared)],
                    *idx)
                .withColumn("__rn", F.row_number().over(first_k))
                .filter(F.col("__rn") <= k)))
        out = {}
        for items, query in queries:
            try:
                rows = query.collect()
            except Exception as exc:  # noqa: BLE001 — lands in each served item
                out.update({id(it): exc for it in items})
                continue
            if len(items) > 1:
                rows.sort(key=lambda r: (r["__i"], r["__mid"]))
            got = [([], [] if idx_cols else None) for _ in items]
            for r in rows:
                kw = items[r["__i"]].kwargs
                value = self._sample_py(r[f"__v{r['__i']}"], kw)
                samples, index_list = got[r["__i"]]
                samples.append(value)
                if idx_cols:
                    entry = {c: r[f"__idx_{j}"] for j, c in enumerate(idx_cols)}
                    if kw.get("column") and kw["column"] not in entry:
                        entry[kw["column"]] = value
                    index_list.append(entry)
            out.update({id(it): g for it, g in zip(items, got)})
        return out

    def _sampled_map_evr(self, item: CompiledItem,
                         counts: tuple[int, int, int],
                         sampled) -> ExpectationValidationResult:
        """A map verdict with its violation samples; raises the sample
        query's exception when _sample_pass stored one for the item."""
        if isinstance(sampled, Exception):
            raise sampled
        return _map_evr(item, self.rf, *counts, *sampled)

    @staticmethod
    def _sample_py(v, kw: dict):
        """Struct samples -> python shapes matching the reference corpus:
        column pairs become [A, B] lists, multicolumn rows become dicts."""
        from pyspark.sql import Row
        if isinstance(v, Row):
            if "column_list" in kw:
                d = v.asDict()
                return {c: d.get(c) for c in kw["column_list"]}
            return list(v)
        return v

    def _nonnull_of(self, item: CompiledItem) -> Column:
        spec, kw = item.spec, item.kwargs
        if not spec.filter_nulls:
            return F.lit(True)
        if spec.nonnull is not None:
            return spec.nonnull(kw)
        return F.col(kw["column"]).isNotNull()

    def _bootstrap_pool(self, item: CompiledItem, row: dict, dfd: DataFrame):
        """Bounded uniform sample of the column's raw non-null values for
        driver-side bootstrap scoring. Below the cap (``bootstrap_pool_cap``,
        default 100k) the pool is the whole column; above it, a seeded
        fraction sample (slightly over-drawn, then limited) — one extra
        narrow scan, pruned to the single column — so driver memory stays
        flat at any scale."""
        import numpy as np
        kw = item.kwargs
        po = kw["partition_object"]
        if any(math.isinf(b) for b in po["bins"]):
            raise ValueError("Partition endpoints must be finite.")
        if sum(po.get("tail_weights", []) or []) > 0:
            raise ValueError(
                "Partition cannot have tail weights -- endpoints must "
                "be finite.")
        nonnull = int(_drift_counts(item, row)[3])
        cap = int(kw.get("bootstrap_pool_cap", 100_000))
        col = F.col(kw["column"]).cast("double")
        nn = dfd.filter(col.isNotNull()).select(col.alias("v"))
        if nonnull > cap:
            frac = min(1.0, cap * 1.2 / nonnull)
            nn = nn.sample(False, frac, int(kw.get("bootstrap_seed", 42)))
        vals = np.array([r["v"] for r in nn.limit(cap).collect()], dtype=float)
        # sort: collect order varies with partitioning, and rng.choice draws
        # by position — sorting makes the bootstrap value deterministic for
        # a given multiset (exactly reproducible below the cap)
        return np.sort(vals)

    def _out_of_set_kl_evr(self, item: CompiledItem, row: dict,
                           dfd: DataFrame) -> ExpectationValidationResult:
        """Categorical KL when values outside the expected set exist: one
        groupBy job resolves their counts (rare path; the fused pass already
        covered the expected values). The driver only ever sees the top
        `max_unexpected_values` rows — above that, the KL is computed from
        three JVM-side scalars (distinct count, total, sum c*ln c), exactly,
        with driver memory flat at any out-of-set cardinality."""
        kw = item.kwargs
        values = item.info["values"]
        cap = int(kw.get("max_unexpected_values", 1000))
        col = F.col(kw["column"])
        out = (dfd.filter(col.isNotNull() & ~col.isin(values))
               .groupBy(col).agg(F.count(F.lit(1)).alias("__n")))
        top = out.orderBy(F.desc("__n"), col).limit(cap + 1).collect()
        if len(top) <= cap:
            return _kl_evr(item, row, {r[kw["column"]]: float(r["__n"])
                                       for r in top})
        counts, _, _, nonnull = _drift_counts(item, row)
        observed = dict(zip(values, counts))
        cnt = F.col("__n").cast("double")
        srow = out.agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(cnt).alias("total"),
            F.sum(cnt * F.log(cnt)).alias("clogc")).first()
        value = sketches.kl_divergence_categorical_scalars(
            observed, nonnull, values, item.info["expected_weights"],
            float(kw.get("tail_weight_holdout", 0.0)),
            int(srow["n_distinct"]), float(srow["total"]),
            float(srow["clogc"]))
        shown = {r[kw["column"]]: float(r["__n"]) for r in top[:cap]}
        return _kl_result(item, value, {
            "observed_partition": {
                "values": values, "weights": [
                    observed.get(v, 0.0) / nonnull if nonnull else 0.0
                    for v in values]},
            "expected_partition": {
                "values": values,
                "weights": item.info["expected_weights"]},
            "unexpected_values_truncated": {
                "distinct": int(srow["n_distinct"]),
                "total_count": int(srow["total"]),
                "top": {str(k): v for k, v in shown.items()},
                "note": f"out-of-set values exceed "
                        f"max_unexpected_values={cap}; KL computed "
                        "exactly from distributed scalars"},
        })

    def _kl_auto_evr(self, item: CompiledItem, row: dict,
                     dfd: DataFrame) -> ExpectationValidationResult:
        """partition_object=None: build the partition FROM this batch
        (reference :338-356) — the observed distribution scored against a
        partition of itself (KL ~ 0; the result's value is the returned
        partition for later runs, matching the profiler role)."""
        kw = item.kwargs
        nonnull = _drift_counts(item, row)[3]
        th = float(kw.get("tail_weight_holdout", 0.0))
        col_name = kw["column"]
        col = F.col(col_name)
        if item.info["auto"] == "categorical":
            # BOUNDED (r3): the driver only ever sees the top `max_categories`
            # groups. Above the cap, KL is still exact — the auto path scores
            # the batch against a partition of itself, and KL(p||p) == 0
            # identically at any cardinality — so only the returned partition
            # is truncated (kept to the top-mass values, annotated). Mirrors
            # the bounded given-partition out-of-set path above and the
            # profiler's approx_distinct <= max_categories guard.
            cap = int(kw.get("max_categories", 1000))
            grouped = (dfd.filter(col.isNotNull()).groupBy(col)
                       .agg(F.count(F.lit(1)).alias("__n")))
            rows = grouped.orderBy(F.desc("__n"), col).limit(cap + 1).collect()
            if len(rows) > cap:
                srow = grouped.agg(
                    F.count(F.lit(1)).alias("n_distinct"),
                    F.sum(F.col("__n").cast("double")).alias("total")).first()
                rows = rows[:cap]
                observed = {r[col_name]: float(r["__n"]) for r in rows}
                values = sorted(observed, key=lambda v: (v is None, str(v)))
                weights = ([observed[v] / nonnull for v in values]
                           if nonnull else [])
                value = 0.0
                details = {
                    "observed_partition": {"values": values, "weights": weights},
                    "expected_partition": {"values": values, "weights": weights},
                    "partition_truncated": {
                        "distinct": int(srow["n_distinct"]),
                        "total_count": int(srow["total"]),
                        "max_categories": cap,
                        "note": "auto partition bounded to the top max_categories "
                                "values by count; KL(p||p) = 0 exactly at any "
                                "cardinality, so observed_value is unaffected"},
                }
            else:
                observed = {r[col_name]: float(r["__n"]) for r in rows}
                values = sorted(observed, key=lambda v: (v is None, str(v)))
                weights = ([observed[v] / nonnull for v in values]
                           if nonnull else [])
                value, details = sketches.kl_divergence_categorical(
                    observed, float(nonnull), values, weights, th)
        else:
            qs = [i / 10 for i in range(11)]
            edges = dfd.approxQuantile(col_name, qs, 0.0) if nonnull else []
            bins = sorted(set(e for e in edges if e is not None))
            if len(bins) < 2:
                return ExpectationValidationResult(
                    success=True, expectation_config=item.config,
                    result={"observed_value": None,
                            "details": {"note": "not enough data to partition"}})
            exprs = []
            for i in range(len(bins) - 1):
                lo, hi = bins[i], bins[i + 1]
                cond = (col >= lo) & ((col <= hi) if i == len(bins) - 2 else (col < hi))
                exprs.append(F.coalesce(
                    F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).alias(f"h{i}"))
            hrow = dfd.agg(*exprs).first().asDict()
            counts = [float(hrow[f"h{i}"]) for i in range(len(bins) - 1)]
            weights = [c / nonnull for c in counts] if nonnull else []
            value, details = sketches.kl_divergence(
                counts, weights, 0.0, 0.0, nonnull, th,
                float(kw.get("internal_weight_holdout", 0.0)), bins=bins,
                expected_tail_weights=None)
            details = {
                "observed_partition": {"bins": bins, "weights": details["observed_weights"],
                                       "tail_weights": details["observed_tail_weights"]},
                "expected_partition": {"bins": bins, "weights": details["expected_weights"],
                                       "tail_weights": details["expected_tail_weights"]},
            }
        return _kl_result(item, value, details)


    # ----------------------------------------------------------- job items

    def _run_job_item(self, item: CompiledItem, dfd: DataFrame, grow: dict,
                      pid_rows: list[dict] | None = None,
                      didx: int = 0,
                      jidx: int = 0) -> ExpectationValidationResult:
        handler_kind = item.spec.kind
        if handler_kind == "map_window":
            return self._run_window_item(item, dfd, grow,
                                         pid_rows=pid_rows, didx=didx,
                                         jidx=jidx)
        if handler_kind == "map_unique":
            return self._run_unique_item(item, dfd, grow,
                                         pid_rows=pid_rows, didx=didx,
                                         jidx=jidx)
        if handler_kind == "value":
            if item.spec.extra.get("handler") == "cramers_phi":
                return self._run_cramers_phi(item, dfd, grow)
            return self._run_most_common(item, dfd, grow)
        if handler_kind == "referential":
            return self._run_referential(item, dfd, grow)
        if handler_kind == "audio":
            from .metrics import audio as audio_metrics
            if item.spec.extra.get("handler") == "header":
                return audio_metrics.run_header_item(self, item, dfd, grow)
            if item.spec.extra.get("handler") == "payload":
                return audio_metrics.run_payload_item(self, item, dfd, grow)
            return audio_metrics.run_snr_item(self, item, dfd, grow)
        raise ValueError(handler_kind)

    def _run_window_item(self, item: CompiledItem, dfd: DataFrame, grow: dict,
                         pid_rows: list[dict] | None = None,
                         didx: int = 0,
                         jidx: int = 0) -> ExpectationValidationResult:
        # Reference runs window conditions as their own job too
        # (map_metric_provider.py:2344-2369). A global-ordered window cannot
        # be fused; per-partition verdicts (r5) attribute each
        # order-violating ROW to its own input partition — a boundary
        # violation (first value below the previous partition's last) counts
        # against the partition holding the offending row. The pid is tagged
        # BEFORE the window shuffle so it reflects input lineage, same as
        # the fused rollup's.
        kw = item.kwargs
        per_part = self.per_partition
        if per_part:
            dfd = dfd.withColumn("__pid", self._pid_expr())
        # reference null-filters the domain BEFORE the window (so `prev` is
        # the previous NON-null value — interspersed nulls don't mask
        # regressions): sparkdf_execution_engine.py:592-629
        dfd = dfd.filter(F.col(kw["column"]).isNotNull())
        nn = F.lit(True)
        expected = item.spec.condition(kw)
        sel = [F.col(kw["column"]),
               (nn & ~expected).alias("__unexpected"), nn.alias("__nn")]
        if per_part:
            sel.append(F.col("__pid"))
        flagged = dfd.select(*sel)
        ux_agg = F.coalesce(
            F.sum(F.when(F.col("__unexpected"), 1).otherwise(0)),
            F.lit(0)).alias("u")
        element = int(grow[item.slots["element"]] or 0)
        nonnull = int(grow[item.slots["nonnull"]] or 0)
        if per_part and self.partition_verdict_sink is not None:
            # one pass: rollup by pid written distributed, global row read
            # back; per-partition verdicts derived executor-side against the
            # stored domain rollup
            g, pid_u = self._sink_rollup(flagged, [ux_agg],
                                         f"wrollup-domain-{didx}-w{jidx}")
            unexpected = int(g["u"]) if g else 0
            joined = self._stored_shares(didx, pid_u)
            self._write_verdicts([self._map_verdict_frame(item, joined, F.col("u"))],
                                 f"verdicts-domain-{didx}-w{jidx}")
        elif per_part:
            g, rows = _collect_rollup(flagged, [ux_agg])
            unexpected = int(g["u"]) if g else 0
            self._record_map_verdicts(item, pid_rows or [],
                                      {r["__pid"]: r["u"] for r in rows})
        else:
            unexpected = int(flagged.agg(ux_agg).first()["u"])
        samples: list = []
        if unexpected and self.rf["result_format"] != "BOOLEAN_ONLY":
            samples = [
                r[kw["column"]]
                for r in flagged.filter("__unexpected").select(kw["column"])
                .limit(self._sample_limit()).collect()
            ]
        return _map_evr(item, self.rf, element, nonnull, unexpected, samples)

    def _run_unique_item(self, item: CompiledItem, dfd: DataFrame, grow: dict,
                         pid_rows: list[dict] | None = None,
                         didx: int = 0,
                         jidx: int = 0) -> ExpectationValidationResult:
        """Uniqueness via groupBy dup-groups — marks every row of a duplicated
        value unexpected, exactly like the reference's window form
        (column_values_unique.py:83-87), but with a key-partitioned shuffle
        instead of a whole-table window.

        HLL++ prescreen (north_star): the fused pass already computed
        approx_count_distinct. With unique_strategy='approx' the verdict uses
        the sketch alone (no second job — for exploratory scans); 'exact'
        (default) always resolves exact dup counts.

        per_partition (r5): the exact path also emits one verdict row per
        partition counting that partition's rows that participate in a
        GLOBAL duplicate group (the counts sum to the global
        unexpected_count), read from the same dup-key intermediate as the
        global counts; in sink mode the rows are joined to the stored rollup
        and written by executors — nothing per-partition reaches the
        driver. The approx/clean-prescreen strategies skip per-partition
        verdicts: an HLL sketch cannot attribute cross-partition duplicates.
        """
        kw = item.kwargs
        compound = item.spec.extra.get("compound", False)
        cols = kw["column_list"] if compound else [kw["column"]]
        element = int(grow[item.slots["element"]] or 0)
        nonnull = int(grow[item.slots["nonnull"]] or 0)
        approx = int(grow[item.slots["approx_distinct"]] or 0)

        rsd = float(kw.get("rsd", 0.05))
        if self.unique_strategy in ("approx", "auto"):
            # HLL++ prescreen (north_star): the fused pass already paid for
            # approx_count_distinct. est_dups beyond the 3*rsd noise band is
            # REAL duplication; inside the band the sketch cannot distinguish
            # dups from estimation error.
            est_dups = max(0, nonnull - approx)
            tolerated = 3.0 * rsd * max(nonnull, 1)
            suspect = est_dups > tolerated
            if self.unique_strategy == "auto" and suspect:
                pass  # fall through to the exact groupBy job below
            else:
                if self.unique_strategy == "auto":
                    # clean prescreen: no detectable duplicates at the
                    # sketch's resolution — skip the exact job entirely
                    success, reported = True, 0
                else:  # pure 'approx' verdict
                    success = (not suspect) or mostly_success(
                        element, nonnull, est_dups, kw.get("mostly", 1.0))
                    reported = est_dups if suspect else 0
                result = format_map_output(
                    self.rf, bool(success), element, nonnull, reported, [])
                result["details"] = {
                    "strategy": ("hll_prescreen_clean"
                                 if self.unique_strategy == "auto" else "hll_approx"),
                    "approx_distinct": approx, "rsd": rsd,
                    "dup_rows_upper_bound": int(tolerated)}
                return ExpectationValidationResult(
                    success=bool(success), expectation_config=item.config, result=result)

        # reference default is all_values_are_missing
        # (expect_compound_columns_to_be_unique.py:35): partially-null keys
        # DO participate in dup grouping (nulls group together). Must match
        # the fused nonnull slot's filter (planner.py) or the mostly
        # denominator and the dup scan would disagree on partially-null rows.
        nn = C.multicolumn_domain_filter(
            {"column_list": cols,
             "ignore_row_if": kw.get("ignore_row_if", "all_values_are_missing")}) \
            if compound else F.col(cols[0]).isNotNull()
        # d: the (key[, partition]) counts of every duplicated key, persisted
        # so the dup totals, each partition's share and the top duplicated
        # values all come from it. __cnt is the key's total, __first flags
        # one row per key. Globally a key is one row, so a hash aggregate
        # and a filter give d; per partition a window over the key sums its
        # partition counts. Window partitions group null keys together, as
        # groupBy does, so partially-null compound keys duplicate too.
        per_part = self.per_partition
        sink = per_part and self.partition_verdict_sink is not None
        rows = dfd.filter(nn)
        if per_part:
            key = Window.partitionBy(*cols)
            d = (rows.withColumn("__pid", self._pid_expr())
                 .groupBy(*cols, "__pid").agg(F.count(F.lit(1)).alias("__c"))
                 .select("*", F.sum("__c").over(key).alias("__cnt"),
                         (F.row_number().over(key.orderBy("__pid")) == 1)
                         .cast("long").alias("__first"))
                 .filter(F.col("__cnt") > 1))
        else:
            d = (rows.groupBy(*cols).agg(F.count(F.lit(1)).alias("__c"))
                 .filter(F.col("__c") > 1)
                 .select("*", F.col("__c").alias("__cnt"),
                         F.lit(1).cast("long").alias("__first")))
        d = d.persist()
        aggs = [F.coalesce(F.sum("__c"), F.lit(0)).alias("dup_rows"),
                F.coalesce(F.sum("__first"), F.lit(0)).alias("dup_groups")]
        try:
            if per_part and not sink:
                stats, pid_dup = _collect_rollup(d, aggs)
                shares = {r["__pid"]: r["dup_rows"] for r in pid_dup}
            else:
                stats = d.agg(*aggs).first()
            stats = stats or {"dup_rows": 0, "dup_groups": 0}
            unexpected = int(stats["dup_rows"])
            samples: list = []
            if unexpected and self.rf["result_format"] != "BOOLEAN_ONLY":
                k = self._sample_limit()
                top = (d.filter(F.col("__first") == 1)
                       .orderBy(F.desc("__cnt"), *cols).limit(k).collect())
                for r in top:
                    val = r[cols[0]] if not compound else {c: r[c] for c in cols}
                    samples.extend([val] * min(int(r["__cnt"]), k - len(samples)))
                    if len(samples) >= k:
                        break
            if sink:
                # join executor-side to the stored rollup's per-partition
                # element/nonnull and write verdict rows distributed
                joined = self._stored_shares(didx, d.groupBy("__pid").agg(
                    F.sum("__c").alias("__dup")))
                self._write_verdicts(
                    [self._map_verdict_frame(item, joined, F.col("__dup"))],
                    f"verdicts-domain-{didx}-u{jidx}")
        finally:
            d.unpersist()
        if per_part and not sink:
            self._record_map_verdicts(item, pid_rows or [], shares)
        evr = _map_evr(item, self.rf, element, nonnull, unexpected, samples)
        if evr.result:
            evr.result["details"] = {
                "strategy": ("exact_after_suspect_prescreen"
                             if self.unique_strategy == "auto" else "exact_groupby"),
                "approx_distinct": approx,
                "duplicate_groups": int(stats["dup_groups"])}
        return evr

    def _run_most_common(self, item: CompiledItem, dfd: DataFrame, grow: dict) -> ExpectationValidationResult:
        """Most-common value(s) with the tie collect BOUNDED (`max_ties`,
        default 100): on a degenerate column where every value occurs once,
        ALL distinct values tie at the max, so an uncapped collect pulls the
        whole column to the driver. Above the cap the success flag is still
        exact — tie count and set membership resolve as two JVM-side scalar
        jobs — only the reported list is truncated (annotated in details).
        Reference (pandas value_counts, expect_column_most_common_value_
        to_be_in_set) keeps all ties; identical below the cap."""
        kw = item.kwargs
        col = kw["column"]
        cap = int(kw.get("max_ties", 100))
        value_set = set(kw["value_set"])
        vc = dfd.filter(F.col(col).isNotNull()).groupBy(col).agg(
            F.count(F.lit(1)).alias("__cnt"))
        vc = vc.persist()
        truncated = False
        details = None
        try:
            mx_row = vc.agg(F.max("__cnt").alias("m")).first()
            mx = mx_row["m"]
            if mx is None:
                observed: list = []
                success = False  # empty column: nothing can be most common
            else:
                ties = vc.filter(F.col("__cnt") == mx)
                top = ties.select(col).orderBy(col).limit(cap + 1).collect()
                truncated = len(top) > cap
                observed = sorted(r[col] for r in top[:cap])
                if truncated:
                    n_ties = ties.count()
                    in_set = bool(value_set) and ties.filter(
                        F.col(col).isin(list(value_set))).limit(1).count() > 0
                    if kw.get("ties_okay"):
                        success = in_set
                    else:
                        success = False  # n_ties > cap >= 1, never exactly one
                    details = {"ties_truncated": {
                        "n_ties": int(n_ties), "max_ties": cap,
                        "note": "observed_value lists the first max_ties tied "
                                "values; success computed exactly from "
                                "distributed tie count / set membership"}}
                elif kw.get("ties_okay"):
                    success = len(set(observed) & value_set) > 0
                else:
                    success = len(observed) == 1 and observed[0] in value_set
        finally:
            vc.unpersist()
        result = {"observed_value": observed}
        if details:
            result["details"] = details
        return ExpectationValidationResult(
            success=bool(success), expectation_config=item.config,
            result=result)

    def _run_cramers_phi(self, item: CompiledItem, dfd: DataFrame, grow: dict) -> ExpectationValidationResult:
        """Cramér's phi (V) of a column pair: distributed groupBy(A,B)
        contingency counts, chi2 + phi scored driver-side. The reference is
        pandas-only (crosstab + scipy chi2_contingency); no continuity
        correction here. Guarded by max_cells against high-cardinality pairs."""
        import math
        kw = item.kwargs
        ca, cb = kw["column_A"], kw["column_B"]
        max_cells = int(kw.get("max_cells", 10_000))
        cells = (dfd.filter(F.col(ca).isNotNull() & F.col(cb).isNotNull())
                 .groupBy(ca, cb).agg(F.count(F.lit(1)).alias("__n"))
                 .limit(max_cells + 1).collect())
        if len(cells) > max_cells:
            raise ValueError(
                f"cramers_phi contingency exceeds max_cells={max_cells}; "
                "bucketize the columns first")
        n = sum(r["__n"] for r in cells)
        row_tot: dict = {}
        col_tot: dict = {}
        for r in cells:
            row_tot[r[ca]] = row_tot.get(r[ca], 0) + r["__n"]
            col_tot[r[cb]] = col_tot.get(r[cb], 0) + r["__n"]
        chi2 = 0.0
        if n > 0:
            obs = {(r[ca], r[cb]): r["__n"] for r in cells}
            for a, ra in row_tot.items():
                for b, cb_tot in col_tot.items():
                    e = ra * cb_tot / n
                    o = obs.get((a, b), 0)
                    if e > 0:
                        chi2 += (o - e) ** 2 / e
        k = min(len(row_tot), len(col_tot))
        phi = math.sqrt(chi2 / (n * (k - 1))) if n > 0 and k > 1 else 0.0
        threshold = float(kw["threshold"])
        success = phi < threshold
        return ExpectationValidationResult(
            success=bool(success), expectation_config=item.config,
            result={"observed_value": phi,
                    "details": {"chi2": chi2, "n": n,
                                "n_rows": len(row_tot), "n_cols": len(col_tot)}})

    def _run_referential(self, item: CompiledItem, dfd: DataFrame, grow: dict) -> ExpectationValidationResult:
        kw, handler = item.kwargs, item.spec.extra["handler"]
        if handler == "row_count_other_table":
            self_count = int(grow[item.slots["value"]] or 0)
            other = self.tables[kw["other_table_name"]]
            other_count = other.count()
            return ExpectationValidationResult(
                success=self_count == other_count, expectation_config=item.config,
                result={"observed_value": self_count,
                        "details": {"other_table_row_count": other_count}})
        # FK check: every value of `column` exists in other_table.other_column.
        # left_anti join — Catalyst/AQE picks broadcast when the (distinct)
        # reference side is small; reference GE does this via stored
        # evaluation-parameter URNs instead (core/evaluation_parameters.py).
        col = kw["column"]
        other = self.tables[kw["other_table"]]
        ref = other.select(F.col(kw.get("other_column", col)).alias(col)).distinct()
        orphans = dfd.filter(F.col(col).isNotNull()).join(ref, on=col, how="left_anti")
        unexpected = orphans.count()
        element = int(grow[item.slots["element"]] or 0)
        nonnull = int(grow[item.slots["nonnull"]] or 0)
        samples: list = []
        if unexpected and self.rf["result_format"] != "BOOLEAN_ONLY":
            samples = [r[col] for r in orphans.select(col).limit(self._sample_limit()).collect()]
        return _map_evr(item, self.rf, element, nonnull, int(unexpected), samples)

    # ------------------------------------------------------ dependent pass

    def _run_dependent_items(self, items: list[CompiledItem], dfd: DataFrame,
                             grow: dict, pid_rows: list[dict],
                             didx: int = 0) -> list[tuple[CompiledItem, Any]]:
        """Z-score conditions: second fused pass using pass-1 mean/stddev,
        then one sample pass for the failing items. Returns (item, a
        callable building its EVR), so a sample-query error lands only in
        the items that query served."""
        exprs = []
        conds: dict[str, Column] = {}
        for i, item in enumerate(items):
            kw = item.kwargs
            mean = grow[item.slots["mean"]]
            std = grow[item.slots["stddev"]]
            expected = C.z_score_under_threshold(kw, mean, std)
            nn = F.col(kw["column"]).isNotNull()
            cond = nn & ~expected
            conds[f"z{i}"] = cond
            exprs.append(F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).alias(f"z{i}"))
        empty = {f"z{i}": 0 for i in range(len(items))}
        if self.per_partition and self.partition_verdict_sink is not None:
            # sink mode (r4 #6): rollup written distributed; only the global
            # row is read back; per-partition z verdicts derived in Spark
            zg, pid_z = self._sink_rollup(
                dfd.withColumn("__pid", self._pid_expr()), exprs,
                f"zrollup-domain-{didx}")
            zrow = zg or empty
            joined = self._stored_shares(didx, pid_z)
            self._write_verdicts(
                [self._map_verdict_frame(item, joined, F.col(f"z{i}"))
                 for i, item in enumerate(items)],
                f"verdicts-domain-{didx}-z")
        elif self.per_partition:
            zg, rows = _collect_rollup(
                dfd.withColumn("__pid", self._pid_expr()), exprs)
            zrow = zg or empty
            for i, item in enumerate(items):
                self._record_map_verdicts(
                    item, pid_rows, {r["__pid"]: r[f"z{i}"] for r in rows})
        else:
            zrow = dfd.agg(*exprs).first().asDict() if exprs else {}
        counts = {id(item): (int(grow[item.slots["element"]] or 0),
                             int(grow[item.slots["nonnull"]] or 0),
                             int(zrow.get(f"z{i}", 0) or 0))
                  for i, item in enumerate(items)}
        samples = self._sample_pass(dfd, [
            (item, conds[f"z{i}"], counts[id(item)][2])
            for i, item in enumerate(items) if counts[id(item)][2]])
        return [(item, functools.partial(
            self._sampled_map_evr, item, counts[id(item)],
            samples.get(id(item), ([], None)))) for item in items]

    # -------------------------------------------------------------- schema

    def _run_schema_item(self, item: CompiledItem) -> ExpectationValidationResult:
        import pyspark.sql.types as sparktypes

        kw, handler = item.kwargs, item.spec.extra["handler"]
        schema = self.df.schema
        columns = [f.name for f in schema.fields]
        if handler == "column_exists":
            ok = kw["column"] in columns
            if ok and kw.get("column_index") is not None:
                ok = columns.index(kw["column"]) == int(kw["column_index"])
            return ExpectationValidationResult(
                success=bool(ok), expectation_config=item.config, result={})
        if handler == "columns_ordered":
            if kw.get("column_list") is None:  # vacuously true (corpus)
                return ExpectationValidationResult(
                    success=True, expectation_config=item.config,
                    result={"observed_value": columns})
            expected = list(kw["column_list"])
            return ExpectationValidationResult(
                success=columns == expected, expectation_config=item.config,
                result={"observed_value": columns})
        if handler == "columns_set":
            expected = set(kw.get("column_set") or [])
            observed = set(columns)
            exact = kw.get("exact_match", True)
            if kw.get("exact_match") is None:
                exact = True
            success = observed == expected if exact else expected <= observed
            return ExpectationValidationResult(
                success=bool(success), expectation_config=item.config,
                result={"observed_value": sorted(columns),
                        "details": {"unexpected": sorted(observed - expected),
                                    "missing": sorted(expected - observed)}})
        if handler == "column_count":
            n = len(columns)
            if item.spec.extra["mode"] == "equal":
                return ExpectationValidationResult(
                    success=n == int(kw["value"]), expectation_config=item.config,
                    result={"observed_value": n})
            return _between_evr(item, n)
        if handler in ("of_type", "in_type_list"):
            # reference short-circuits to a schema check on Spark
            # (expect_column_values_to_be_of_type.py:381-401)
            actual = schema[kw["column"]].dataType
            names = [kw["expected_type"]] if handler == "of_type" else list(kw["type_list"])
            classes = tuple(
                getattr(sparktypes, n) for n in names if hasattr(sparktypes, n))
            success = isinstance(actual, classes) if classes else False
            return ExpectationValidationResult(
                success=bool(success), expectation_config=item.config,
                result={"observed_value": type(actual).__name__})
        raise ValueError(handler)

    # ------------------------------------------------------------ main run


    # ----------------------------------------------------- config validation

    _BOUNDED_TYPES = {
        "expect_column_values_to_be_between",
        "expect_column_value_lengths_to_be_between",
        "expect_column_mean_to_be_between", "expect_column_min_to_be_between",
        "expect_column_max_to_be_between", "expect_column_sum_to_be_between",
        "expect_column_stdev_to_be_between", "expect_column_median_to_be_between",
        "expect_table_row_count_to_be_between",
        "expect_table_column_count_to_be_between",
    }
    _NUMERIC_COLUMN_TYPES = {
        "expect_column_mean_to_be_between", "expect_column_sum_to_be_between",
        "expect_column_stdev_to_be_between", "expect_column_median_to_be_between",
        "expect_column_quantile_values_to_be_between",
        "expect_column_value_z_scores_to_be_less_than",
    }
    _NUMERIC_BOUND_TYPES = {
        "expect_column_mean_to_be_between", "expect_column_sum_to_be_between",
        "expect_column_stdev_to_be_between", "expect_column_median_to_be_between",
        "expect_table_row_count_to_be_between",
        "expect_table_column_count_to_be_between",
        "expect_column_value_lengths_to_be_between",
    }
    _STRING_COLUMN_TYPES = {
        "expect_column_value_lengths_to_be_between": "object of type 'int' has no len() — value-length expectations require a string column",
        "expect_column_value_lengths_to_equal": "object of type 'int' has no len() — value-length expectations require a string column",
        "expect_column_values_to_match_strftime_format": "Values passed to expect_column_values_to_match_strftime_format must be of type string",
    }

    def _validate_config(self, config: ExpectationConfiguration) -> None:
        """Kwarg/type validation mirroring the reference's config checks
        (golden corpus error cases: missing bounds, min>max, non-numeric
        bounds/columns, wrong input dtypes)."""
        import pyspark.sql.types as T
        etype = config.expectation_type
        spec = get_spec(etype)
        kw = {**spec.defaults, **config.kwargs}
        num = (int, float)

        if etype in self._BOUNDED_TYPES:
            mn, mx = kw.get("min_value"), kw.get("max_value")
            # only the map-level expectations error on missing bounds; the
            # aggregate/table betweens are vacuously true (golden corpus)
            # the reference is inconsistent here and the golden corpus
            # encodes it: min/sum error on missing bounds, mean/median/
            # stdev/max/table-counts are vacuously true
            if mn is None and mx is None and etype in (
                    "expect_column_values_to_be_between",
                    "expect_column_value_lengths_to_be_between",
                    "expect_column_min_to_be_between",
                    "expect_column_sum_to_be_between"):
                raise ValueError("min_value and max_value cannot both be None")
            # value-length betweens allow max < min (all rows unexpected)
            if etype != "expect_column_value_lengths_to_be_between" and (
                    isinstance(mn, num) and not isinstance(mn, bool)
                    and isinstance(mx, num) and not isinstance(mx, bool) and mn > mx):
                raise ValueError("min_value cannot be greater than max_value")
            if etype in self._NUMERIC_BOUND_TYPES:
                for b in (mn, mx):
                    if b is not None and (isinstance(b, bool) or not isinstance(b, num)):
                        raise ValueError("min_value and max_value must be numbers")
            if etype == "expect_column_value_lengths_to_be_between":
                for b in (mn, mx):
                    if b is not None and not float(b).is_integer():
                        raise ValueError("min_value and max_value must be integers")

        if etype == "expect_column_values_to_not_be_in_set":
            vs = kw.get("value_set")
            if vs is None:
                raise TypeError("argument of type 'NoneType' is not iterable")
            if any(v is None for v in vs):
                raise ValueError(
                    "expect_column_values_to_not_be_in_set cannot support a None "
                    "in the value_set in spark")

        if etype == "expect_column_kl_divergence_to_be_less_than":
            po = kw.get("partition_object")
            threshold = kw.get("threshold")
            th = kw.get("tail_weight_holdout", 0.0)
            ih = kw.get("internal_weight_holdout", 0.0)
            if po is not None and not _is_valid_partition_object(po):
                raise ValueError("Invalid partition object.")
            if threshold is not None and (
                    isinstance(threshold, bool) or not isinstance(threshold, num)
                    or threshold < 0):
                raise ValueError(
                    "Threshold must be specified, greater than or equal to zero.")
            for name, hv in (("tail_weight_holdout", th), ("internal_weight_holdout", ih)):
                if isinstance(hv, bool) or not isinstance(hv, num) or hv < 0 or hv > 1:
                    raise ValueError(f"{name} must be between zero and one.")
            if po is not None:
                if th != 0 and "tail_weights" in po:
                    raise ValueError(
                        "tail_weight_holdout must be 0 when using tail_weights in partition object")
                if "values" in po and ih > 0:
                    raise ValueError(
                        "Internal weight holdout cannot be used for discrete data.")
                if "bins" in po:
                    bins = po["bins"]
                    neg_inf = bins[0] == float("-inf")
                    pos_inf = bins[-1] == float("inf")
                    if neg_inf and pos_inf and th > 0:
                        raise ValueError(
                            "tail_weight_holdout cannot be used for partitions with infinite endpoints.")
                    if (neg_inf or pos_inf) and "tail_weights" in po:
                        raise ValueError(
                            "There can be no tail weights for partitions with one or both endpoints at infinity")
                    if kw.get("bucketize_data", True) is False:
                        raise ValueError(
                            "KL Divergence cannot be computed with a continuous partition "
                            "object and the bucketize_data parameter set to false.")

        if etype == "expect_column_quantile_values_to_be_between":
            for pair in kw.get("quantile_ranges", {}).get("value_ranges", []):
                lo, hi = pair
                if lo is not None and hi is not None and lo > hi:
                    raise ValueError("quantile_ranges must consist of ordered pairs")

        if etype in ("expect_table_row_count_to_equal", "expect_table_column_count_to_equal"):
            v = kw.get("value")
            if isinstance(v, bool) or not isinstance(v, int):
                raise ValueError("value must be an integer")

        fields = {f.name: f.dataType for f in self.df.schema.fields}
        col = kw.get("column")
        dt = fields.get(col) if col else None
        if dt is not None:
            if etype in self._NUMERIC_COLUMN_TYPES and not isinstance(
                    dt, (T.NumericType,)):
                raise TypeError(
                    f"{etype} requires a numeric column; '{col}' is {dt.simpleString()}")
            if etype in self._STRING_COLUMN_TYPES and not isinstance(
                    dt, (T.StringType,)):
                raise TypeError(self._STRING_COLUMN_TYPES[etype])
            if etype == "expect_column_values_to_be_between":
                mn, mx = kw.get("min_value"), kw.get("max_value")
                numeric_col = isinstance(dt, T.NumericType)
                string_col = isinstance(dt, T.StringType)
                for b in (mn, mx):
                    if b is None:
                        continue
                    b_num = isinstance(b, num) and not isinstance(b, bool)
                    if (numeric_col and not b_num) or (string_col and b_num):
                        raise TypeError(
                            "Column values, min_value, and max_value must either "
                            "be None or of the same type.")

    def _missing_columns(self, config: ExpectationConfiguration) -> list[str]:
        """Column-existence pre-check (the reference wires every metric to a
        table.columns dependency — column_aggregate_metric_provider.py:244-267)."""
        kw = config.kwargs
        refs: list[str] = []
        spec = get_spec(config.expectation_type)
        if spec.kind == "schema" or spec.extra.get("handler") == "row_count_other_table":
            return []
        for key in ("column", "column_A", "column_B"):
            if key in kw:
                refs.append(kw[key])
        refs.extend(kw.get("column_list", []))
        have = set(self.df.columns)
        return [c for c in refs if c not in have]

    def run(self, suite: ExpectationSuite) -> ExpectationSuiteValidationResult:
        evrs: dict[str, ExpectationValidationResult] = {}
        plannable = []
        for config in suite.expectations:
            unresolved = _unresolved_parameters(config.kwargs)
            if unresolved:
                exc = KeyError(
                    f"evaluation parameter(s) not supplied: {unresolved}")
                if not self.catch_exceptions:
                    raise exc
                evrs[id(config)] = ExpectationValidationResult(
                    success=False, expectation_config=config, result={},
                    exception_info={
                        "raised_exception": True,
                        "exception_message": f"KeyError: {exc}",
                        "exception_traceback": None,
                    })
                continue
            missing = self._missing_columns(config)
            if missing:
                exc = KeyError(f"column(s) not found in table: {missing}")
                if not self.catch_exceptions:
                    raise exc
                evrs[id(config)] = ExpectationValidationResult(
                    success=False, expectation_config=config, result={},
                    exception_info={
                        "raised_exception": True,
                        "exception_message": f"KeyError: {exc}",
                        "exception_traceback": None,
                    })
                continue
            try:
                self._validate_config(config)
            except Exception as exc:  # noqa: BLE001 — config errors become EVRs
                if not self.catch_exceptions:
                    raise
                evrs[id(config)] = ExpectationValidationResult(
                    success=False, expectation_config=config, result={},
                    exception_info={
                        "raised_exception": True,
                        "exception_message": f"{type(exc).__name__}: {exc}",
                        "exception_traceback": traceback.format_exc(),
                    })
                continue
            plannable.append(config)
        plan = compile_suite(plannable)

        def record(config: ExpectationConfiguration, fn) -> None:
            try:
                evrs[id(config)] = fn()
            except Exception as e:  # noqa: BLE001
                if not self.catch_exceptions:
                    raise
                evrs[id(config)] = ExpectationValidationResult(
                    success=False, expectation_config=config, result={},
                    exception_info={
                        "raised_exception": True,
                        "exception_message": f"{type(e).__name__}: {e}",
                        "exception_traceback": traceback.format_exc(),
                    })

        for item in plan.schema_items:
            record(item.config, lambda it=item: self._run_schema_item(it))

        for didx, dp in enumerate(plan.domains.values()):
            dfd = self.df
            if dp.row_condition:
                try:
                    rc = C.row_condition_filter(
                        {"row_condition": dp.row_condition,
                         "condition_parser": dp.condition_parser})
                except Exception as exc:  # noqa: BLE001 — bad condition: EVRs, not abort
                    if not self.catch_exceptions:
                        raise
                    # an unparseable row_condition fails every expectation in
                    # this domain as an exception EVR (same contract as any
                    # other config error) and the rest of the suite still runs
                    def _reraise(e=exc):
                        raise ValueError(f"invalid row_condition: {e}") from e
                    for it in dp.fused_items + dp.dependent_items + dp.job_items:
                        record(it.config, _reraise)
                    continue
                dfd = dfd.filter(rc)

            grow: dict = {}
            pid_rows: list[dict] = []
            if dp.slot_table.exprs:
                agg_list = dp.slot_table.agg_list
                try:
                    if self.per_partition and self.partition_verdict_sink is not None:
                        # 100k+-partition mode: verdict rows go to the sink
                        # distributed; nothing wide is collected (r4 #6)
                        grow = self._fused_pass_to_sink(dp, dfd, didx)
                    elif self.per_partition:
                        g, pid_rows = _collect_rollup(
                            dfd.withColumn("__pid", self._pid_expr()), agg_list)
                        grow = g or {a: None for a in dp.slot_table.exprs}
                    else:
                        first = dfd.agg(*agg_list).first()
                        grow = first.asDict() if first is not None else {a: None for a in dp.slot_table.exprs}
                except Exception as exc:  # noqa: BLE001 — fused pass failed: attribute to every item
                    if not self.catch_exceptions:
                        raise
                    tb = traceback.format_exc()
                    for it in dp.fused_items + dp.dependent_items + dp.job_items:
                        evrs[id(it.config)] = ExpectationValidationResult(
                            success=False, expectation_config=it.config, result={},
                            exception_info={
                                "raised_exception": True,
                                "exception_message": f"{type(exc).__name__}: {exc}",
                                "exception_traceback": tb,
                            })
                    continue

            samples = self._sample_pass(dfd, [
                (it, self._nonnull_of(it) & ~it.spec.condition(it.kwargs),
                 _map_counts(it, grow)[2])
                for it in dp.fused_items
                if it.spec.kind == "map" and _map_counts(it, grow)[2]])
            for item in dp.fused_items:
                record(item.config, lambda it=item: self._run_fused_item(
                    it, grow, pid_rows, dfd, samples))

            if dp.dependent_items:
                try:
                    for item, evr_fn in self._run_dependent_items(
                            dp.dependent_items, dfd, grow, pid_rows, didx):
                        record(item.config, evr_fn)
                except Exception as e:  # noqa: BLE001
                    if not self.catch_exceptions:
                        raise
                    for item in dp.dependent_items:
                        record(item.config, lambda exc=e: (_ for _ in ()).throw(exc))

            for jidx, item in enumerate(dp.job_items):
                record(item.config,
                       lambda it=item, j=jidx: self._run_job_item(
                           it, dfd, grow, pid_rows=pid_rows, didx=didx,
                           jidx=j))

        results = []
        for config in suite.expectations:
            results.append(evrs[id(config)])
        success = all(r.success for r in results)
        return ExpectationSuiteValidationResult(
            success=success, results=results, statistics=build_statistics(results),
            meta={"expectation_suite_name": suite.expectation_suite_name})


def _jsonable(v: Any) -> Any:
    try:
        json.dumps(v)
        return v
    except (TypeError, ValueError):
        return str(v)


def read_partition_verdicts(spark, sink_path: str) -> DataFrame:
    """All per-partition verdict rows a `partition_verdict_sink` run wrote,
    as one DataFrame — the scale-safe replacement for
    result.meta['partition_verdicts'] when partitions number 100k+. The rows
    are the ones collected mode records, scored by the same code on the
    executors: score_row over the stored rollup for fused items, and the
    map-shaped emitter (fused map, window, unique, z-score) for the rest."""
    return spark.read.parquet(os.path.join(sink_path, "verdicts-*.parquet"))


def resolve_evaluation_parameters(
    suite: ExpectationSuite, params: dict | None) -> ExpectationSuite:
    """Substitute ``{"$PARAMETER": "<name>"}`` kwargs with values supplied at
    validation time — the reference's evaluation-parameter mechanism
    (core/evaluation_parameters.py:199-304; URN store lookups become plain
    dict lookups here since cross-suite values live in the results table)."""
    def subst(v):
        if isinstance(v, dict) and set(v) == {"$PARAMETER"}:
            name = v["$PARAMETER"]
            if params is not None and name in params:
                return params[name]
            # the reference allows EXPRESSIONS here — arithmetic, round/trunc,
            # and temporal builtins now()/datetime()/timedelta(), possibly
            # referencing supplied params (core/evaluation_parameters.py)
            from .eval_params import evaluate_parameter_expression
            try:
                return evaluate_parameter_expression(name, params)
            except Exception:
                # leave unresolved: ValidationRun converts it into a
                # per-expectation exception EVR (catch_exceptions semantics),
                # instead of aborting the whole validate() call here
                return v
        if isinstance(v, dict):
            return {k: subst(x) for k, x in v.items()}
        if isinstance(v, list):
            return [subst(x) for x in v]
        return v

    needs = any(
        isinstance(v, (dict, list)) for c in suite.expectations for v in c.kwargs.values())
    if not needs:
        return suite
    out = ExpectationSuite(suite.expectation_suite_name, meta=dict(suite.meta))
    for c in suite.expectations:
        out.expectations.append(ExpectationConfiguration(
            c.expectation_type, subst(dict(c.kwargs)), dict(c.meta)))
    return out


def _unresolved_parameters(v) -> list[str]:
    """Names of ``{"$PARAMETER": ...}`` markers still present after
    resolve_evaluation_parameters (i.e. not supplied by the caller)."""
    if isinstance(v, dict):
        if set(v) == {"$PARAMETER"}:
            return [v["$PARAMETER"]]
        return [n for x in v.values() for n in _unresolved_parameters(x)]
    if isinstance(v, list):
        return [n for x in v for n in _unresolved_parameters(x)]
    return []


def validate(
    df: DataFrame,
    suite: ExpectationSuite,
    *,
    tables: dict[str, DataFrame] | None = None,
    result_format: Any = "BASIC",
    catch_exceptions: bool = True,
    per_partition: bool = False,
    partition_col: str | None = None,
    unique_strategy: str = "exact",
    evaluation_parameters: dict | None = None,
    partition_verdict_sink: str | None = None,
) -> ExpectationSuiteValidationResult:
    suite = resolve_evaluation_parameters(suite, evaluation_parameters)
    run = ValidationRun(
        df, tables=tables, result_format=result_format,
        catch_exceptions=catch_exceptions, per_partition=per_partition,
        partition_col=partition_col, unique_strategy=unique_strategy,
        partition_verdict_sink=partition_verdict_sink)
    result = run.run(suite)
    if per_partition:
        result.meta["partition_verdicts"] = run.partition_verdicts
        if partition_verdict_sink is not None:
            # verdict rows live in the sink, not the driver — read them with
            # read_partition_verdicts(spark, path)
            result.meta["partition_verdicts_path"] = partition_verdict_sink
    return result
