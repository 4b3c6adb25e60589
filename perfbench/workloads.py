"""The closed-loop workloads. Each one drives sparkcheck only through its
public functions and checks every call's verdicts against the closed-form
fixture counts in ``sparkcheck.fixture_math``.

Why these two (each stresses modules the other leaves idle; see README.md):

- contract_partitioned: the audio metadata contract with per-partition
  verdicts, the ROADMAP headline. All work is planner + runner (fused
  rollup, violation samples, uniqueness) on the collected path.
  metrics.audio, io, incremental and checkpoint are idle.
- ingest_audio: one step of an ingest pipeline. io.write_table appends a
  metadata delta, the incremental stats store validates it and merges all
  snapshots, the SNR invariant checks an audio batch against its clean
  twin (binary join and Arrow pandas-UDF decode in metrics.audio), and
  Checkpoint.run_single_pass writes the delta's per-group verdicts through
  the runner's sink path, then rolls them up. The collected fused pass and
  uniqueness are idle.
"""

from __future__ import annotations

import os
import shutil
import time

from sparkcheck import (Checkpoint, ExpectationSuite, validate, write_table)
from sparkcheck.fixture_math import expected_counts, expected_snr_summary
from sparkcheck.incremental import IncrementalCheckpoint
from sparkcheck.io import generate_audio_clips
from sparkcheck.planner import compile_suite

# Sizes for a 4-core box. A call's cost is mostly Spark's per-job planning,
# so smaller tables barely shorten it; these keep a warm call at 2.5 to 6 s
# of wall time, so that a run with its own Spark start, fixtures and warm-up
# fits the time the benchmark has.
META_ROWS = 20_000
META_FILES = 16
SNR_CLIPS = 2_000
DELTA_ROWS = 10_000
SINK_GROUPS = 1024
KEEP_FIXTURES = 12    # an ingest_audio set is ~20 MB

NOT_NULL = "expect_column_values_to_not_be_null"
REGEX = "expect_column_values_to_match_regex"
UNIQUE = "expect_column_values_to_be_unique"
BETWEEN = "expect_column_values_to_be_between"
IN_SET = "expect_column_values_to_be_in_set"
SNR = "expect_audio_snr_vs_reference_to_be_above"


def contract_suite(*, unique: bool = True) -> ExpectationSuite:
    """The north-star audio metadata contract (the same eleven expectations
    as the repository's headline suite). Catalyst prunes the binary column
    out of its scans. ``unique=False`` drops the uniqueness check, which
    is not mergeable across deltas that reuse clip ids."""
    s = (ExpectationSuite("audio_contract")
         .add(NOT_NULL, column="clip_id", mostly=0.999)
         .add(REGEX, column="clip_id", regex=r"^clip-[0-9]{10}$", mostly=0.99))
    if unique:
        s.add(UNIQUE, column="clip_id", mostly=0.99)
    return (s
            .add(BETWEEN, column="sr_hz", min_value=8000, max_value=48000,
                 mostly=0.999)
            .add(IN_SET, column="codec", value_set=["wav", "flac", "mp3", "opus"],
                 mostly=0.999)
            .add("expect_column_value_lengths_to_be_between", column="transcript",
                 min_value=5, max_value=400, mostly=0.99)
            .add(BETWEEN, column="dur_ms", min_value=200, max_value=30000)
            .add("expect_column_mean_to_be_between", column="dur_ms",
                 min_value=2000, max_value=5000)
            .add("expect_column_stdev_to_be_between", column="dur_ms",
                 min_value=100, max_value=5000)
            .add("expect_column_kl_divergence_to_be_less_than", column="dur_ms",
                 partition_object={
                     "bins": [200, 1500, 2500, 3500, 5000, 8000, 30000],
                     "weights": [0.18, 0.26, 0.20, 0.17, 0.12, 0.07]},
                 threshold=1.0, tail_weight_holdout=0.01)
            .add("expect_table_row_count_to_be_between", min_value=1))


def sink_suite() -> ExpectationSuite:
    """Three cheap count-decomposable checks with closed forms: the kind
    that gets per-group verdict rows on the sink path. Uniqueness and the
    aggregates are timed by contract_partitioned."""
    return (ExpectationSuite("audio_sink")
            .add(NOT_NULL, column="clip_id", mostly=0.999)
            .add(BETWEEN, column="sr_hz", min_value=8000, max_value=48000,
                 mostly=0.999)
            .add(IN_SET, column="codec", value_set=["wav", "flac", "mp3", "opus"],
                 mostly=0.999))


def expected_unexpected(n_rows: int) -> dict[tuple[str, str], int]:
    """(expectation type, column) -> closed-form unexpected_count."""
    e = expected_counts(n_rows)
    return {
        (NOT_NULL, "clip_id"): e["null_clip_id"],
        (REGEX, "clip_id"): e["bad_clip_id"] + e["orphan_clip_id"],
        (UNIQUE, "clip_id"): e["dup_rows_marked"],
        (BETWEEN, "sr_hz"): e["bad_sr"],
        (IN_SET, "codec"): e["bad_codec"],
    }


def check_evrs(results, suite: ExpectationSuite, n_rows: int, *,
               scale: int = 1) -> list[str]:
    """Mismatches between a suite result and the closed forms for
    ``scale`` copies of an ``n_rows`` fixture. Raised and missing
    expectations count."""
    want = expected_unexpected(n_rows)
    errs, seen = [], set()
    if len(results) != len(suite.expectations):
        errs.append(f"{len(results)} results for {len(suite.expectations)} "
                    "expectations")
    for evr in results:
        cfg = evr.expectation_config
        key = (cfg.expectation_type, cfg.kwargs.get("column"))
        if (evr.exception_info or {}).get("raised_exception"):
            errs.append(f"{key} raised: {evr.exception_info.get('exception_message')}")
            continue
        if key not in want:
            continue
        seen.add(key)
        got = evr.result.get("unexpected_count")
        if got != scale * want[key]:
            errs.append(f"{key} unexpected_count {got} != {scale * want[key]}")
        if evr.result.get("element_count") != scale * n_rows:
            errs.append(f"{key} element_count {evr.result.get('element_count')}"
                        f" != {scale * n_rows}")
    errs += [f"{k} has no result" for k in want.keys() - seen
             if any((e.expectation_type, e.kwargs.get("column")) == k
                    for e in suite.expectations)]
    return errs


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Workload:
    """Subclasses set ``name`` and implement the fixture, the call and its
    check. ``rows`` is the input row count one call validates."""

    name = ""
    rows = 0

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.fixtures = os.path.join(
            work, "fixtures", f"{self.name}-{self.rows}-s{seed}")
        self.scratch = os.path.join(work, "runs", f"{self.name}-{os.getpid()}")

    # fixtures are reused across runs, keyed by (workload, rows, seed); the
    # KEEP_FIXTURES most recently used sets per workload stay on disk
    def prepare(self) -> None:
        ready = os.path.join(self.fixtures, "_READY")
        if os.path.exists(ready):
            os.utime(ready)
            return
        tmp = self.fixtures + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        self.generate(tmp)
        open(os.path.join(tmp, "_READY"), "w").close()
        shutil.rmtree(self.fixtures, ignore_errors=True)
        os.replace(tmp, self.fixtures)
        parent = os.path.dirname(self.fixtures)
        mine = [os.path.join(parent, d) for d in os.listdir(parent)
                if d.startswith(self.name + "-")
                and os.path.exists(os.path.join(parent, d, "_READY"))]
        mine.sort(key=lambda d: os.path.getmtime(os.path.join(d, "_READY")))
        for old in mine[:-KEEP_FIXTURES]:
            shutil.rmtree(old, ignore_errors=True)

    def generate(self, out: str) -> None:
        raise NotImplementedError

    def open(self) -> None:
        """Read the fixture tables; the timed phase reuses what this opens."""
        raise NotImplementedError

    def control_table(self):
        raise NotImplementedError

    def start_timed(self) -> None:
        """Reset per-run state before the timed phase."""

    def call(self, tr) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def rows_for(self, layer: str) -> int:
        """Rows of the table the layer works on, the base of its per-row
        ratios."""
        return self.rows

    def plan_stats(self) -> dict:
        """compile_suite on the workload's suite, timed on its own: traced
        runs call it after each traced call (it launches no Spark job)."""
        t0 = time.perf_counter()
        plan = compile_suite(self.suite.expectations)
        return {"compile_ms": (time.perf_counter() - t0) * 1e3,
                "fused_slots": sum(len(dp.slot_table.exprs)
                                   for dp in plan.domains.values()),
                "domains": len(plan.domains)}

    def close(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)


class ContractPartitioned(Workload):
    name = "contract_partitioned"
    rows = META_ROWS

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.suite = contract_suite()

    def generate(self, out: str) -> None:
        (generate_audio_clips(self.spark, self.rows, seed=self.seed,
                              with_bytes=False, num_partitions=META_FILES)
         .write.parquet(os.path.join(out, "clips")))

    def open(self) -> None:
        self.clips = self.spark.read.parquet(os.path.join(self.fixtures, "clips"))

    def control_table(self):
        return self.clips

    def call(self, tr) -> dict:
        with tr.span("runner", "validate"):
            return {"result": validate(self.clips, self.suite, per_partition=True)}

    def check(self, out: dict) -> list[str]:
        res = out["result"]
        errs = check_evrs(res.results, self.suite, self.rows)
        # per-partition counts of every map item sum to its global count
        glob = {(e.expectation_config.expectation_type,
                 e.expectation_config.kwargs.get("column")):
                e.result.get("unexpected_count") for e in res.results}
        sums: dict = {}
        for pv in res.meta.get("partition_verdicts", []):
            if pv.get("kind") == "map" and pv.get("unexpected_count") is not None:
                k = (pv["expectation_type"], pv["domain"])
                sums[k] = sums.get(k, 0) + pv["unexpected_count"]
        if not sums:
            errs.append("no per-partition verdicts")
        for k, s in sums.items():
            if s != glob.get(k):
                errs.append(f"{k} partition sum {s} != global {glob.get(k)}")
        return errs


class IngestAudio(Workload):
    """One step of an audio ingest pipeline per call: append the new
    metadata delta, merge the table's incremental statistics, check the new
    audio batch against its clean references, and write the delta's
    per-group verdicts to a verdict store."""

    name = "ingest_audio"
    rows = DELTA_ROWS + SNR_CLIPS

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.suite = contract_suite(unique=False)
        self.snr = ExpectationSuite("snr").add(
            SNR, reference_table="ref", min_snr_db=30.0, mostly=0.99)
        self.sink = sink_suite()
        self.k = self.resets = 0

    def rows_for(self, layer: str) -> int:
        return SNR_CLIPS if layer == "metrics.audio" else DELTA_ROWS

    def generate(self, out: str) -> None:
        (generate_audio_clips(self.spark, DELTA_ROWS, seed=self.seed,
                              with_bytes=False, num_partitions=4)
         .write.parquet(os.path.join(out, "delta")))
        for sub, clean in (("dirty", False), ("ref", True)):
            (generate_audio_clips(self.spark, SNR_CLIPS, seed=self.seed,
                                  clean=clean, num_partitions=8)
             .write.parquet(os.path.join(out, sub)))

    def open(self) -> None:
        read = self.spark.read.parquet
        self.delta = read(os.path.join(self.fixtures, "delta"))
        self.dirty = read(os.path.join(self.fixtures, "dirty"))
        self.ref = read(os.path.join(self.fixtures, "ref"))
        self.start_timed()

    def control_table(self):
        return self.delta

    def start_timed(self) -> None:
        """A fresh table and stats store, so every run appends from zero
        snapshots."""
        self.k = 0
        self.resets += 1
        self.table = os.path.join(self.scratch, f"table-{self.resets}")
        self.store = os.path.join(self.scratch, f"stats-{self.resets}")
        self.inc = IncrementalCheckpoint(self.suite, self.store)
        if self.inc.unsupported():
            raise RuntimeError(f"suite not mergeable: {self.inc.unsupported()}")

    def call(self, tr) -> dict:
        self.k += 1
        with tr.span("io", "io.write_table"):
            write_table(self.delta, self.table, mode="append")
        with tr.span("incremental", "IncrementalCheckpoint.validate_table"):
            self.inc.validate_table(self.spark, self.table)
        with tr.span("incremental", "IncrementalCheckpoint.merged_result"):
            merged = self.inc.merged_result(self.spark)
        with tr.span("runner", "validate"):
            snr = validate(self.dirty, self.snr, tables={"ref": self.ref})
        verdicts = os.path.join(self.scratch, f"verdicts-{self.resets}-{self.k}")
        with tr.span("checkpoint", "Checkpoint.run_single_pass"):
            cp = Checkpoint(verdicts, self.sink, group_key="clip_id",
                            n_groups=SINK_GROUPS)
            cp.run_single_pass(self.delta, snapshot_id=f"snap-{self.k}",
                               distributed_verdicts=True)
        with tr.span("checkpoint", "Checkpoint.rollup"):
            rolled = cp.rollup(self.spark)
        return {"merged": merged, "snapshots": self.k, "snr": snr,
                "rollup": rolled, "verdicts": verdicts}

    def check(self, out: dict) -> list[str]:
        # merged counts equal the closed form summed over the appended deltas
        errs = check_evrs(out["merged"].results, self.suite, DELTA_ROWS,
                          scale=out["snapshots"])
        want_snr = expected_snr_summary(SNR_CLIPS)
        for evr in out["snr"].results:
            if (evr.exception_info or {}).get("raised_exception"):
                errs.append(f"snr raised: {evr.exception_info.get('exception_message')}")
                continue
            for k in ("element_count", "unexpected_count"):
                if evr.result.get(k) != want_snr[k]:
                    errs.append(f"snr {k} {evr.result.get(k)} != {want_snr[k]}")
        if len(out["snr"].results) != 1:
            errs.append("snr result missing")
        # the rollup sums the delta's per-group counts: it must equal the
        # delta's whole-table closed form
        want = expected_unexpected(DELTA_ROWS)
        seen = set()
        for r in out["rollup"].collect():
            key = (r["expectation_type"], r["domain"])
            seen.add(key)
            if r["unexpected_count"] != want.get(key):
                errs.append(f"{key} rollup unexpected {r['unexpected_count']}"
                            f" != {want.get(key)}")
            if r["element_count"] != DELTA_ROWS:
                errs.append(f"{key} rollup element_count {r['element_count']}"
                            f" != {DELTA_ROWS}")
            if r["n_groups"] < 2:
                errs.append(f"{key} has no per-group rows")
        errs += [f"{e.expectation_type} missing from rollup"
                 for e in self.sink.expectations
                 if (e.expectation_type, e.kwargs["column"]) not in seen]
        out["store_bytes"] = _dir_bytes(out["verdicts"])
        out["stats_bytes"] = _dir_bytes(os.path.join(self.store, "stats"))
        shutil.rmtree(out["verdicts"], ignore_errors=True)
        # bytes the engine persisted for this delta: its verdict store plus
        # its share of the stats store
        out["store_bytes_per_row"] = (
            out["store_bytes"] + out["stats_bytes"] / out["snapshots"]) / DELTA_ROWS
        return errs


WORKLOADS = {w.name: w for w in (ContractPartitioned, IngestAudio)}
