"""The three workloads. Each is a closed loop with one client, driven
only through dexspark's public API, and records raw samples into a
``Record``; ``run.py`` turns the samples into metrics.

Every workload has a write side and a read side, because both are
what a user of a CDC lake waits for: how fast a backlog drains, and
how soon what it committed can be read.

- ``bulk_cow``: each unit replays the whole pre-landed log into a fresh
  copy-on-write table with one ``run_available()`` (one trigger), then
  reads the result.
- ``trickle_mor``: each unit lands the same small segments into a fresh
  merge-on-read table (with quarantine, maintenance policy and one
  aggregate view) and drains them with one ``run_available()``, one
  trigger per segment, then reads.
- ``read_mix``: a seeded sequence of lookups, counts, scans, small MOR
  writes and periodic maintenance against one table loaded during
  set-up and left with outstanding deltas.

On ``bulk_cow`` and ``trickle_mor`` every unit does the same work on
the same data, so ``--seconds`` decides how many samples a run takes,
never how much data a sample is taken on.
"""

from __future__ import annotations

import itertools
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

import oracle
from spans import StreamProgress, Tracer

# sizes per workload; "tiny" is the smoke test's
SIZES: dict[str, dict[str, dict[str, int]]] = {
    "full": {
        "bulk_cow": {"events": 1_500_000, "segments": 4, "buckets": 16, "read_rounds": 4,
                     "lookups": 2},
        "trickle_mor": {"segment_events": 2_000, "segments": 4, "warm_segments": 1,
                        "convs": 400, "buckets": 4, "read_rounds": 8, "lookups": 2},
        "read_mix": {"base_events": 40_000, "write_events": 1_000, "writes": 40,
                     "convs": 400, "buckets": 16},
    },
    "tiny": {
        "bulk_cow": {"events": 6_000, "segments": 2, "buckets": 4, "read_rounds": 2,
                     "lookups": 2},
        "trickle_mor": {"segment_events": 500, "segments": 3, "warm_segments": 1,
                        "convs": 30, "buckets": 4, "read_rounds": 2, "lookups": 2},
        "read_mix": {"base_events": 3_000, "write_events": 200, "writes": 12,
                     "convs": 30, "buckets": 4},
    },
}

LOG_DDL = (
    "lsn long, op string, batch_seq long, conv_id string, turn_idx int, "
    "role string, text string, tool string, ts timestamp"
)
PAYLOAD_DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
VIEW_GROUP, VIEW_SUMS = ["conv_id"], {"sum_len": "length(text)"}
# read_mix: one unit is a seeded shuffle of this block; every fourth
# write is followed by a maintain()
MIX_BLOCK = ["lookup"] * 5 + ["count", "scan"] + ["write"] * 3


@dataclass
class Record:
    """Raw samples of one run. Times are seconds."""

    prepare_s: float = 0.0
    ingest: list[tuple[int, float]] = field(default_factory=list)  # events, wall
    cycles: list[float] = field(default_factory=list)
    writes: list[float] = field(default_factory=list)
    ops: list[dict[str, Any]] = field(default_factory=list)  # read-side and mix operations
    read_phase_s: float = 0.0
    read_phase_ops: int = 0
    units: list[dict[str, Any]] = field(default_factory=list)
    windows: list[tuple[float, float]] = field(default_factory=list)  # run_available calls
    unit_walls: list[float] = field(default_factory=list)
    checks: dict[str, bool] = field(default_factory=dict)
    failed_ops: int = 0
    table_dir: str = ""
    info: dict[str, Any] = field(default_factory=dict)

    SAMPLES = ("ingest", "cycles", "writes", "ops", "read_phase_s", "read_phase_ops",
               "units", "windows", "unit_walls")

    def reset_samples(self) -> dict[str, Any]:
        """Set the samples aside (warm-up and baseline units) and return
        them."""
        fresh = Record()
        old = {name: getattr(self, name) for name in self.SAMPLES}
        for name in self.SAMPLES:
            setattr(self, name, getattr(fresh, name))
        return old


class Bench:
    """What every workload needs: the session, the work directory, the
    seeded inputs, the closed loop and the tracer. In a traced run
    (``trace``) spans and stream counters are recorded once the loop
    has run its untraced baseline unit (``tracing``)."""

    def __init__(self, spark, work: str, seed: int, seconds: float, size: str,
                 tracer: Tracer, trace: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.tracer = tracer
        self.trace = trace
        self.tracing = False
        tracer.enabled = False
        self.progress: StreamProgress | None = None
        self.rng = random.Random(seed)
        self.rec = Record()
        self.nproc = int(spark.sparkContext.defaultParallelism)
        self._op_seq = 0

    def params(self, workload: str) -> dict[str, int]:
        return SIZES[self.size][workload]

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def mark(self, phase: str) -> None:
        """Wall time since the previous mark, recorded for the report."""
        now = time.perf_counter()
        phases = self.rec.info.setdefault("phases_s", {})
        phases[phase] = now - getattr(self, "_mark", now)
        self._mark = now

    def start_tracing(self) -> None:
        self.tracer.install()
        self.tracer.enabled = True
        self.progress = StreamProgress(self.spark)
        self.tracing = True

    def stop_tracing(self) -> None:
        if self.tracing:
            self.tracer.uninstall()
            self.tracer.enabled = False
            self.progress.close()
            self.tracing = False

    def measure(self, unit: Callable[[], None], min_units: int = 1) -> None:
        """The closed loop: run ``unit`` ``min_units`` times, and again
        while at least half of a typical unit still fits in ``--seconds``.
        A traced run brackets the traced units with untraced ones:
        ``min_units`` before the tracer is installed and one after it is
        removed; they are the baseline of ``trace.overhead_s``."""
        rec = self.rec

        def run_one() -> None:
            t0 = time.perf_counter()
            unit()
            rec.unit_walls.append(time.perf_counter() - t0)

        if self.trace:
            for _ in range(min_units):
                run_one()
            untraced = rec.reset_samples()["unit_walls"]
            self.start_tracing()
        deadline = time.perf_counter() + self.seconds
        while (len(rec.unit_walls) < min_units
               or deadline - time.perf_counter() > 0.5 * statistics.median(rec.unit_walls)):
            run_one()
        if self.trace:
            self.stop_tracing()
            traced = rec.reset_samples()
            run_one()
            untraced += rec.unit_walls
            for name, samples in traced.items():
                setattr(rec, name, samples)
            rec.info["untraced_unit_s"] = untraced

    def quiet(self):
        """Bookkeeping the benchmark does for itself is never traced."""
        return self.tracer.paused()

    def span(self, name: str):
        return self.tracer.span(name)

    # ---------------------------------------------------------- read ops
    def _job_group(self) -> str | None:
        if not self.tracing:
            return None
        self._op_seq += 1
        gid = f"perfbench-op-{self._op_seq}"
        self.spark.sparkContext.setJobGroup(gid, gid)
        return gid

    def _jobs(self, gid: str | None) -> int | None:
        if gid is None:
            return None
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(gid))

    def lookup(self, table, conv_id: str, epoch: int) -> None:
        gid = self._job_group()
        t0 = time.perf_counter()
        with self.span("op.lookup"):
            df = table.read(filters=[("conv_id", "=", conv_id)])
            rows = oracle.rows_of(df)
        wall = time.perf_counter() - t0
        op = {"kind": "lookup", "s": wall, "epoch": epoch, "arg": conv_id,
              "got": rows, "jobs": self._jobs(gid)}
        if self.tracing:
            with self.quiet():
                op["files"] = len(df.inputFiles())
                op["delta_files"] = sum(f.kind == "delta" for f in table.manifest().files)
        self.rec.ops.append(op)

    def count(self, table, epoch: int) -> None:
        gid = self._job_group()
        t0 = time.perf_counter()
        with self.span("op.count"):
            detail = table.count_rows(detail=True)
        wall = time.perf_counter() - t0
        self.rec.ops.append({"kind": "count", "s": wall, "epoch": epoch,
                             "got": detail["rows"], "detail": detail,
                             "jobs": self._jobs(gid)})

    def scan(self, table, epoch: int) -> None:
        gid = self._job_group()
        t0 = time.perf_counter()
        with self.span("op.scan"):
            row = table.read().agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("chars")
            ).first()
        wall = time.perf_counter() - t0
        self.rec.ops.append({"kind": "scan", "s": wall, "epoch": epoch,
                             "got": (int(row["n"]), int(row["chars"] or 0)),
                             "jobs": self._jobs(gid)})

    def read_unit(self, table, epoch: int, convs: list[str], rounds: int,
                  lookups: int) -> None:
        """The read side of a bulk/trickle unit: ``rounds`` times
        ``lookups`` point lookups, one row count and one full-table
        aggregate."""
        t0 = time.perf_counter()
        n0 = len(self.rec.ops)
        for _ in range(rounds):
            for _ in range(lookups):
                self.lookup(table, self.rng.choice(convs), epoch)
            self.count(table, epoch)
            self.scan(table, epoch)
        self.rec.read_phase_s += time.perf_counter() - t0
        self.rec.read_phase_ops += len(self.rec.ops) - n0

    # ---------------------------------------------------------- streaming
    def run_stream(self, replay, table, events: int, views=()) -> None:
        """One timed ``run_available()``. A trigger ends with the last
        commit it makes: its batch merge, then any compaction of the
        table and the refresh of each view in ``views``. Trigger cycles
        are the gaps between consecutive trigger ends, the first taken
        from the call, all read from ``committed_at`` after the run."""
        n_queries = len(self.progress.run_ids) if self.tracing else 0
        t_wall0 = time.time()
        t0 = time.perf_counter()
        n_results = len(replay.results)
        replay.run_available()
        wall = time.perf_counter() - t0
        t_wall1 = time.time()
        self.rec.ingest.append((events, wall))
        self.rec.windows.append((t_wall0, t_wall1))
        with self.quiet():
            commits = sorted(
                (m.committed_at, "batch_id" in m.summary and t is table)
                for t in (table, *views)
                for m in t.history()
                if m.committed_at >= t_wall0
            )
        ends: list[float] = []
        for at, is_batch in commits:
            if is_batch:
                ends.append(at)
            elif ends:
                ends[-1] = at
        prev = t_wall0
        for end in ends:
            self.rec.cycles.append(end - prev)
            prev = end
        new = replay.results[n_results:]
        self.rec.writes.extend(r["metrics"]["wall_sec"] for r in new if "metrics" in r)
        unit = {"triggers": len(ends), "results": new, "table_dir": table.table_dir}
        if self.tracing:
            self._stream_counters(unit, len(ends), n_queries)
        self.rec.units.append(unit)

    def _stream_counters(self, unit: dict[str, Any], triggers: int, n_queries: int) -> None:
        """Per-run_available stream counters from Spark's public APIs:
        the listener's progress and the query's job group."""
        deadline = time.monotonic() + 10
        while len(self.progress.run_ids) <= n_queries and time.monotonic() < deadline:
            time.sleep(0.02)
        run_id = self.progress.run_ids[n_queries]
        self.progress.wait_for(run_id, triggers)
        prog = [p for p in self.progress.progress if p["run_id"] == run_id]
        unit["progress"] = prog
        unit["jobs"] = len(
            self.spark.sparkContext.statusTracker().getJobIdsForGroup(run_id)
        )


# ------------------------------------------------------------------ helpers
def _stage_segments(log, staged_dir: str) -> list[str]:
    """Write one parquet file per ``batch_seq`` value (a segment); return
    the files in segment order."""
    (
        log.withColumn("_seg", F.col("batch_seq"))
        .repartition("_seg")
        .write.partitionBy("_seg")
        .parquet(staged_dir)
    )
    n = sum(d.startswith("_seg=") for d in os.listdir(staged_dir))
    files = []
    for seg in range(n):
        d = os.path.join(staged_dir, f"_seg={seg}")
        (name,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        files.append(os.path.join(d, name))
    return files


def _land(segment_files: list[str], log_dir: str) -> None:
    """Copy the segments into the tailed log dir, as a producer landing
    files would, stamped a second apart so that the stream takes them
    oldest first."""
    os.makedirs(log_dir)
    now = time.time()
    for k, src in enumerate(segment_files):
        dst = os.path.join(log_dir, f"seg-{k:05d}.parquet")
        shutil.copyfile(src, dst)
        stamp = now - len(segment_files) + k
        os.utime(dst, (stamp, stamp))


def _collect_valid(df, epoch_col: str):
    return (
        df.filter(F.col("expect_reason").isNull())
        .select("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts",
                F.col(epoch_col).cast("int").alias("epoch"))
        .collect()
    )


def _expected_counts(v) -> dict[int, tuple[int, int]]:
    """Per micro-batch (``_mb``): (applied, rejected) — applied is the
    number of distinct keys among valid events, as dedup keeps one
    event per key."""
    rows = (
        v.groupBy("_mb")
        .agg(
            F.countDistinct(
                F.when(F.col("expect_reason").isNull(), F.struct("conv_id", "turn_idx"))
            ).alias("applied"),
            F.count(F.col("expect_reason")).alias("rejected"),
        )
        .collect()
    )
    return {int(r["_mb"]): (int(r["applied"]), int(r["rejected"])) for r in rows}


def _check_reads(b: Bench, state) -> None:
    """Every read op's answer against the oracle at the op's epoch."""
    for op in sorted(b.rec.ops, key=lambda o: o["epoch"]):
        state.advance(op["epoch"])
        if op["kind"] == "lookup":
            ok = op["got"] == state.lookup(op["arg"])
        elif op["kind"] == "count":
            ok = op["got"] == state.count()
        elif op["kind"] == "scan":
            ok = op["got"] == state.scan()
        else:
            ok = op.get("ok", True)
        op["ok"] = ok
        if not ok:
            b.rec.failed_ops += 1
    b.rec.checks["reads_match_oracle"] = all(op["ok"] for op in b.rec.ops)
    for op in b.rec.ops:  # rows are checked; keep the record small
        op.pop("got", None)


def _expected_final(v):
    from dexspark.cdc.generator import expected_final_state

    return expected_final_state(v, valid_only=v.filter(F.col("expect_reason").isNull()))


# ------------------------------------------------------------------ bulk_cow
def bulk_cow(b: Bench) -> Record:
    from dexspark.cdc.generator import gen_change_log
    from dexspark.lake.table import LakeTable
    from dexspark.streaming.replay import CdcStreamReplay

    p = b.params("bulk_cow")
    spark, rec = b.spark, b.rec
    t0 = time.perf_counter()
    b.mark("start")
    n_convs = max(20, p["events"] // 200)

    # a few files per segment, each a range of the log, so the scan
    # parallelizes across cores
    log_dir = b.path("log")
    gen_change_log(spark, p["events"], n_convs=n_convs, n_batches=p["segments"],
                   hot_conv_pct=5, seed=b.seed, partitions=p["segments"] * b.nproc
                   ).write.parquet(log_dir)
    # the warm-up replays the first eighth of the log
    warm_dir = b.path("warm_log")
    os.makedirs(warm_dir)
    files = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    for f in files[: max(1, len(files) // 8)]:
        os.link(os.path.join(log_dir, f), os.path.join(warm_dir, f))
    convs = [f"conv_{i}" for i in range(n_convs)]
    seq = itertools.count()
    made: list[tuple[Any, Any]] = []

    def unit(src: str, read_rounds: int) -> None:
        i = next(seq)
        table = LakeTable.create(spark, b.path(f"t{i}"), _parse_datatype_string(PAYLOAD_DDL),
                                 "conv_id", p["buckets"])
        replay = CdcStreamReplay(spark, table, src, b.path(f"cp{i}"),
                                 _parse_datatype_string(LOG_DDL), salt_buckets=None,
                                 strategy="cow")
        b.run_stream(replay, table, p["events"])
        b.read_unit(table, 0, convs, read_rounds, p["lookups"])
        made.append((table, replay))

    b.mark("generate")
    # warm-up, unrecorded: a smaller replay and one round of reads (read
    # latencies still fall over a run's first few reads). The first full
    # replay after it still runs about 30% slower than the second, and a
    # full-size warm-up did not change that, so every run measures two.
    unit(warm_dir, 1)
    made.clear()
    rec.reset_samples()
    rec.prepare_s = time.perf_counter() - t0
    b.mark("warm_up")

    b.measure(lambda: unit(log_dir, p["read_rounds"]), min_units=2)
    rec.table_dir = made[-1][0].table_dir

    b.mark("measure")
    # ---- checks, outside the timing: the counts and reads of every
    # measured replay (the units' tables are alike), the last one's table
    with b.quiet():
        log = spark.read.schema(_parse_datatype_string(LOG_DDL)).parquet(log_dir)
        v = oracle.verdicts(log.withColumn("_mb", F.lit(0)), "_mb").persist()
        final = _expected_final(v).persist()
        rec.checks["final_table_matches_oracle"] = oracle.table_equals(
            made[-1][0].read(), final
        )
        expected = _expected_counts(v)[0]
        rec.checks["applied_rejected_match_oracle"] = all(
            [(r["applied"], r["rejected"]) for r in replay.results if "applied" in r]
            == [expected]
            for _, replay in made
        )
        rec.info["applied"], rec.info["rejected"] = expected
        state = oracle.FinalState(final, {op["arg"] for op in rec.ops if "arg" in op})
        final.unpersist()
        v.unpersist()
        _check_reads(b, state)
    b.mark("check")
    return rec


# --------------------------------------------------------------- trickle_mor
def trickle_mor(b: Bench) -> Record:
    from dexspark.cdc.generator import gen_change_log
    from dexspark.cdc.validate import REASON_COL
    from dexspark.lake.matview import AggViewSpec, create_agg_view
    from dexspark.lake.table import LakeTable
    from dexspark.streaming.replay import CdcStreamReplay

    p = b.params("trickle_mor")
    spark, rec = b.spark, b.rec
    t0 = time.perf_counter()
    b.mark("start")
    log = gen_change_log(
        spark, p["segments"] * p["segment_events"], n_convs=p["convs"],
        n_batches=p["segments"], seed=b.seed, bad_role_pct=1, ts_violation_pct=1,
    )
    segment_files = _stage_segments(log, b.path("staged"))
    convs = [f"conv_{i}" for i in range(p["convs"])]
    seq = itertools.count()
    made: list[dict[str, Any]] = []

    def unit(segments: int, read_rounds: int) -> None:
        """A fresh table, quarantine and view; ``segments`` segments
        landed and drained, one trigger each; then the reads."""
        d = b.path(f"u{next(seq)}")
        table = LakeTable.create(spark, os.path.join(d, "table"),
                                 _parse_datatype_string(PAYLOAD_DDL), "conv_id", p["buckets"])
        quarantine = LakeTable.create(
            spark, os.path.join(d, "quarantine"),
            _parse_datatype_string(f"{LOG_DDL}, {REASON_COL} string, batch_id string"),
            "conv_id", 4,
        )
        view = create_agg_view(spark, os.path.join(d, "view"), table, VIEW_GROUP,
                               VIEW_SUMS, 4)
        log_dir = os.path.join(d, "log")
        _land(segment_files[:segments], log_dir)
        replay = CdcStreamReplay(
            spark, table, log_dir, os.path.join(d, "cp"), _parse_datatype_string(LOG_DDL),
            quarantine=quarantine, max_files_per_trigger=1, strategy="mor",
            views=[AggViewSpec(view, VIEW_GROUP, VIEW_SUMS)], maintain_policy={},
        )
        b.run_stream(replay, table, segments * p["segment_events"], views=[view])
        # every read sees all the segments: epoch segments - 1
        b.read_unit(table, segments - 1, convs, read_rounds, p["lookups"])
        made.append({"table": table, "quarantine": quarantine, "view": view,
                     "replay": replay, "log_dir": log_dir})

    b.mark("generate")
    # warm-up, unrecorded: a unit with fewer segments and one round of
    # reads; read latencies still fall over the first few reads of a run
    unit(p["warm_segments"], 1)
    made.clear()
    rec.reset_samples()
    rec.prepare_s = time.perf_counter() - t0
    b.mark("warm_up")

    b.measure(lambda: unit(p["segments"], p["read_rounds"]))
    rec.table_dir = made[-1]["table"].table_dir

    b.mark("measure")
    # ---- checks, outside the timing, on every measured unit
    with b.quiet():
        # every unit lands the same segments
        src = spark.read.schema(_parse_datatype_string(LOG_DDL)).parquet(made[0]["log_dir"])
        v = oracle.verdicts(src.withColumn("_mb", F.col("batch_seq")), "_mb").persist()
        final = _expected_final(v).persist()
        rejects = v.filter(F.col("expect_reason").isNotNull()).select(
            "lsn", F.col("expect_reason").alias(REASON_COL)
        )
        expected = tuple(map(sum, zip(*_expected_counts(v).values())))
        checks = {"final_table_matches_oracle": [], "quarantine_holds_each_reject_once": [],
                  "view_matches_recompute": [], "applied_rejected_match_oracle": []}
        for u in made:
            checks["final_table_matches_oracle"].append(
                oracle.table_equals(u["table"].read(), final))
            q = u["quarantine"].read().select("lsn", REASON_COL)
            checks["quarantine_holds_each_reject_once"].append(oracle.same_rows(q, rejects))
            recompute = u["table"].read().groupBy(*VIEW_GROUP).agg(
                F.count(F.lit(1)).alias("n_rows"), F.sum(F.length("text")).alias("sum_len")
            )
            got_view = u["view"].read().select("conv_id", "n_rows", "sum_len")
            checks["view_matches_recompute"].append(oracle.same_rows(got_view, recompute))
            results = [r for r in u["replay"].results
                       if "applied" in r and not r.get("skipped")]
            got = (sum(r["applied"] for r in results), sum(r["rejected"] for r in results))
            checks["applied_rejected_match_oracle"].append(
                len(results) == p["segments"] and got == expected)
        rec.checks.update({k: all(oks) for k, oks in checks.items()})
        rec.info["applied"], rec.info["rejected"] = expected
        state = oracle.ExpectedState(_collect_valid(v, "_mb"))
        final.unpersist()
        v.unpersist()
        _check_reads(b, state)
    b.mark("check")
    return rec


# ------------------------------------------------------------------ read_mix
def read_mix(b: Bench) -> Record:
    from dexspark.cdc import apply as cdc_apply
    from dexspark.cdc.generator import gen_change_log
    from dexspark.lake.table import LakeTable

    p = b.params("read_mix")
    spark, rec = b.spark, b.rec
    t0 = time.perf_counter()
    b.mark("start")
    base = gen_change_log(spark, p["base_events"], n_convs=p["convs"], n_batches=4,
                          seed=b.seed)
    writes = gen_change_log(
        spark, p["writes"] * p["write_events"], n_convs=p["convs"],
        n_batches=p["writes"], seed=b.seed + 1,
    ).withColumn("lsn", F.col("lsn") + p["base_events"]).withColumn(
        "batch_seq", F.col("batch_seq") + 4
    )
    batches = b.path("batches")
    base.unionByName(writes).write.partitionBy("batch_seq").parquet(batches)
    payload = _parse_datatype_string("lsn long, op string, " + PAYLOAD_DDL)

    def batch(k: int):
        return spark.read.schema(payload).parquet(os.path.join(batches, f"batch_seq={k}"))

    table = LakeTable.create(spark, b.path("table"), _parse_datatype_string(PAYLOAD_DDL),
                             "conv_id", p["buckets"])
    # loaded once: a COW base, then three MOR batches left as deltas
    for k in range(4):
        cdc_apply.apply_changes(table, batch(k), batch_id=f"base-{k}",
                                strategy="cow" if k == 0 else "mor")
    convs = [f"conv_{i}" for i in range(p["convs"])]
    next_write = 0

    def write() -> None:
        nonlocal next_write
        k = next_write
        next_write += 1
        t_op = time.perf_counter()
        with b.span("op.write"):
            res = cdc_apply.apply_changes(table, batch(4 + k), batch_id=f"w-{k}",
                                          strategy="mor")
        end = time.perf_counter()
        rec.writes.append(end - t_op)
        rec.ingest.append((p["write_events"], end - t_op))
        rec.ops.append({"kind": "write", "s": end - t_op, "end": end, "epoch": k + 1,
                        "applied": res["applied"], "rejected": res["rejected"]})

    def maintain() -> None:
        t_op = time.perf_counter()
        with b.span("op.maintain"):
            table.maintain()
        rec.ops.append({"kind": "maintain", "s": time.perf_counter() - t_op,
                        "epoch": next_write})

    def step(kind: str) -> None:
        if kind == "write" and next_write >= p["writes"]:
            kind = "lookup"
        if kind == "lookup":
            b.lookup(table, b.rng.choice(convs), next_write)
        elif kind == "count":
            b.count(table, next_write)
        elif kind == "scan":
            b.scan(table, next_write)
        else:
            write()
            if next_write % 4 == 0:
                maintain()

    def block() -> None:
        # a seeded shuffle of a fixed block, so every kind is sampled
        # however short the run
        kinds = list(MIX_BLOCK)
        b.rng.shuffle(kinds)
        for kind in kinds:
            step(kind)

    b.mark("generate")
    # warm-up: one of each operation
    for kind in ("lookup", "count", "scan", "write"):
        step(kind)
    rec.reset_samples()
    rec.prepare_s = time.perf_counter() - t0
    b.mark("warm_up")

    b.measure(block)
    rec.read_phase_s = sum(rec.unit_walls)
    rec.read_phase_ops = sum(op["kind"] != "maintain" for op in rec.ops)
    ends = [op["end"] for op in rec.ops if op["kind"] == "write"]
    rec.cycles = [b1 - a1 for a1, b1 in zip(ends, ends[1:])]
    rec.table_dir = table.table_dir
    rec.info["write_events"] = p["write_events"]

    b.mark("measure")
    # ---- checks, outside the timing
    with b.quiet():
        src = spark.read.schema(_parse_datatype_string(LOG_DDL)).parquet(batches).filter(
            F.col("batch_seq") < 4 + next_write
        )
        v = oracle.verdicts(src.withColumn("_mb", F.col("batch_seq")), "_mb").persist()
        rec.checks["final_table_matches_oracle"] = oracle.table_equals(
            table.read(), _expected_final(v)
        )
        expected = _expected_counts(v)
        for op in rec.ops:
            if op["kind"] == "write":
                op["ok"] = (op["applied"], op["rejected"]) == expected[3 + op["epoch"]]
        rec.checks["applied_rejected_match_oracle"] = all(
            op["ok"] for op in rec.ops if op["kind"] == "write"
        )
        # epoch 0 is the loaded base (batches 0-3); write k is epoch k+1
        state = oracle.ExpectedState(
            _collect_valid(v.withColumn("_ep", F.greatest(F.col("_mb") - 3, F.lit(0))), "_ep")
        )
        v.unpersist()
        _check_reads(b, state)
    b.mark("check")
    return rec


WORKLOADS = {"bulk_cow": bulk_cow, "trickle_mor": trickle_mor, "read_mix": read_mix}
