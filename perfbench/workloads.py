"""The three workloads. Each drives the engine's public API in a
closed loop (one call outstanding at a time) and checks every output
against the oracle in ``gen``.

A workload offers:

- ``make_inputs()``: write its seeded input tables. The runner calls
  it in every run, before set-up and outside any timing. Inputs are not
  cached, so that every run's JVM has done the same work when set-up
  starts;
- ``setup()``: one whole set-up (engines, dimensions, baseline
  profile, input frames); the runner repeats it and times each;
- ``measure(seconds)``: run ``warmup`` cycles, then timed cycles for
  ``seconds``; returns the ``perf_counter()`` time at which the first
  timed cycle starts and one checked ``Cycle`` per cycle run.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import functions as F

import gen
from probes import ProcessTreeCpu, dir_size, median

from sjot_spark.engine import ValidationEngine
from sjot_spark.manifest import GLOBAL_PART, load_violations, run_checkpointed
from sjot_spark.streaming.stream import run_foreach_batch


@dataclass
class Cycle:
    group: str  # job group, or streaming batch id, of its Spark jobs
    wall_s: float
    cpu_s: float
    rows: int
    ok: bool
    timed: bool  # False for a warm-up cycle


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    cpus: int
    tracer: object | None  # probes.Tracer in a traced run
    cpu: ProcessTreeCpu

    def input_path(self, name: str) -> str:
        return os.path.join(self.work, "inputs", name)

    def fresh_dir(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def job_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)


class SyncWorkload:
    """A workload whose cycle is one blocking call sequence."""

    ctx: Context
    warmup: int

    def cycle(self, i: int):
        """Run one cycle; returns what ``check`` needs."""
        raise NotImplementedError

    def check_all(self, outs: list, traces: list[dict]
                  ) -> list[tuple[int, bool]]:
        """(rows validated, outputs correct) for each cycle's result;
        may add layer figures to each cycle's trace."""
        raise NotImplementedError

    def measure(self, seconds: float):
        ctx, tracer, warmup = self.ctx, self.ctx.tracer, self.warmup
        runs = []
        i = 0
        while True:
            if i == warmup:
                t_timed = time.perf_counter()
                t_end = t_timed + seconds
            elif i > warmup and time.perf_counter() >= t_end:
                break
            ctx.job_group(f"cycle-{i}")
            if tracer:
                tracer.start_cycle()
            c0, t0 = ctx.cpu.seconds(), time.perf_counter()
            out = self.cycle(i)
            wall = time.perf_counter() - t0
            runs.append((wall, ctx.cpu.seconds() - c0, out))
            if tracer:
                tracer.end_cycle()
            i += 1
        # outputs are checked after the timed window, so checking
        # takes no cycles from it
        ctx.job_group("check")
        traces = tracer.cycles if tracer else [{} for _ in runs]
        checked = self.check_all([out for _, _, out in runs], traces)
        cycles = [Cycle(f"cycle-{i}", wall, cpu, rows, ok, i >= warmup)
                  for i, ((wall, cpu, _), (rows, ok))
                  in enumerate(zip(runs, checked))]
        if tracer:
            tracer.cycles = tracer.cycles[warmup:]
        return t_timed, cycles

    def traced_extras(self) -> dict[str, float]:
        return {}


class BulkAudit(SyncWorkload):
    """ValidationEngine.run over one unpartitioned table: violations
    to a parquet sink, verdicts collected."""

    rows = 120_000
    warmup = 5

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.table_rows = self.rows
        self.table = "bulk"
        self.layout = gen.Layout.for_seed(ctx.seed)
        blocks = self.rows // gen.PERIOD
        self.expected = self.layout.violations(0, blocks)
        self.expected_rows = self.layout.source_counts(self.rows)
        self.expected_part = self.layout.violations_per_partition(blocks)

    def make_inputs(self) -> None:
        ctx = self.ctx
        gen.sequence_columns(
            ctx.spark.range(self.rows, numPartitions=2 * ctx.cpus), ctx.seed
        ).write.parquet(ctx.input_path(self.table))

    def setup(self) -> None:
        spark = self.ctx.spark
        self.engine = ValidationEngine(gen.BENCH_SPEC,
                                       assume_nonnull_elements=True)
        self.dims = {"allowed_sources": gen.allowed_sources(spark)}
        self.df = spark.read.parquet(self.ctx.input_path(self.table))

    def cycle(self, i: int):
        # one sink directory per cycle, laid out so that one read of
        # the sink root gets every cycle's rows with a ``cycle`` column
        sink = self.ctx.fresh_dir("sink", f"cycle={i}")
        res = self.engine.run(self.df, dims=self.dims)
        res.violations.write.mode("overwrite").parquet(sink)
        verdicts = res.verdicts.collect()
        res.violations.unpersist()
        return verdicts

    def check_all(self, outs, traces):
        got: dict[int, Counter] = {}
        for i, key, check_id in self.ctx.spark.read.parquet(
                os.path.join(self.ctx.work, "sink")).select(
                "cycle", "key", "check_id").collect():
            got.setdefault(i, Counter())[(key, check_id)] += 1
        return [self._check(got.get(i), verdicts)
                for i, verdicts in enumerate(outs)]

    def _check(self, got: Counter | None, verdicts) -> tuple[int, bool]:
        n_rows = {r["partition"]: r["n_rows"] for r in verdicts}
        n_viol = {r["partition"]: r["n_violations"] for r in verdicts}
        ok = (got == self.expected
              and n_rows == dict(self.expected_rows)
              and sum(n_rows.values()) == self.rows
              and n_viol == {p: self.expected_part.get(p, 0) for p in n_rows}
              and all((r["verdict"] == "fail") == (r["n_violations"] > 0)
                      for r in verdicts))
        return sum(n_rows.values()), ok


class PartitionCheckpoint(SyncWorkload):
    """run_checkpointed over a table laid out partitioned by source,
    with a drift clause against a stored, shifted baseline."""

    rows = 20_000
    warmup = 2

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.table_rows = self.rows
        self.table = "parts"
        self.baseline = "baseline"
        self.layout = gen.Layout.for_seed(ctx.seed)
        blocks = self.rows // gen.PERIOD
        self.expected = self.layout.violations(0, blocks)
        self.expected_rows = self.layout.source_counts(self.rows)
        unique = Counter(p for b in range(blocks)
                         for _, c, p in self.layout.block_violations(b)
                         if c == "doc_id_unique")
        self.expected_local = self.layout.violations_per_partition(blocks)
        self.expected_local.subtract(unique)
        self.expected_global = sum(unique.values()) + 1  # + drifted source

    def make_inputs(self) -> None:
        ctx = self.ctx
        ids = ctx.spark.range(self.rows, numPartitions=ctx.cpus)
        gen.sequence_columns(ids, ctx.seed).write.partitionBy(
            "source").parquet(ctx.input_path(self.table))
        gen.sequence_columns(ids, ctx.seed, shift_source=gen.SHIFTED_SOURCE
                             ).write.parquet(ctx.input_path(self.baseline))

    def setup(self) -> None:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        self.engine = ValidationEngine(gen.spec_with_drift(),
                                       assume_nonnull_elements=True)
        self.dims = {"allowed_sources": gen.allowed_sources(spark)}
        self.df = spark.read.parquet(self.ctx.input_path(self.table))
        t0 = time.perf_counter()
        profile = self.ctx.fresh_dir("profile")
        self.engine.save_profile(
            self.engine.profile(
                spark.read.parquet(self.ctx.input_path(self.baseline))),
            profile)
        self.baselines = self.engine.load_profile(spark, profile)
        if tracer:
            tracer.add("plan.profile_s", time.perf_counter() - t0)

    def cycle(self, i: int):
        out = self.ctx.fresh_dir("ckpt", f"cycle-{i}")
        manifest = run_checkpointed(self.engine, self.df, out,
                                    dims=self.dims, baselines=self.baselines)
        return out, manifest

    def check_all(self, outs, traces):
        return [self._check(out, trace) for out, trace in zip(outs, traces)]

    def _check(self, result, trace: dict) -> tuple[int, bool]:
        out, manifest = result
        size, files = dir_size(out)
        trace.update({
            "manifest.partition_s": median(
                e["wall_s"] for p, e in manifest.items() if p != GLOBAL_PART),
            "manifest.global_s":
                manifest.get(GLOBAL_PART, {}).get("wall_s", 0.0),
            "manifest.bytes_written": size,
            "manifest.files_written": files,
        })
        got = Counter(tuple(r) for r in load_violations(self.ctx.spark, out)
                      .select("key", "check_id").collect())
        local = {p: e for p, e in manifest.items() if p != GLOBAL_PART}
        glob = manifest.get(GLOBAL_PART, {})
        drift_failed = sorted(d["group"] for d in glob.get("drift", ())
                              if d["verdict"] == "fail")
        ok = (got == self.expected
              and {p: e["n_rows"] for p, e in local.items()}
              == dict(self.expected_rows)
              and {p: e["n_violations"] for p, e in local.items()}
              == {p: self.expected_local.get(p, 0) for p in local}
              and glob.get("n_violations") == self.expected_global
              and drift_failed == [gen.SHIFTED_SOURCE])
        return sum(e["n_rows"] for e in local.values()), ok


class StreamIngest:
    """run_foreach_batch over a rate-micro-batch source feeding the
    generator: full validation per micro-batch, violations appended
    to parquet."""

    rows_per_batch = 20_000
    warmup = 5

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.layout = gen.Layout.for_seed(ctx.seed)
        self.table_rows = 0  # no input table: rows come from the source

    def make_inputs(self) -> None:
        """Rows are generated inside each micro-batch."""

    def setup(self) -> None:
        spark = self.ctx.spark
        self.engine = ValidationEngine(gen.BENCH_SPEC,
                                       assume_nonnull_elements=True)
        self.dims = {"allowed_sources": gen.allowed_sources(spark)}
        rate = (spark.readStream.format("rate-micro-batch")
                .option("rowsPerBatch", self.rows_per_batch)
                .option("numPartitions", self.ctx.cpus).load())
        self.sdf = gen.sequence_columns(
            rate.select(F.col("value").alias("id")), self.ctx.seed)

    def measure(self, seconds: float):
        from pyspark.sql.streaming import StreamingQueryListener

        ctx, tracer, warmup = self.ctx, self.ctx.tracer, self.warmup
        sink = ctx.fresh_dir("stream", "sink")
        ckpt = ctx.fresh_dir("stream", "ckpt")
        progress: list[tuple[dict, float]] = []
        cond = threading.Condition()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                cpu = ctx.cpu.seconds()
                src = p.sources[0]
                with cond:
                    progress.append(({
                        "batch": p.batchId, "rows": p.numInputRows,
                        "start": _rate_offset(src.startOffset),
                        "end": _rate_offset(src.endOffset),
                        "ms": dict(p.durationMs)}, cpu))
                    cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        def wait_batches(n: int) -> None:
            with cond:
                cond.wait_for(lambda: len(progress) >= n, timeout=120)
            if len(progress) < n:
                raise RuntimeError("stream made no progress")

        listener = Listener()
        ctx.spark.streams.addListener(listener)
        cpu0 = ctx.cpu.seconds()
        if tracer:
            tracer.start_cycle()
        query = run_foreach_batch(self.engine, self.sdf, sink, dims=self.dims,
                                  checkpoint=ckpt, trigger_available_now=False)
        try:
            # the first timed batch starts once the last warm-up batch
            # has ended; its progress event arrives a moment later
            wait_batches(warmup)
            t_timed = time.perf_counter()
            t_end = t_timed + seconds
            n = warmup
            while time.perf_counter() < t_end:
                n += 1
                wait_batches(n)
        finally:
            query.stop()
            ctx.spark.streams.removeListener(listener)
        if tracer:
            tracer.end_cycle()
        with cond:
            done = list(progress[:n])
        self.sink, self.batches = sink, [p for p, _ in done]
        cpus = [cpu0] + [c for _, c in done]
        ok = self._check()
        cycles = [
            Cycle(str(p["batch"]), p["ms"]["triggerExecution"] / 1e3,
                  cpus[i + 1] - cpus[i],
                  p["end"] - p["start"], ok[i], i >= warmup)
            for i, (p, _) in enumerate(done)]
        if tracer:
            # a traced segment runs from one batch's engine.run call to
            # the next; segment 0 holds the query start
            segs = tracer.cycles[1:]
            tracer.cycles = segs[warmup:n]
            for seg, p in zip(tracer.cycles, self.batches[warmup:]):
                seg.update({
                    "streaming.add_batch_s": p["ms"].get("addBatch", 0) / 1e3,
                    "streaming.commit_s": (p["ms"].get("walCommit", 0)
                                           + p["ms"].get("commitOffsets", 0))
                    / 1e3,
                    "streaming.query_planning_s":
                        p["ms"].get("queryPlanning", 0) / 1e3,
                    # rows the source produced for all scans of the batch
                    "streaming.source_rows_read": p["rows"],
                })
        return t_timed, cycles

    def _check(self) -> list[bool]:
        """Per batch, in order: its id follows the one before it from
        0; its source offsets follow on from the batch before and span
        ``rows_per_batch`` ids; and the sink holds exactly the
        violations planted in those ids."""
        rows = self.ctx.spark.read.parquet(self.sink + "/violations").select(
            "batch_id", "key", "check_id").collect()
        got: dict[int, Counter] = {}
        for b, k, c in rows:
            got.setdefault(b, Counter())[(k, c)] += 1
        ok, prev_end = [], 0
        for i, p in enumerate(self.batches):
            start, end = p["start"], p["end"]
            ok.append(
                p["batch"] == i and start == prev_end
                and end - start == self.rows_per_batch
                and start % gen.PERIOD == 0
                and got.get(p["batch"], Counter()) == self.layout.violations(
                    start // gen.PERIOD, (end - start) // gen.PERIOD))
            prev_end = end
        return ok

    def traced_extras(self) -> dict[str, float]:
        size, _ = dir_size(self.sink)
        return {"streaming.sink_bytes": size / max(len(self.batches), 1)}


def _rate_offset(offset: str | None) -> int:
    """Row offset of a ``rate-micro-batch`` source; the first batch's
    start offset reads ``None``."""
    if offset in (None, "None"):
        return 0
    return json.loads(offset)["offset"]


WORKLOADS = {
    "bulk_audit": BulkAudit,
    "stream_ingest": StreamIngest,
    "partition_checkpoint": PartitionCheckpoint,
}
