"""One benchmark run: set up, warm up, time one workload, check every
output, and return the result line plus a detail record.

Run protocol (``perfbench/BENCHMARK.md`` gives the measurements behind
it):

* ``local[n]`` with ``n`` = the CPUs this process may use, and ``n``
  shuffle partitions, both set explicitly;
* every file the run writes (input, tiers, Spark local dirs, temp files)
  lives under one I/O directory named on the command line;
* set-up builds the session, writes the seeded input, fits the plan,
  runs a full-size warm-up job and warm-up reads, then lets the JVM's
  background work settle;
* the timed job commits into a fresh output base, or appends a run to
  the warm-up's base when the workload's runs share one;
* read latency is reported as a per-run median; every raw value is kept
  in the detail record.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import sys
import time
import traceback

import numpy as np

from . import host, stats, trace
from . import workloads as W

#: engine settings read from the environment; cleared so every run takes
#: the default code path
_ENGINE_ENV = (
    "SPARK_GRAFT_EXEC", "SPARK_GRAFT_TOKEN_BUDGET", "SPARK_GRAFT_CARRY",
    "SPARK_GRAFT_CATALOG", "SPARK_GRAFT_CPUS",
)
KERNEL_SAMPLE_DOCS = 1024
JVM_HEAP = "2g"
QUIESCE_S = 1.5
WARMUP_READS = 3
# a fixed read count: a time-bounded loop would make more reads in fast
# runs, and later reads are faster, coupling read latency to job speed
MIN_READS = 12


class Run:
    def __init__(self, workload: str, seed: int, seconds: int,
                 trace_on: bool, io_dir: str) -> None:
        self.wl = W.WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace_on = trace_on
        self.cores = len(os.sched_getaffinity(0))
        self.io_dir = os.path.abspath(io_dir)
        self.root = os.path.join(
            self.io_dir, "work", f"{workload}-s{seed}-t{int(trace_on)}"
        )
        self.tracer = trace.Tracer(
            f"{workload}-s{seed}", enabled=trace_on
        )
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.failed = 0
        self.detail: dict = {
            "workload": workload, "seed": seed, "seconds": seconds,
            "trace": int(trace_on), "cores": self.cores,
        }

    # -- the run --------------------------------------------------------------

    def execute(self) -> tuple[dict, dict]:
        """Returns (result line, detail record)."""
        self._env()
        try:
            with host.RssSampler() as rss:
                try:
                    self._setup()
                    setup_s = host.process_age()
                    cpu0 = host.cpu_snapshot()
                    self.tracer.phase = "timed"
                    self._timed()
                    self.detail["host"] = stats.cpu_fractions(
                        cpu0, host.cpu_snapshot()
                    )
                    if self.trace_on:
                        layers = self._spark_layers()
                finally:
                    self._close()
            self.detail["rss_samples"] = rss.samples
            self.detail["peak_rss_by_process"] = rss.peak_by_process
            if self.trace_on:
                layers.update(self._per_layer())
                metrics = layers
                self._write_spans()
            else:
                metrics = self._end_to_end(setup_s, rss.peak_bytes)
        finally:
            shutil.rmtree(self.root, ignore_errors=True)
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        self.detail["failures"] = self.failures
        return result, self.detail

    def _env(self) -> None:
        for k in _ENGINE_ENV:
            os.environ.pop(k, None)
        if os.path.exists(self.root):
            shutil.rmtree(self.root)
        for sub in ("tmp", "spark-local", "warehouse", "out"):
            os.makedirs(os.path.join(self.root, sub))
        os.environ["TMPDIR"] = os.path.join(self.root, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.root, "spark-local")
        # Python workers import the engine from this checkout, whatever
        # their working directory
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        self.detail["io"] = {"dir": self.io_dir,
                             **host.filesystem_of(self.io_dir)}

    def _session(self):
        from fruits_spark.engine.session import build_session

        extra = {
            "spark.driver.memory": JVM_HEAP,
            "spark.local.dir": os.path.join(self.root, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-Dio.netty.tryReflectionSetAccessible=true "
                f"-Djava.io.tmpdir={os.path.join(self.root, 'tmp')} "
                # a fixed, pre-touched heap: peak RSS then moves with the
                # Python side and off-heap use, not with G1's resizing
                f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if self.trace_on else "false",
        }
        if self.trace_on:
            extra.update({
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "10000000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        spark = build_session(
            master=f"local[{self.cores}]", shuffle_partitions=self.cores,
            app=f"perfbench-{self.wl.name}", extra=extra,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def _close(self) -> None:
        """Stop Spark and wait until the JVM and every Python worker the
        run started has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = host.descendants(os.getpid())
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway else None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        self.spark = None

    # -- operations -----------------------------------------------------------

    def _op(self, kind: str, fn):
        """Run one checked operation; ``fn`` returns (value, failures).
        An operation that raises counts as failed."""
        self.attempted += 1
        try:
            value, fails = fn()
        except Exception:
            self.failed += 1
            self.failures.append(f"{kind}: {traceback.format_exc(limit=4)}")
            return None
        if fails:
            self.failed += 1
            self.failures.extend(f"{kind}: {f}" for f in fails)
        return value

    def _base(self, name: str) -> str:
        return os.path.join(self.root, "out", name)

    def _job(self, slot: int, base: str, run_id: str):
        toks = W.read_slot(self.spark, self.input, slot)
        out = W.rollup_job(
            self.spark, self.tracer, toks, self.fplan, base, run_id,
            self.wl.multivariate, stats=self.extract_stats,
        )
        docs, tokens = self.slots[slot]
        fails = W.check_job(base, run_id, docs, tokens, self.fc[0])
        out.update(W.job_sizes(base, run_id))
        out["points_per_s"] = tokens * self.n_streams / out["job_s"]
        return out, fails

    def _read(self, tiers, lo: int, hi: int, cells):
        t0 = time.perf_counter()
        got = W.routed_read(self.tracer, *tiers, lo, hi)
        dt = time.perf_counter() - t0
        ok = stats.route_answer_matches(
            got, stats.expected_route_answer(cells, lo, hi)
        )
        return dt, [] if ok else [f"routed read [{lo}, {hi}) != recompute"]

    def _maintain(self, base: str, runs: list[str]):
        out = W.maintain(self.spark, self.tracer, base, runs)
        return out, W.check_maintenance(base, out["retired"], runs[-1])

    def _ranges(self, salt: int):
        """Seeded fine-bucket ranges [lo, hi)."""
        rng = random.Random(self.seed * 7919 + salt)
        while True:
            lo = rng.randrange(0, W.BUCKETS_T1K - 1)
            yield lo, rng.randrange(lo + 1, W.BUCKETS_T1K + 1)

    # -- phases ---------------------------------------------------------------

    def _setup(self) -> None:
        from fruits_spark.engine.executor import feature_columns, plan_is_flat
        from fruits_spark.fit import fit_plan

        tr, d = self.tracer, self.detail
        with tr.span("setup.session") as sp:
            self.spark = self._session()
        d["setup.session_s"] = sp["s"]
        if self.trace_on:
            tr.spark = self.spark
        with tr.span("setup.datagen") as sp:
            self.input = os.path.join(self.root, "input")
            self.slots = W.write_input(
                self.wl, self.seed, self.input, files=2 * self.cores
            )
        d["setup.datagen_s"] = sp["s"]
        with tr.span("setup.fit") as sp:
            self.fplan = W.plan_for(self.wl)
            if not self.wl.multivariate:
                # fit_plan reads univariate token tables only; the
                # fallback plan has nothing to fit
                self.fplan = fit_plan(
                    W.read_slot(self.spark, self.input, 0), self.fplan
                )
            self.fc = feature_columns(self.fplan)
            self.n_streams = sum(s.n_streams() for s in self.fplan.slices)
        d["setup.fit_s"] = sp["s"]
        flat = plan_is_flat(self.fplan, 2 if self.wl.multivariate else 1)
        d["plan_is_flat"] = flat
        if flat == self.wl.multivariate:
            raise SystemExit(
                f"plan_is_flat is {flat} on {self.wl.name}: the workload "
                "no longer takes the extract branch it is meant to measure"
            )
        self.extract_stats = None
        tr.phase = "warmup"
        with tr.span("setup.warmup") as sp:
            self._warmup()
            self._quiesce()
        d["setup.warmup_s"] = sp["s"]

    def _warmup(self) -> None:
        """One full-size job, then reads on its base.  With a shared base
        the warm-up run stays in it (and is checked), so the timed job
        appends to a store that already holds a run; otherwise the base
        is discarded."""
        base = self._base("shared" if self.wl.shared_base else "warm")
        t0 = time.perf_counter()
        self._op("job", lambda: self._job(0, base, "w0"))
        job_s = time.perf_counter() - t0
        tiers = W.open_tiers(self.spark, base)
        ranges = self._ranges(salt=1)
        reads = []
        for _ in range(WARMUP_READS):
            t0 = time.perf_counter()
            W.routed_read(self.tracer, *tiers, *next(ranges))
            reads.append(time.perf_counter() - t0)
        self.detail["warmup"] = {"job_s": job_s, "read_s": reads}
        if not self.wl.shared_base:
            shutil.rmtree(base)

    def _quiesce(self) -> None:
        """Let lazy work started by the warm-up finish before timing:
        collect both heaps, then give the JIT's background compiler
        threads a moment to drain their queue."""
        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        time.sleep(QUIESCE_S)

    def _timed(self) -> None:
        """One job, then :data:`MIN_READS` routed reads (more only if
        ``seconds`` have not yet passed since the job started), then one
        maintenance pass, all on the job's base."""
        t_start = time.perf_counter()
        if self.trace_on:
            from fruits_spark.engine.executor import ExtractStats

            self.extract_stats = ExtractStats(self.spark)
        if self.wl.shared_base:
            # runs partition the corpus: the timed run reads its own slot
            slot, base, runs = 1, self._base("shared"), ["w0", "r0"]
        else:
            slot, base, runs = 0, self._base("timed"), ["r0"]
        self.job = self._op("job", lambda: self._job(slot, base, "r0"))
        if self.job is None:
            raise RuntimeError("the timed job raised:\n" + self.failures[-1])
        self.detail["job"] = self.job

        cells = W.fine_cells(base)
        tiers = W.open_tiers(self.spark, base)
        ranges = self._ranges(salt=2)
        reads, tried = [], 0
        while tried < MIN_READS or time.perf_counter() - t_start < self.seconds:
            lo, hi = next(ranges)
            dt = self._op("read", lambda: self._read(tiers, lo, hi, cells))
            tried += 1
            if dt is not None:
                reads.append(dt)
        if not reads:
            raise RuntimeError("every routed read raised:\n" + self.failures[-1])
        self.reads = reads
        self.detail["route_s"] = reads
        self.detail["route_p75_s"] = stats.percentile(reads, 75)
        # the highest percentile with ten reads beyond it, if any
        self.detail["route_tail_percentile"] = stats.tail_percentile(len(reads))

        self.maint = self._op("maintain", lambda: self._maintain(base, runs))
        if self.maint is None:
            raise RuntimeError("maintenance raised:\n" + self.failures[-1])
        self.detail["maintain"] = self.maint
        n_files, n_bytes = host.dir_usage(base)
        points = W.committed_points(base)
        self.detail["store"] = {"files": n_files, "bytes": n_bytes,
                                "points": points}
        self.detail["timed_s"] = time.perf_counter() - t_start

    # -- reporting ------------------------------------------------------------

    def _end_to_end(self, setup_s: float, peak_rss: int) -> dict:
        st = self.detail["store"]
        return {
            "setup_s": (setup_s, "s"),
            "job_s": (self.job["job_s"], "s"),
            "points_per_s": (self.job["points_per_s"], "1/s"),
            "route_p50_s": (stats.percentile(self.reads, 50), "s"),
            "maintain_s": (self.maint["maintain_s"], "s"),
            "store_bytes_per_point": (st["bytes"] / st["points"], "B"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
            "ok_frac": ((self.attempted - self.failed) / self.attempted,
                        "ratio"),
        }

    def _per_layer(self) -> dict:
        d, mt = self.detail, self.maint
        job, ex = self.job, self.extract_stats.as_dict()
        m = {
            "setup.session_s": (d["setup.session_s"], "s"),
            "setup.datagen_s": (d["setup.datagen_s"], "s"),
            "setup.fit_s": (d["setup.fit_s"], "s"),
            "setup.warmup_s": (d["setup.warmup_s"], "s"),
            "traced.job_s": (job["job_s"], "s"),
            "traced.route_p50_s": (stats.percentile(self.reads, 50), "s"),
            "executor.extract_s": (job["extract_s"], "s"),
            "executor.batches": (ex["batches"], "count"),
            "executor.rows": (ex["rows"], "count"),
            "executor.tokens": (ex["tokens"], "count"),
            "rollup.t1k_s": (job["t1k_s"], "s"),
            "rollup.t100k_s": (job["t100k_s"], "s"),
            "rollup.t1k_cells": (job["t1k_cells"], "count"),
            "rollup.t100k_cells": (job["t100k_cells"], "count"),
            "lineage.commit_s": (job["commit_s"], "s"),
            "lineage.cells_committed": (job["cells_committed"], "count"),
            "lineage.manifest_files": (mt["manifest_files"], "count"),
            "lineage.retire_s": (mt["retire_s"], "s"),
            "lineage.compact_manifest_s": (mt["compact_manifest_s"], "s"),
            "codec.encode_s": (job["encode_s"], "s"),
            "codec.blob_bytes": (job["blob_bytes"], "B"),
            # 16 B per cell: one float64 value and one int64 bucket id
            "codec.ratio": (16.0 * job["cells_committed"] / job["blob_bytes"],
                            "ratio"),
            "io.files_written": (job["files"], "count"),
            "io.bytes_written": (job["bytes"], "B"),
            "compact.s": (mt["compact_s"], "s"),
            "compact.files_before": (mt["files_before"], "count"),
            "compact.files_after": (mt["files_after"], "count"),
            "compact.bytes": (mt["compact_bytes"], "B"),
            "host.steal_frac": (d["host"]["steal_frac"], "ratio"),
            "host.busy_frac": (d["host"]["busy_frac"], "ratio"),
        }
        if not self.wl.multivariate:
            # ExtractStats times only the univariate flat path; on the
            # fallback workload these stay absent rather than 0
            split = {k: ex[f"{k}_us"] / 1e6
                     for k in ("flatten", "kernel", "emit")}
            d["executor.split_s"] = split
            d["executor.outside_udf_s"] = (
                job["extract_s"] * self.cores - sum(split.values())
            )
        ksec, kpoints = self._kernels()
        m["kernels.s"] = (ksec, "s")
        m["kernels.points"] = (kpoints, "count")
        d["kernels.block_s" if self.wl.multivariate else "kernels.flat_s"] = ksec
        return m

    def _spark_layers(self) -> dict:
        """Route job and task counts from the statusTracker, span
        coverage of each job, and per-layer Spark metrics from the UI
        REST API (per job; per read for route, per pass for compact)."""
        tr = self.tracer
        timed = [s for s in tr.spans if s["phase"] == "timed"]
        reads = [s for s in timed if s["name"] == "route.read"]
        jobs_per = [len(tr.jobs_of(s["id"])) for s in reads]
        tasks_per = [tr.tasks_of(tr.stages_of(tr.jobs_of(s["id"])))
                     for s in reads]
        selfs = stats.self_times(tr.spans)
        cover = [1 - selfs[s["id"]] / (s["end"] - s["start"])
                 for s in timed if s["name"] == "job"]
        m = {
            "route.jobs_per_read": (stats.median(jobs_per), "count"),
            "route.tasks_per_read": (stats.median(tasks_per), "count"),
            "trace.layer_coverage": (stats.median(cover), "ratio"),
        }
        self.detail["span_self_s"] = {}
        for s in timed:
            k = s["name"]
            self.detail["span_self_s"][k] = (
                self.detail["span_self_s"].get(k, 0.0) + selfs[s["id"]]
            )
        trace.wait_listener_idle(self.spark)
        per_op = {"route": len(self.reads)}  # the others run once
        for layer in trace.SPARK_LAYERS:
            stage_ids = [
                sid for s in timed if s["name"].split(".")[0] == layer
                for sid in tr.stages_of(tr.jobs_of(s["id"]))
            ]
            for k, v in trace.spark_layer_metrics(self.spark, stage_ids).items():
                if k == "task_skew":
                    m[f"{layer}.{k}"] = (v, "ratio")
                else:
                    unit = "B" if k.endswith("bytes") else "s"
                    m[f"{layer}.{k}"] = (v / per_op.get(layer, 1), unit)
        return m

    def _kernels(self) -> tuple[float, int]:
        """The workload's kernel on one thread with no Spark, over the
        first seeded docs: ``compute_features_flat`` per Arrow-sized batch
        for a flat plan, ``compute_features_block`` per equal-length
        group for the fallback plan.  Returns (seconds, ISS points)."""
        from fruits_spark.engine.executor import (
            compute_features_block, compute_features_flat,
        )

        sec, tokens = 0.0, 0
        for batch in W.sample_batches(self.wl, self.seed, KERNEL_SAMPLE_DOCS):
            if self.wl.multivariate:
                lengths = np.array([z.shape[1] for z in batch])
                for ln in np.unique(lengths):
                    Z = np.stack([batch[i] for i in np.nonzero(lengths == ln)[0]])
                    t0 = time.perf_counter()
                    compute_features_block(Z, self.fplan)
                    sec += time.perf_counter() - t0
                tokens += int(lengths.sum())
            else:
                values, offsets = batch
                t0 = time.perf_counter()
                compute_features_flat(values, offsets, self.fplan)
                sec += time.perf_counter() - t0
                tokens += int(offsets[-1])
        return sec, tokens * self.n_streams

    def _write_spans(self) -> None:
        """Spans go next to the work directory, which is removed."""
        out = os.path.join(self.io_dir, "spans")
        os.makedirs(out, exist_ok=True)
        name = os.path.basename(self.root)
        self.tracer.write(os.path.join(out, f"{name}.jsonl"))
