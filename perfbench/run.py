#!/usr/bin/env python3
"""Benchmark driver for the CDC engine.

    python3 perfbench/run.py --workload ingest-enriched --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. Each workload is a closed loop with one
client: the driver makes the next call into the engine only after the
previous one returned. It drives the engine only through its public entry
points (``CdcPipeline.apply_epoch`` / ``apply_snapshot``, ``run_stream``,
``LakeTable.read`` / ``compact``) on ``local[nproc / 2]``.

Both workloads ingest the same seeded F2-shaped log (``loadgen.py``) and
read the table they build while they build it:

- ``ingest-enriched``: batch replay through the default enriched pipeline,
  one ``apply_epoch`` per ``epoch=`` dir with the footer offsets hint.
- ``ingest-replication-stream``: the replication shape (``normalize=False``,
  fused task-writer sink) driven by ``run_stream`` (availableNow), one
  epoch's files per trigger and one call per cycle.

Set-up applies one compaction cycle's worth of warm-up epochs. The
measured window is a series of cycles, as many as fit in ``--seconds``:
each cycle applies ``COMPACT_THRESHOLD - 1`` epochs, reads the whole table
READS_PER_CYCLE times while it carries that many delta generations per
bucket, then applies the epoch that sets off the amortized compaction
storm.
Latencies are medians over the window's samples, so the first, colder
read does not set them; the ingest rate pools every measured cycle. Traced runs add,
after the window, one re-harvest of a dump (~5% of rows changed, ~2%
deleted), one ``compact()`` and one more read.

Correctness checks run outside the timed spans; each mismatch counts as a
failed operation and the run exits 1. The last stdout line is the result
JSON; the line before it carries the host fingerprint, contention, the
Spark sizing and every raw sample and per-layer detail.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [HERE, ROOT]

import loadgen  # noqa: E402
import probes  # noqa: E402

WORKLOADS = ("ingest-enriched", "ingest-replication-stream")
# Sized so one run takes about a minute on a 4-core host, JVM start and
# warm-up included. Per-epoch and per-job fixed costs dominate at this size,
# so epochs are small and compaction fires every COMPACT_THRESHOLD-th epoch.
EPOCH_EVENTS = 2_000
COMPACT_THRESHOLD = 3
WARMUP_EPOCHS = COMPACT_THRESHOLD       # ends on a storm, so no measured one is cold
READS_PER_CYCLE = 3
MAX_CYCLES = 6                          # the log holds this many measured cycles
SHAPE = loadgen.LogShape(
    n_events=EPOCH_EVENTS * (WARMUP_EPOCHS + COMPACT_THRESHOLD * MAX_CYCLES),
    epoch_size=EPOCH_EVENTS,
    n_keys=3_000,                       # saturated after about two cycles
)
N_BUCKETS = 16


def spark_sizing() -> dict:
    """Task slots are half the cores: each slot running a Python UDF keeps
    a JVM task thread and a Python worker busy at once, so nproc slots
    would oversubscribe the host (on a 4-core host, local[4] epochs took
    ~25% longer than local[2] ones)."""
    n = probes.nproc()
    heap_mb = min(2048, max(1024, probes.mem_total_mb() // 16))
    return {
        "master": f"local[{max(1, n // 2)}]",
        "shuffle_partitions": 2 * n,
        "driver_memory": f"{heap_mb}m",
    }


def start_spark(sizing: dict, event_dir: str | None):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = sizing["driver_memory"]
    from foundry_es_spark.session import get_spark

    extra = {
        "spark.driver.memory": sizing["driver_memory"],
        # commit and touch the whole heap at start, so peak RSS does not
        # depend on when the collector happens to run
        "spark.driver.extraJavaOptions": f"-Xms{sizing['driver_memory']} -XX:+AlwaysPreTouch",
    }
    if event_dir:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        master=sizing["master"], app_name="perfbench",
        shuffle_partitions=sizing["shuffle_partitions"], extra_conf=extra,
    )


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and every process under it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = probes.descendants(os.getpid())
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, 9)


def digest_rows(df) -> list[tuple]:
    """Collect the digest columns of every row of ``df``:
    ``(repo, path, commit, lang, sha256(content))``."""
    from pyspark.sql import functions as F

    rows = df.select("repo", "path", "commit", "lang", F.sha2("content", 256)).collect()
    return [tuple(r) for r in rows]


class SpannedPipeline:
    """Wraps a CdcPipeline so ``run_stream`` calls its ``apply_epoch``
    inside a span; records the program-reported stage seconds."""

    def __init__(self, pipe, tracer: probes.Tracer):
        self.pipe, self.tracer = pipe, tracer

    def apply_epoch(self, batch, epoch_id, offsets_hint=None):
        with self.tracer.span("plans.apply_epoch", epoch=int(epoch_id)) as sp:
            r = self.pipe.apply_epoch(batch, epoch_id, offsets_hint)
        sp["stage_sec"] = r.get("stage_sec", {})
        return r


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.dir = os.path.join(WORK, "run")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.detail: dict = {}
        self.spark = None
        self.progress: list[dict] = []

    # -- bookkeeping
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    # -- phases
    def setup(self) -> None:
        """Start the session and warm up: one cycle's epochs, the last of
        which sets off a compaction storm. Synthesis of the log (cached per
        seed) is the load generator's work and happens before the clock
        starts."""
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.events, self.manifest = loadgen.cached_log(
            os.path.join(WORK, "logs"), SHAPE, self.seed
        )
        self.fold = loadgen.Fold(self.events)
        t0 = time.perf_counter()
        event_dir = None
        if self.trace:
            event_dir = os.path.join(self.dir, "eventlog")
            os.makedirs(event_dir)
        self.event_dir = event_dir
        self.sizing = spark_sizing()
        self.spark = start_spark(self.sizing, event_dir)
        self.session_s = time.perf_counter() - t0
        self.tracer = probes.Tracer(self.spark.sparkContext if self.trace else None)
        from foundry_es_spark.plans import CdcPipeline, PipelineConfig

        self.table_dir = os.path.join(self.dir, "table")
        self.pipe = CdcPipeline(self.spark, PipelineConfig(
            pipeline_id=self.workload, table_dir=self.table_dir,
            n_buckets=N_BUCKETS, files_per_bucket=2, hot_bucket_salts=8,
            merge_mode="mor", compact_strategy="sorted",
            compact_threshold=COMPACT_THRESHOLD, normalize=self.workload == "ingest-enriched",
        ))
        self.epoch_walls: list[float] = []
        self.applied = 0
        with self.tracer.span("setup.warmup"):
            self.warmup = {"ingest_s": self.ingest(range(0, WARMUP_EPOCHS))}
            self.warmup["epoch_walls_s"] = list(self.epoch_walls)
        self.epoch_walls.clear()
        self.setup_s = time.perf_counter() - t0

    def ingest(self, epochs: range) -> float:
        """Apply ``epochs``; return the wall of the whole call sequence."""
        t0 = time.perf_counter()
        if self.workload == "ingest-enriched":
            from foundry_es_spark.plans import offsets_from_footers

            for e in epochs:
                with self.tracer.span("ingest.epoch", epoch=e) as ep:
                    with self.tracer.span("sources.offsets", epoch=e):
                        ed = os.path.join(self.events, f"epoch={e}")
                        hint = offsets_from_footers(ed)
                        batch = self.spark.read.parquet(ed)
                    with self.tracer.span("plans.apply_epoch", epoch=e) as sp:
                        r = self.pipe.apply_epoch(batch, e, offsets_hint=hint)
                    sp["stage_sec"] = r.get("stage_sec", {})
                self.check(not r.get("skipped"), f"epoch {e} skipped")
                self.epoch_walls.append(ep["dur"])
        else:
            from foundry_es_spark.streaming import run_stream

            src = os.path.join(self.dir, "stream_src")
            for e in epochs:
                d = os.path.join(self.events, f"epoch={e}")
                for part in os.listdir(d):
                    os.makedirs(os.path.join(src, f"epoch={e}", part))
                    for fn in os.listdir(os.path.join(d, part)):
                        os.link(os.path.join(d, part, fn),
                                os.path.join(src, f"epoch={e}", part, fn))
            files = len(os.listdir(os.path.join(self.events, f"epoch={epochs[0]}")))
            with self.tracer.span("streaming.run_stream", epochs=len(epochs)):
                q = run_stream(
                    self.spark, SpannedPipeline(self.pipe, self.tracer), src,
                    os.path.join(self.dir, "ckpt"), max_files_per_trigger=files,
                    await_termination=True,
                )
            prog = [json.loads(p.json) for p in q.recentProgress]
            prog = [p for p in prog if p.get("numInputRows", 0) > 0]
            self.progress += prog
            self.check(q.exception() is None and len(prog) == len(epochs),
                       f"stream over epochs {epochs} ended with {len(prog)} triggers")
            self.epoch_walls += [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]
        wall = time.perf_counter() - t0
        for e in epochs:
            self.fold.add(e)
        self.applied = epochs[-1] + 1
        return wall

    def verified_read(self, expected: str, what: str, span: str = "serve.snapshot_read") -> float:
        """Timed full read of the live table, consumed by the client; its
        digest is compared with ``expected`` after the clock stops."""
        with self.tracer.span(span) as sp:
            rows = digest_rows(self.pipe.table.read())
        self.check(loadgen.state_digest(rows) == expected, what)
        return sp["dur"]

    def reads(self, n: int) -> list[float]:
        """``n`` full reads of the table, each checked against the fold."""
        want = self.fold.digest()
        return [self.verified_read(want, f"read after epoch {self.applied - 1}: "
                                   "digest != fold of the log") for _ in range(n)]

    def measure(self) -> None:
        """Closed loop of cycles. A cycle applies COMPACT_THRESHOLD - 1
        epochs, makes READS_PER_CYCLE full reads of the table, which then
        carries that many delta generations per bucket, and applies the
        epoch that sets off the amortized compaction storm. A new cycle
        starts while at least half of a typical cycle is left of
        ``--seconds``, so the window overshoots by at most half a cycle;
        every run measures at least one."""
        self.cycles: list[dict] = []
        self.read_walls: list[float] = []
        durs: list[float] = []
        self.window = [time.time(), None]
        t0 = time.perf_counter()
        while len(self.cycles) < MAX_CYCLES:
            if durs and time.perf_counter() - t0 + statistics.median(durs) / 2 > self.seconds:
                break
            c0 = time.perf_counter()
            first, storm = self.applied, self.applied + COMPACT_THRESHOLD - 1
            epochs = range(first, storm + 1)
            n0 = len(self.epoch_walls)
            with self.tracer.span("ingest.cycle"):
                wall = self.ingest(range(first, storm))
            lake = {**self.lake_state(), "live_rows": len(self.fold.rows())}
            self.check(lake["delta_generations_max"] == COMPACT_THRESHOLD - 1,
                       f"reads before epoch {storm}: {lake['delta_generations_max']} generations")
            reads = self.reads(READS_PER_CYCLE)
            self.read_walls += reads
            with self.tracer.span("ingest.cycle"):
                wall += self.ingest(range(storm, storm + 1))
            gens = max(self.pipe.table.bucket_delta_generations().values(), default=0)
            self.check(gens == 0, f"epoch {storm} set off no compaction: {gens} generations")
            self.cycles.append({
                "wall": wall, "events": sum(self.manifest["epoch_events"][e] for e in epochs),
                "epoch_walls": self.epoch_walls[n0:], "reads": reads, "lake": lake,
            })
            durs.append(time.perf_counter() - c0)
        self.window[1] = time.time()
        self.window_s = time.perf_counter() - t0
        self.cycle_s = durs

    def verify(self) -> None:
        summary = self.pipe.epoch_summary()
        applied = sum(self.manifest["epoch_events"][: self.applied])
        self.check(summary["events_replayed"] == applied,
                   f"events_replayed {summary['events_replayed']} != {applied}")

    def lake_state(self) -> dict:
        """Driver-side table counts and the size of the table directory."""
        t = self.pipe.table
        d = t.describe()
        size = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(self.table_dir) for f in fs
        )
        return {
            "delta_generations_max": max(t.bucket_delta_generations().values(), default=0),
            "live_files": d["n_files"],
            "commit_versions": d["version"] + 1,
            "table_bytes": size,
        }

    def serve_probe(self) -> None:
        """Traced runs only, after the window: re-harvest a dump of the
        table (~5% of rows changed, ~2% deleted), compact it and read it
        back. The diff must hold exactly the changed and deleted rows, and
        the digest after the re-harvest and after ``compact()`` must be
        the dump's."""
        self.lake_before = self.lake_state()
        dump_path = os.path.join(self.dir, "dump.parquet")
        dump, _ = loadgen.make_dump(dump_path, self.fold.rows(), (self.seed, self.applied))
        snap = self.spark.read.parquet(dump_path)
        with self.tracer.span("serve.apply_snapshot") as sp:
            info = self.pipe.apply_snapshot(snap)
        self.check(info.get("n_events") == dump["changed"] + dump["deleted"],
                   f"re-harvest diff {info.get('n_events')} != changed+deleted")
        self.reharvest = {
            "wall": sp["dur"], "rows": dump["rows"], "diff_events": info.get("n_events", 0),
            "epoch_stage_s": sum(info.get("stage_sec", {}).values()),
        }
        self.lake_after = self.lake_state()
        self.reharvest_read_s = self.verified_read(
            dump["digest"], "read after re-harvest: digest != dump's", "serve.reharvest_read")
        with self.tracer.span("serve.compact") as sp:
            self.pipe.table.compact()
        self.compact_s = sp["dur"]
        self.lake_compacted = self.lake_state()
        self.compacted_read_s = self.verified_read(
            dump["digest"], "compact() changed the digest", "serve.compacted_read")
        self.dump_rows = dump["rows"]

    # -- reporting
    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "ingest_events_per_s": (sum(c["events"] for c in self.cycles)
                                    / sum(c["wall"] for c in self.cycles), "1/s"),
            "epoch_p50_s": (statistics.median(
                w for c in self.cycles for w in c["epoch_walls"][:-1]), "s"),
            "snapshot_read_s": (statistics.median(self.read_walls), "s"),
            "jvm_peak_rss_mb": (self.jvm_rss_kb / 1024.0, "MB"),
            "python_worker_rss_mb": (self.python_rss_kb / 1024.0, "MB"),
        }

    def per_layer(self) -> dict:
        spans = self.tracer.spans
        probes.fold_event_log(self.event_dir, spans)
        lo, hi = self.window
        inside = [s for s in spans if lo <= s["wall_start"] and s["wall_end"] <= hi]
        measured = [s for s in inside if s["name"] == "plans.apply_epoch"]
        n, k = len(measured), len(self.cycles)
        stage = lambda key: sum(s["stage_sec"].get(key, 0.0) for s in measured) / k  # noqa: E731
        by = lambda name, pool=inside: [s for s in pool if s["name"] == name]  # noqa: E731
        if self.workload == "ingest-enriched":
            src = [s["dur"] for s in by("sources.offsets")]
        else:
            src = [(p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0))
                   / 1000.0 for p in self.progress[WARMUP_EPOCHS:]]
        cyc = by("ingest.cycle")
        ing = probes.sum_counters([s for s in inside if any(
            c["wall_start"] <= s["wall_start"] and s["wall_end"] <= c["wall_end"] for c in cyc)])
        reads = by("serve.snapshot_read")
        rd = probes.sum_counters(reads)
        rh = probes.sum_counters(by("serve.apply_snapshot", spans))
        at_read = self.cycles[-1]["lake"]
        out = {
            "sources.offsets_s": (statistics.median(src), "s"),
            "plans.apply_epoch_p50_s": (statistics.median(
                s["dur"] for s in measured if "compaction" not in s["stage_sec"]), "s"),
            "plans.apply_epoch_cycle_s": (sum(s["dur"] for s in measured) / k, "s"),
            "plans.prescan_s": (stage("prescan"), "s"),
            "plans.merge_write_s": (stage("merge_write"), "s"),
            "plans.compaction_s": (stage("compaction"), "s"),
            "operators.reharvest_rows_per_s": (
                self.reharvest["rows"] / self.reharvest["wall"], "1/s"),
            "operators.reharvest_diff_s": (
                self.reharvest["wall"] - self.reharvest["epoch_stage_s"], "s"),
            "operators.diff_events": (self.reharvest["diff_events"], "count"),
            "lake.delta_generations_max": (at_read["delta_generations_max"], "count"),
            "lake.live_files": (at_read["live_files"], "count"),
            "lake.commit_versions": (at_read["commit_versions"], "count"),
            "lake.bytes_per_live_row": (at_read["table_bytes"] / at_read["live_rows"], "B"),
            "lake.compact_s": (self.compact_s, "s"),
            "lake.live_files_compacted": (self.lake_compacted["live_files"], "count"),
            "lake.bytes_per_live_row_compacted": (
                self.lake_compacted["table_bytes"] / self.dump_rows, "B"),
            "lake.compacted_read_s": (self.compacted_read_s, "s"),
            "spark.python_processes_max": (self.python_procs, "count"),
        }
        for c in probes.COUNTERS:
            if c == "shuffle_fetch_wait_s":
                continue  # ~0 in local mode: reported in the detail line only
            unit = ("s" if c.endswith("_s") else "ratio" if c == "task_max_over_median"
                    else "B" if "bytes" in c else "count")
            out[f"spark.{c}"] = (ing[c] if c == "task_max_over_median" else ing[c] / n, unit)
        for c in ("python_init_s", "python_run_s", "tasks"):
            out[f"spark.read.{c}"] = (rd[c] / len(reads), "s" if c.endswith("_s") else "count")
        for c in ("shuffle_write_bytes", "tasks"):
            out[f"spark.reharvest.{c}"] = (rh[c], "B" if "bytes" in c else "count")
        self.detail["spark_fold"] = {"ingest": ing, "snapshot_read": rd, "reharvest": rh}
        self.detail["spark.shuffle_fetch_wait_s"] = ing["shuffle_fetch_wait_s"] / n
        self.detail["serve_probe"] = {
            "reharvest": self.reharvest, "reharvest_read_s": self.reharvest_read_s,
            "compact_s": self.compact_s, "compacted_read_s": self.compacted_read_s,
            "lake": {"before_reharvest": self.lake_before, "after_reharvest": self.lake_after,
                     "after_compact": self.lake_compacted},
        }
        if self.workload != "ingest-enriched":
            trig = self.progress[WARMUP_EPOCHS:]
            ms = lambda k: statistics.median(p["durationMs"].get(k, 0) for p in trig)  # noqa: E731
            self.detail["streaming"] = {
                "streaming.add_batch_ms": ms("addBatch"),
                "streaming.trigger_overhead_ms": statistics.median(
                    p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
                    for p in trig),
                "streaming.wal_commit_ms": ms("walCommit"),
                "streaming.latest_offset_ms": ms("latestOffset"),
                "streaming.query_planning_ms": ms("queryPlanning"),
            }
        return out


def host_fingerprint(sizing: dict) -> dict:
    import pyspark

    return {
        "nproc": probes.nproc(),
        "mem_total_mb": probes.mem_total_mb(),
        "scratch_fs": probes.fs_type(WORK),
        "pyspark": pyspark.__version__,
        "git_commit": probes.git_commit(ROOT),
        "spark": sizing,
    }


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    r = Run(workload, seed, seconds, trace)
    try:
        with probes.RssSampler() as rss:
            r.setup()
            r.spark_version = r.spark.version
            cont = probes.Contention()
            r.measure()
            contention = cont.result()
            r.verify()
            if trace:
                r.serve_probe()
    finally:
        if r.spark is not None:
            stop_spark(r.spark)
    r.jvm_rss_kb, r.python_rss_kb, r.python_procs = rss.jvm_kb, rss.python_kb, rss.python_procs
    metrics = r.end_to_end()
    e2e = {k: v for k, (v, _) in metrics.items()}
    if trace:
        metrics = r.per_layer()
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    overhead = None
    if trace:
        past = []
        for fn in os.listdir(results_dir):
            if fn.startswith(f"{workload}_") and fn.endswith("_t0.json"):
                with open(os.path.join(results_dir, fn)) as f:
                    past.append(json.load(f)["e2e"])
        overhead = {
            k: e2e[k] - statistics.median(p[k] for p in past if k in p)
            for k in e2e if any(k in p for p in past)
        } or None
    detail = {
        "workload": workload, "seed": seed, "trace": trace,
        "host": {**host_fingerprint(r.sizing), "spark_version": r.spark_version},
        "contention": contention,
        "setup": {"session_s": r.session_s, "setup_s": r.setup_s, "warmup": r.warmup},
        "window": {"seconds": seconds, "wall_s": r.window_s, "cycle_walls_s": r.cycle_s},
        "cycles": r.cycles,
        "python_processes_max": r.python_procs,
        "failures": r.failures,
        "failed_frac": r.failed / max(1, r.attempted),
        "trace_overhead": overhead,
        "e2e": e2e,
        **r.detail,
    }
    with open(os.path.join(results_dir, f"{workload}_s{seed}_t{int(trace)}.json"), "w") as f:
        json.dump(detail, f)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if r.failed == 0 else 1


def self_test() -> int:
    """A corrupted copy of a correct table must fail the digest check:
    one row dropped, then one row altered."""
    import pyarrow.parquet as pq

    from foundry_es_spark.lake.table import LakeTable
    from foundry_es_spark.plans import CdcPipeline, PipelineConfig

    shape = loadgen.LogShape(n_events=3_000, epoch_size=1_000, n_keys=800, n_repos=8)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    events, _ = loadgen.cached_log(os.path.join(WORK, "logs"), shape, 7)
    spark = start_spark(spark_sizing(), None)
    try:
        tdir = os.path.join(run_dir, "table")
        pipe = CdcPipeline(spark, PipelineConfig(pipeline_id="selftest", table_dir=tdir,
                                                 n_buckets=4))
        pipe.replay_event_dir(events)
        pipe.table.compact()  # one base file per bucket: every stored row is live
        want = loadgen.state_digest(x[:5] for x in loadgen.fold(events, range(3)))
        ok = loadgen.state_digest(digest_rows(pipe.table.read())) == want
        for mode in ("drop", "alter"):
            copy = os.path.join(run_dir, f"table_{mode}")
            shutil.copytree(tdir, copy)
            # data/c<version>/: the newest commit dir holds the compacted base
            newest = os.path.join(copy, "data", max(os.listdir(os.path.join(copy, "data"))))
            victim = next(
                os.path.join(d, f) for d, _, fs in sorted(os.walk(newest)) for f in sorted(fs)
                if f.endswith(".parquet") and pq.read_metadata(os.path.join(d, f)).num_rows > 0
            )
            t = pq.read_table(victim)
            if mode == "drop":
                t = t.slice(1)
            else:
                i = t.schema.get_field_index("commit")
                col = t.column(i).to_pylist()
                col[0] = "corrupted"
                t = t.set_column(i, t.schema.field(i), [col])
            pq.write_table(t, victim)
            caught = loadgen.state_digest(digest_rows(LakeTable(spark, copy).read())) != want
            print(json.dumps({"self_test": mode, "victim": os.path.relpath(victim, copy),
                              "caught": caught}))
            ok &= caught
    finally:
        stop_spark(spark)
    print(json.dumps({"self_test_passed": bool(ok)}))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    try:
        import foundry_es_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if a.self_test:
        return self_test()
    if a.workload is None:
        ap.error("--workload is required")
    return run(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
