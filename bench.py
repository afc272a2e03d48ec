#!/usr/bin/env python
"""Benchmark harness (driver contract + scaling evidence).

Default mode — run the headline workload and print ONE JSON line::

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1_scan_filter": sec, ...}, "sf": 0.1,
     "replay": {"events": N, "wall_sec": t, "events_per_sec": r}, ...}

Workload = (a) CDC replay of a deterministic synthesized change log
(FIXTURES.md F2; the engine's headline metric is sustained change-events/sec,
BASELINE.json:L2) and (b) every entry of the Layer-B query surface
(SURVEY.md §2.4 + training-data ops) timed at ``$SPARK_GRAFT_SF_DIR``
(default ``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]``.

Scaling mode (``--scaling``) — evidences the two-cluster-size criterion
(north_rule: throughput efficiency >= 0.8 from N to 4N executors) by running
the SAME replay input at local[N] and local[4N] in fresh JVMs, A/B/B/A
counterbalanced within the run, with per-epoch host-contention capture and
criterion-based exclusion (VERDICT r4 item 5; prose in BENCH/BASELINE.md).
``--scaling-agg`` folds all recorded runs into the headline estimate
(median + trimmed mean over included runs).

Usage:
    python bench.py                 # driver mode: one JSON line on stdout
    SPARK_GRAFT_SCALING_RUN=1 python bench.py --scaling   # one A/B/B/A run
    python bench.py --scaling-agg   # aggregate all recorded r5 runs
    python bench.py --replay-only --cpus 8   # internal subprocess mode
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Replay scratch (event log + tables) defaults to tmpfs when present:
# the sandbox's ONE shared virtio disk is a non-scaling resource whose
# writeback noise dominated the r2 headline run (median epoch 4.09 s vs
# the 2.26 s decomposed floor — BENCH/BASELINE.md "why tmpfs"). Inputs
# for the query surface still come from $SPARK_GRAFT_SF_DIR on disk.
_default_bench_root = (
    "/dev/shm/foundry_es_bench" if os.path.isdir("/dev/shm") else "/tmp/foundry_es_bench"
)
BENCH_ROOT = os.environ.get("SPARK_GRAFT_BENCH_DIR", _default_bench_root)

# Replay-log shape: ~1M events over 500k keys in 10 epochs, ~1 KB bodies
# (table >> epoch batch — the honest CDC shape: per-epoch work must track
# batch size, not table size),
# 20% of events forced onto one hot repo (the C4 skew knob exercised for
# real, not just in unit tests).
N_EVENTS = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS", "1000000"))
N_KEYS = max(1000, N_EVENTS // 2)
N_REPOS = max(50, N_KEYS // 200)
EPOCHS = int(os.environ.get("SPARK_GRAFT_BENCH_EPOCHS", "10"))
HOT_FRAC = 0.20
LINES_MOD = 40


def _sf_of(sf_dir: str) -> float:
    try:
        return float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        return -1.0


def _host_stat() -> dict:
    """Aggregate host CPU counters (/proc/stat line 1, jiffies since boot).

    VERDICT r4 item 5: the scaling evidence must record host contention
    alongside each epoch so noisy runs are excluded by CRITERION, not
    judgment. ``steal`` is hypervisor steal (the virtio neighbor signal);
    ``busy`` is everything non-idle, which includes our own JVM — the
    consumer subtracts the level's expected own usage to estimate foreign
    load."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):  # non-Linux fallback: no exclusions
        return {"total": 0, "idle": 0, "steal": 0}
    total = sum(vals[:8])
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
    steal = vals[7] if len(vals) > 7 else 0
    return {"total": total, "idle": idle, "steal": steal}


def _host_delta(before: dict, after: dict) -> dict:
    """Per-window host contention: steal fraction and busy cores."""
    dt = after["total"] - before["total"]
    if dt <= 0:
        return {"steal_frac": 0.0, "busy_cores": 0.0}
    ncpu = os.cpu_count() or 1
    busy = dt - (after["idle"] - before["idle"])
    return {
        "steal_frac": round((after["steal"] - before["steal"]) / dt, 4),
        "busy_cores": round(busy / dt * ncpu, 2),
    }


def ensure_event_log(spark) -> str:
    """Generate the deterministic bench event log once; reuse across runs
    and across both parallelism levels (identical input by construction —
    fixtures are pure functions of (seq), FIXTURES.md)."""
    from foundry_es_spark.fixtures import gen_change_events, write_event_log

    tag = f"events_{N_EVENTS}_{N_KEYS}_{LINES_MOD}_{int(HOT_FRAC * 100)}_e{EPOCHS}"
    out = os.path.join(BENCH_ROOT, tag)
    marker = os.path.join(out, "_BENCH_READY")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    ev = gen_change_events(
        spark,
        n_events=N_EVENTS,
        n_keys=N_KEYS,
        n_repos=N_REPOS,
        hot_frac=HOT_FRAC,
        lines_mod=LINES_MOD,
        n_parts=32,
    )
    write_event_log(ev, out, epoch_size=N_EVENTS // EPOCHS)
    with open(marker, "w") as f:
        f.write(tag)
    return out


def run_replay(spark, events_dir: str, table_dir: str, warmup: int = 1, **cfg) -> dict:
    """Replay the full log; sustained rate excludes the first `warmup`
    epochs (JVM/codegen/python-worker spin-up, BASELINE.md protocol)."""
    from foundry_es_spark.plans import CdcPipeline, PipelineConfig

    shutil.rmtree(table_dir, ignore_errors=True)
    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            pipeline_id="bench",
            table_dir=table_dir,
            n_buckets=64,
            files_per_bucket=2,
            # C4 adaptive: the bench log concentrates 20% of events on one
            # hot repo; without this the hot bucket's payload rides in
            # files_per_bucket tasks — a straggler tail at wide parallelism
            hot_bucket_salts=int(os.environ.get("SPARK_GRAFT_HOT_SALTS", "8")),
            **cfg,
        ),
    )
    t0 = time.monotonic()
    epochs = sorted(
        int(d.split("=")[1]) for d in os.listdir(events_dir) if d.startswith("epoch=")
    )
    if not epochs:
        raise RuntimeError(f"no epoch= dirs under {events_dir}")
    from foundry_es_spark.plans import offsets_from_footers

    warmup = min(warmup, len(epochs) - 1)
    epoch_sec, epoch_host = [], []
    for e in epochs:
        te, h0 = time.monotonic(), _host_stat()
        epoch_dir = os.path.join(events_dir, f"epoch={e}")
        batch = spark.read.parquet(epoch_dir)
        pipe.apply_epoch(batch, e, offsets_hint=offsets_from_footers(epoch_dir))
        epoch_sec.append(round(time.monotonic() - te, 3))
        epoch_host.append(_host_delta(h0, _host_stat()))
    total = time.monotonic() - t0
    # median of post-warmup epochs: robust to host-noise straggler epochs
    measured = sorted(epoch_sec[warmup:])
    med = measured[len(measured) // 2] if len(measured) % 2 else (
        measured[len(measured) // 2 - 1] + measured[len(measured) // 2]
    ) / 2
    epoch_events = N_EVENTS // EPOCHS
    n_rows = pipe.table.read().count()
    return {
        "events": N_EVENTS,
        "epochs": len(epochs),
        "wall_sec": round(total, 3),
        "epoch_sec": epoch_sec,
        "epoch_host": epoch_host,
        "median_epoch_sec": round(med, 3),
        "events_per_sec": round(epoch_events / med, 1),
        "final_rows": n_rows,
        "mode": "mor",
    }


def run_streaming_replay(spark, events_dir: str, table_dir: str, warmup: int = 1) -> dict:
    """S1 ingest path (VERDICT r2 item 9): the SAME epoch body driven by
    Structured Streaming `readStream -> foreachBatch` (streaming/run.py)
    instead of the batch loop, over the same event log. Sustained rate =
    median over post-warmup triggers of numInputRows / triggerExecution,
    so the figure is comparable to batch replay's median-epoch rate."""
    import glob

    from foundry_es_spark.plans import CdcPipeline, PipelineConfig
    from foundry_es_spark.streaming import run_stream

    shutil.rmtree(table_dir, ignore_errors=True)
    ckpt = table_dir + "_ckpt"
    shutil.rmtree(ckpt, ignore_errors=True)
    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            pipeline_id="bench_stream",
            table_dir=table_dir,
            n_buckets=64,
            files_per_bucket=2,
        ),
    )
    # one epoch's worth of files per trigger — same batch granularity as
    # the batch loop (file source fills triggers up to the cap)
    files_per_epoch = len(
        glob.glob(os.path.join(events_dir, "epoch=0", "part=*", "*.parquet"))
    )
    t0 = time.monotonic()
    q = run_stream(
        spark,
        pipe,
        events_dir,
        ckpt,
        max_files_per_trigger=max(1, files_per_epoch),
        await_termination=True,
    )
    wall = time.monotonic() - t0
    prog = [json.loads(p.json) for p in q.recentProgress]
    batches = [
        p
        for p in prog
        if p.get("numInputRows", 0) > 0 and "triggerExecution" in p.get("durationMs", {})
    ]
    rates = sorted(
        p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0)
        for p in batches[min(warmup, max(0, len(batches) - 1)):]
    )
    if not rates:
        raise RuntimeError(
            f"streaming replay reported no input rows over {events_dir} "
            f"({len(prog)} progress entries) — source glob/layout mismatch?"
        )
    med = rates[len(rates) // 2] if len(rates) % 2 else (
        rates[len(rates) // 2 - 1] + rates[len(rates) // 2]
    ) / 2
    return {
        "events": N_EVENTS,
        "triggers": len(batches),
        "wall_sec": round(wall, 3),
        "events_per_sec": round(med, 1),
        "final_rows": pipe.table.read().count(),
        "mode": "mor",
    }


def run_streaming_split(spark, sf_dir: str, timings: dict[str, float]) -> dict:
    """VERDICT r3 item 7: the 8 streaming entries' walls are dominated by
    Structured Streaming FIXED cost (state-store init, checkpoint dir
    creation, query start/stop), which masks regressions in the data path.
    Split the two components by re-timing each streaming entry on the
    smallest fixture (sf0.001, ~100x less data, identical plan): that wall
    is ~pure startup, and marginal = full − startup is the data cost that
    actually scales. Negative marginals (startup noise exceeding the tiny
    data cost) are reported as measured — clamping would hide noise."""
    tiny = "/root/testdata/sf0.001"
    if not os.path.isdir(tiny) or os.path.realpath(tiny) == os.path.realpath(sf_dir):
        return {}
    from foundry_es_spark.queries import all_queries

    split = {}
    for name, fn in all_queries().items():
        if not fn.__module__.endswith("streaming_q") or timings.get(name, -1) < 0:
            continue
        t0 = time.monotonic()
        try:
            fn(spark, tiny).write.format("noop").mode("overwrite").save()
        except Exception as exc:
            print(f"# bench streaming-split {name} FAILED: {exc}", file=sys.stderr)
            continue
        startup = round(time.monotonic() - t0, 3)
        split[name] = {
            "full_sec": timings[name],
            "startup_sec": startup,
            "marginal_sec": round(timings[name] - startup, 3),
        }
    return split


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    from foundry_es_spark.queries import all_queries

    timings = {}
    for name, fn in all_queries().items():
        t0 = time.monotonic()
        try:
            df = fn(spark, sf_dir)
            # noop sink, NOT count(): Catalyst prunes unreferenced
            # projections, pandas UDFs, and whole Window operators under a
            # bare count() (verified on this PySpark), so projection-only
            # queries would time a parquet row-count scan instead of their
            # actual work. The noop v2 sink consumes every output column
            # JVM-side with no write cost.
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.monotonic() - t0, 3)
        except Exception as exc:  # one broken query must not zero the board
            print(f"# bench query {name} FAILED: {exc}", file=sys.stderr)
            timings[name] = -1.0
    return timings


def _replay_only(cpus: int, warmup: int = 1) -> dict:
    from foundry_es_spark.session import get_spark

    os.system("sync")  # drain prior runs' writeback before measuring
    spark = get_spark(
        master=f"local[{cpus}]", shuffle_partitions=8 * cpus, app_name=f"bench-{cpus}"
    )
    events_dir = ensure_event_log(spark)
    res = run_replay(
        spark, events_dir, os.path.join(BENCH_ROOT, f"table_c{cpus}"), warmup=warmup
    )
    spark.stop()
    return {"cpus": cpus, **res}


# -- contention criterion (VERDICT r4 item 5): noisy measurements are
# excluded by CRITERION, not judgment. An epoch window is contended when
# hypervisor steal exceeds 2% of its jiffies, or foreign busy cores
# (total busy minus the level's expected own footprint: `width` executor
# threads + ~2 for driver/GC/Python workers) exceed 4. A replicate is
# contended when more than 1/3 of its MEASURED (post-warm-up) epochs
# are. Thresholds sit far from both modes observed in the r3/r4 raw
# evidence: clean windows show steal < 0.005 and foreign < 1.5 cores;
# the documented noise events (overlapping pytest, neighbor writeback)
# burn 8-30 foreign cores for whole epochs.
STEAL_FRAC_MAX = 0.02
FOREIGN_CORES_MAX = 4.0


def _contended(rep: dict, width: int, warmup: int) -> bool:
    hosts = rep.get("epoch_host", [])[warmup:]
    if not hosts:
        return False
    own = width + 2
    bad = [
        h for h in hosts
        if h["steal_frac"] > STEAL_FRAC_MAX
        or h["busy_cores"] - own > FOREIGN_CORES_MAX
    ]
    return 3 * len(bad) > len(hosts)


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _scaling() -> None:
    """One protocol run of the r5 counterbalanced scaling protocol
    (VERDICT r4 item 5; full prose in BENCH/BASELINE.md):

    - A/B/B/A within the run: four back-to-back level-runs in fresh JVMs,
      each level measured TWICE, order flipped by run-id parity — so
      monotone host drift (cache warm-up, thermal, a neighbor ramping)
      cancels within the run instead of biasing whichever level runs
      second.
    - Host contention recorded per epoch (/proc/stat steal + busy) and
      replicates excluded by the `_contended` criterion; a run where BOTH
      replicates of a level are contended is marked excluded_by_criterion
      and `--scaling-agg` drops it.
    - Bigger epochs than the default bench (2M events): the scaling claim
      is only meaningful when per-epoch compute dominates fixed per-epoch
      cost, matching a real cluster where an epoch is 10^7+ events.
    """
    env = {
        **os.environ,
        "SPARK_GRAFT_BENCH_EVENTS": os.environ.get("SPARK_GRAFT_SCALING_EVENTS", "10000000"),
        "SPARK_GRAFT_BENCH_EPOCHS": os.environ.get("SPARK_GRAFT_SCALING_EPOCHS", "5"),
    }
    warmup = 2
    here = os.path.dirname(os.path.abspath(__file__))
    # Pre-generate the shared input in a full-width subprocess so the
    # measured runs only read it.
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--gen-only"],
        check=True, cwd=here, env=env,
    )
    n_lo = int(os.environ.get("SPARK_GRAFT_SCALING_N", "2"))
    n_hi = 4 * n_lo
    run_id = int(os.environ.get("SPARK_GRAFT_SCALING_RUN", "1"))
    order = [n_lo, n_hi, n_hi, n_lo] if run_id % 2 else [n_hi, n_lo, n_lo, n_hi]
    phases = []
    for slot, cpus in enumerate(order):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--replay-only",
             "--cpus", str(cpus), "--warmup", str(warmup)],
            capture_output=True, text=True, check=True, cwd=here, env=env,
        )
        rep = json.loads(out.stdout.strip().splitlines()[-1])
        rep["slot"] = slot
        rep["contended"] = _contended(rep, cpus, warmup)
        phases.append(rep)

    def level(cpus: int) -> tuple[float, int]:
        reps = [p for p in phases if p["cpus"] == cpus]
        clean = [p for p in reps if not p["contended"]]
        used = clean or reps  # excluded runs still report a number
        return sum(p["events_per_sec"] for p in used) / len(used), len(clean)

    t_lo, clean_lo = level(n_lo)
    t_hi, clean_hi = level(n_hi)
    eff = t_hi / (4 * t_lo)
    report = {
        "protocol": "r5-abba",
        "run_id": run_id,
        "order": [f"local[{c}]" for c in order],
        f"local{n_lo}_events_per_sec": round(t_lo, 1),
        f"local{n_hi}_events_per_sec": round(t_hi, 1),
        "scaling_efficiency": round(eff, 3),
        "clean_replicates": {f"local{n_lo}": clean_lo, f"local{n_hi}": clean_hi},
        "excluded_by_criterion": clean_lo == 0 or clean_hi == 0,
        "detail": phases,
    }
    os.makedirs("BENCH", exist_ok=True)
    with open(f"BENCH/evidence_scaling_tmpfs_r5_run{run_id}.json", "w") as f:
        json.dump(report, f, indent=1)
    slim = {k: v for k, v in report.items() if k != "detail"}
    print(json.dumps(slim))


def _scaling_agg() -> None:
    """Aggregate every r5-abba evidence file into the headline estimate:
    median of included runs' efficiencies plus a trimmed mean (drop one
    min and one max when n >= 4) — the trimmed estimator VERDICT r4
    item 5 asked for, robust to a single bad draw in either tail."""
    import glob

    runs = []
    for path in sorted(glob.glob("BENCH/evidence_scaling_tmpfs_r5_run*.json")):
        with open(path) as f:
            runs.append(json.load(f))
    if not runs:
        print(json.dumps({"error": "no r5 evidence files under BENCH/"}))
        return
    included = [r for r in runs if not r.get("excluded_by_criterion")]
    effs = sorted(r["scaling_efficiency"] for r in included)
    trimmed = effs[1:-1] if len(effs) >= 4 else effs
    out = {
        "protocol": "r5-abba",
        "runs_total": len(runs),
        "runs_included": len(included),
        "excluded_run_ids": [
            r["run_id"] for r in runs if r.get("excluded_by_criterion")
        ],
        "per_run_efficiency": {
            str(r["run_id"]): r["scaling_efficiency"] for r in runs
        },
        "median_efficiency": round(_median(effs), 3) if effs else None,
        "trimmed_mean_efficiency": (
            round(sum(trimmed) / len(trimmed), 3) if trimmed else None
        ),
    }
    print(json.dumps(out, indent=1))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--scaling-agg", action="store_true")
    ap.add_argument("--replay-only", action="store_true")
    ap.add_argument("--cpus", type=int, default=CPUS)
    ap.add_argument("--skip-replay", action="store_true")
    ap.add_argument("--gen-only", action="store_true")
    ap.add_argument("--warmup", type=int, default=1)
    args = ap.parse_args()

    if args.scaling:
        _scaling()
        return
    if args.scaling_agg:
        _scaling_agg()
        return
    if args.gen_only:
        from foundry_es_spark.session import get_spark

        spark = get_spark(master="local[32]", app_name="bench-gen")
        ensure_event_log(spark)
        spark.stop()
        return
    if args.replay_only:
        print(json.dumps(_replay_only(args.cpus, warmup=args.warmup)))
        return

    from foundry_es_spark.session import get_spark

    spark = get_spark(
        master=f"local[{args.cpus}]", shuffle_partitions=max(8, 4 * args.cpus), app_name="bench"
    )
    t0 = time.monotonic()
    replay = replication = streaming = None
    if not args.skip_replay:
        events_dir = ensure_event_log(spark)
        replay = run_replay(spark, events_dir, os.path.join(BENCH_ROOT, "table_main"))
        # Secondary metric: replication shape (no enrichment) through the
        # fused task-writer sink — the pure binlog->lake bandwidth of the
        # engine, separated from the DATS-enrichment compute the default
        # pipeline also pays (the r2 table carries the nested dats column
        # the r1 table lacked).
        replication = run_replay(
            spark, events_dir, os.path.join(BENCH_ROOT, "table_repl"),
            normalize=False,
        )
        streaming = run_streaming_replay(
            spark, events_dir, os.path.join(BENCH_ROOT, "table_stream")
        )
    queries = run_queries(spark, SF_DIR)
    total = round(time.monotonic() - t0, 3)
    # diagnostics OUTSIDE the timed window: the split re-runs the 8
    # streaming entries at sf0.001, which must not inflate the headline
    # metric r3 and earlier rounds did not pay
    streaming_split = run_streaming_split(spark, SF_DIR, queries)
    out = {
        "metric": "cdc_replay_plus_query_surface_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": _sf_of(SF_DIR),
        "replay": replay,
        "replay_replication": replication,
        "replay_streaming": streaming,
        "cpus": args.cpus,
        # -1.0 marks a failed query; excluding it (and counting it) keeps
        # the total honest instead of silently shrinking it per failure
        "query_total_sec": round(sum(v for v in queries.values() if v >= 0), 3),
        "queries_failed": sum(1 for v in queries.values() if v < 0),
        # r3-verdict item 7: per-streaming-entry (startup, marginal) split —
        # detail-file only (the stdout line is size-bounded)
        "streaming_split": streaming_split,
    }
    # Full-fidelity record (full query names, per-epoch arrays) goes to a
    # file; stdout gets ONE compact JSON line. The driver harness captures a
    # bounded stdout tail (~2000 chars) and parses the JSON it finds there —
    # r2's full line outgrew that window ("parsed": null in BENCH_r02.json),
    # so the emitted line abbreviates numbered queries to their canonical
    # qN id and rounds to 2 decimals; BENCH/BENCH_DETAIL.json is canonical.
    os.makedirs("BENCH", exist_ok=True)
    with open(os.path.join("BENCH", "BENCH_DETAIL.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(_compact(out), separators=(",", ":")))
    spark.stop()


def _compact(out: dict) -> dict:
    import re

    def short(name: str) -> str:
        m = re.match(r"^(q\d+[a-z]?)_", name)
        return m.group(1) if m else name

    def slim(replay: dict | None) -> dict | None:
        if not replay:
            return replay
        keep = ("events", "events_per_sec", "median_epoch_sec", "final_rows", "mode")
        return {k: replay[k] for k in keep if k in replay}

    slimmed = {
        **out,
        "queries": {short(k): round(v, 2) for k, v in out["queries"].items()},
        "replay": slim(out["replay"]),
        "replay_replication": slim(out["replay_replication"]),
        "replay_streaming": slim(out["replay_streaming"]),
        "detail": "BENCH/BENCH_DETAIL.json",
    }
    slimmed.pop("streaming_split", None)  # detail-file only (stdout is bounded)
    return slimmed


if __name__ == "__main__":
    main()
