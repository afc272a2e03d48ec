#!/usr/bin/env python
"""Endurance replay (VERDICT r3 item 2): one long MoR replay — default
10^8 events over 50 epochs — with the maintenance cron live beside it
(`run_maintain --concurrent` semantics in-process), proving that

- sustained events/sec and per-epoch wall stay FLAT as fenced epochs,
  commit versions, and delta generations accumulate, and
- the driver-side metadata costs the epoch body pays every epoch —
  commit-record size, fence map, `describe()` — stay BOUNDED (they are
  functions of live files + pipelines, not of history, because
  expire_snapshots keeps the log at O(retention) and tombstone GC keeps
  dead keys from accreting).

Shape notes (the honest CDC profile, BENCH/BASELINE.md):
- table >> epoch batch: n_keys is ~5x epoch_events, so epochs are
  update-heavy and the table reaches steady state early — per-epoch work
  must track BATCH size, not table size, or the walls ramp.
- replication shape (normalize=False, fused task-writer sink): the same
  epoch body the headline bench's `replay_replication` metric times, so
  rates are directly comparable.
- in-pipeline auto-compaction is disabled; the concurrent maintenance
  loop (threshold compaction + snapshot expiry + vacuum + tombstone GC at
  the delivered-seq watermark) is the sole compactor — the deployment
  split run_maintain.py documents, exercised here for 50 epochs of real
  interleaving (every ConcurrentWriteConflict is counted, not hidden).

Usage (defaults = the r4 evidence run):
    python scripts/endurance.py                      # 10^8 events, 50 epochs
    python scripts/endurance.py --events 4000000 --epochs 8   # smoke

Writes BENCH/endurance_raw.json; BENCH/ENDURANCE.md narrates the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.environ.get(
    "SPARK_GRAFT_ENDURANCE_DIR",
    "/dev/shm/foundry_es_endurance" if os.path.isdir("/dev/shm") else "/tmp/foundry_es_endurance",
)


def _dir_bytes(d: str) -> int:
    total = 0
    for base, _, files in os.walk(d):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=100_000_000)
    ap.add_argument("--epochs", type=int, default=50)
    ap.add_argument("--keys", type=int, default=None,
                    help="default events//20: update-heavy steady state")
    ap.add_argument("--lines-mod", type=int, default=12)
    ap.add_argument("--hot-frac", type=float, default=0.2)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--keep-events", action="store_true",
                    help="keep the generated event log (default: delete each epoch dir after apply)")
    ap.add_argument("--no-maintenance", action="store_true")
    args = ap.parse_args()
    n_keys = args.keys or max(1000, args.events // 20)
    n_repos = max(50, n_keys // 200)
    epoch_events = args.events // args.epochs

    from foundry_es_spark.fixtures import gen_change_events, write_event_log
    from foundry_es_spark.lake import log as commitlog
    from foundry_es_spark.lake.table import LakeTable
    from foundry_es_spark.plans import CdcPipeline, PipelineConfig, offsets_from_footers
    from foundry_es_spark.session import get_spark

    os.makedirs(ROOT, exist_ok=True)
    events_dir = os.path.join(ROOT, "events")
    table_dir = os.path.join(ROOT, "table")
    shutil.rmtree(table_dir, ignore_errors=True)

    spark = get_spark(master=f"local[{args.cpus}]", shuffle_partitions=8 * args.cpus,
                      app_name="endurance")

    # ---- generate (untimed; pure function of seq, FIXTURES.md F2) -------
    tag = f"{args.events}_{n_keys}_{args.lines_mod}_{args.epochs}"
    marker = os.path.join(events_dir, "_READY_" + tag)
    if not os.path.exists(marker):
        shutil.rmtree(events_dir, ignore_errors=True)
        t0 = time.monotonic()
        ev = gen_change_events(
            spark, n_events=args.events, n_keys=n_keys, n_repos=n_repos,
            hot_frac=args.hot_frac, lines_mod=args.lines_mod, n_parts=args.cpus,
        )
        write_event_log(ev, events_dir, epoch_size=epoch_events)
        with open(marker, "w") as f:
            f.write(tag)
        print(f"# generated {args.events:,} events in {time.monotonic()-t0:.0f}s "
              f"({_dir_bytes(events_dir)/1e9:.1f} GB)", flush=True)

    pipe = CdcPipeline(spark, PipelineConfig(
        pipeline_id="endurance",
        table_dir=table_dir,
        n_buckets=64,
        files_per_bucket=2,
        normalize=False,
        hot_bucket_salts=8,
        compact_threshold=1 << 30,   # the cron owns compaction
        concurrent_writers=not args.no_maintenance,
    ))
    if not args.no_maintenance:
        pipe.table.writer_grace_sec = 600.0

    # ---- concurrent maintenance (run_maintain --concurrent, in-process) -
    stop = threading.Event()
    maint = {"compactions": 0, "expires": 0, "vacuums": 0, "tombstone_gcs": 0,
             "conflicts": 0, "errors": []}
    watermark = {"seq": -1}  # advanced by the replay loop after each epoch

    def maintenance_loop():
        mt = LakeTable(spark, table_dir, concurrent_writers=True,
                       writer_grace_sec=600.0)
        # GC every ~5 epochs, not every tick: the tombstone purge is a
        # full-bucket compaction pass that resets delta generations, so a
        # per-tick cadence would mask the threshold-compaction path this
        # run is also meant to exercise
        last_gc = -1
        gc_stride = 5 * epoch_events
        while not stop.is_set():
            try:
                due = sorted(b for b, g in mt.bucket_delta_generations().items() if g >= 4)
                if due:
                    mt.compact_buckets(due, files_per_bucket=2)
                    maint["compactions"] += 1
                mt.expire_snapshots(keep_last=5)
                maint["expires"] += 1
                mt.vacuum(keep_snapshots=5)
                maint["vacuums"] += 1
                hz = watermark["seq"]
                if hz >= last_gc + gc_stride:
                    mt.purge_tombstones(hz, files_per_bucket=2)
                    maint["tombstone_gcs"] += 1
                    last_gc = hz
            except commitlog.ConcurrentWriteConflict:
                maint["conflicts"] += 1   # inputs moved: re-plan next tick
            except Exception as exc:      # pragma: no cover
                maint["errors"].append(repr(exc))
            stop.wait(2.0)

    mthread = None
    if not args.no_maintenance:
        mthread = threading.Thread(target=maintenance_loop, daemon=True)
        mthread.start()

    # ---- the replay loop (timed per epoch) ------------------------------
    epochs = sorted(int(d.split("=")[1]) for d in os.listdir(events_dir)
                    if d.startswith("epoch="))
    if not epochs:
        raise RuntimeError(
            f"no epoch= dirs under {events_dir} (stale _READY marker from a "
            f"consumed run?) — delete the dir and re-run"
        )
    if not args.keep_events:
        # consume-mode: drop the READY marker BEFORE the first epoch dir is
        # deleted — a crash mid-replay must force regeneration, not let a
        # re-run silently replay only the surviving tail
        try:
            os.remove(marker)
        except OSError:
            pass
    per_epoch: list[dict] = []
    for e in epochs:
        epoch_dir = os.path.join(events_dir, f"epoch={e}")
        te = time.monotonic()
        batch = spark.read.parquet(epoch_dir)
        pipe.apply_epoch(batch, e, offsets_hint=offsets_from_footers(epoch_dir))
        wall = time.monotonic() - te
        watermark["seq"] = (e + 1) * epoch_events - 1

        # bounded-metadata probes (all driver-side, no Spark job)
        td = time.monotonic()
        desc = pipe.table.describe()
        describe_ms = (time.monotonic() - td) * 1000
        ver = desc["version"]
        rec_bytes = os.path.getsize(os.path.join(table_dir, "_log", f"v{ver:08d}.json"))
        n_log = len(commitlog.list_versions(table_dir))
        row = {
            "epoch": e,
            "wall_sec": round(wall, 3),
            "events_per_sec": round(epoch_events / wall, 1),
            "version": ver,
            "commit_rec_bytes": rec_bytes,
            "retained_versions": n_log,
            "n_files": desc["n_files"],
            "n_delta_files": desc["n_delta_files"],
            "max_delta_generations": desc["max_delta_generations"],
            "fence_entries": len(desc["fences"]),
            "describe_ms": round(describe_ms, 2),
        }
        per_epoch.append(row)
        print(json.dumps(row), flush=True)
        if not args.keep_events:
            shutil.rmtree(epoch_dir, ignore_errors=True)

    if not args.keep_events:
        # the epoch dirs are gone, so the READY marker must go too or a
        # re-run would skip generation and find an empty log
        shutil.rmtree(events_dir, ignore_errors=True)

    stop.set()
    if mthread:
        mthread.join(timeout=300)

    # ---- flatness / boundedness verdicts --------------------------------
    def med(xs):
        xs = sorted(xs)
        n = len(xs)
        return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2

    walls = [r["wall_sec"] for r in per_epoch]
    # first two epochs carry JVM/codegen spin-up; tiny smoke runs keep all
    warm = walls[2:] if len(walls) > 2 else walls
    q = max(1, len(warm) // 4)
    early, late = med(warm[:q]), med(warm[-q:])
    drift = late / early if early else float("inf")
    final_rows = pipe.table.read().count()
    summary = {
        "events": args.events,
        "epochs": len(per_epoch),
        "epoch_events": epoch_events,
        "n_keys": n_keys,
        "cpus": args.cpus,
        "sustained_events_per_sec": round(epoch_events / med(warm), 1),
        "median_epoch_sec": round(med(warm), 3),
        "early_quartile_median_sec": round(early, 3),
        "late_quartile_median_sec": round(late, 3),
        "wall_drift_late_over_early": round(drift, 3),
        "max_commit_rec_bytes": max(r["commit_rec_bytes"] for r in per_epoch),
        "max_retained_versions": max(r["retained_versions"] for r in per_epoch),
        "max_describe_ms": max(r["describe_ms"] for r in per_epoch),
        "max_n_files": max(r["n_files"] for r in per_epoch),
        "final_rows": final_rows,
        "maintenance": maint,
        "table_bytes": _dir_bytes(table_dir),
        "per_epoch": per_epoch,
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/endurance_raw.json", "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "per_epoch"}))
    spark.stop()


if __name__ == "__main__":
    main()
