"""A/B of the epoch body's physical paths, as they existed before they were
collapsed to one path per shape. Run it against a checkout of the commit
that still had them (``git archive ac84b5d | tar -x -C <dir>``): the
variants below set config fields that later commits removed.

    python BENCH/ab_epoch_paths.py --code <checkout> --work <dir> --alt --passes 2
    python BENCH/ab_epoch_paths.py --code <checkout> --work <dir> --rss enr_fused

``--alt`` runs every variant in one warm Spark session (one discarded
warm-up run, then the variants in forward order, reverse order, ...).
``--rss`` runs one variant in its own process and samples the Python
worker RSS the way ``perfbench`` does. Each run replays the perfbench
seed-101 log (20 x 2,000-event epochs, 3,000 keys) on ``local[nproc/2]``
with 16 buckets, ``files_per_bucket=2``, ``hot_bucket_salts=8`` and
``compact_threshold=3``, and prints one JSON line: the epoch p50 over
epochs 3-19, a full read of the final table (live deltas), the digest
of that table, and (MoR only) a full read after ``compact()``.
"""
import argparse
import json
import os
import shutil
import statistics
import sys
import time

ap = argparse.ArgumentParser()
ap.add_argument("--code", required=True, help="checkout to import the engine from")
ap.add_argument("--work", required=True, help="scratch dir for the log and tables")
ap.add_argument("--alt", action="store_true")
ap.add_argument("--rss", default=None)
ap.add_argument("--passes", type=int, default=2)
ap.add_argument("--only", default=None, help="comma-separated variant subset")
args = ap.parse_args()
sys.path[:0] = [os.path.join(args.code, "perfbench"), args.code]
import loadgen  # noqa: E402
import probes  # noqa: E402

SHAPE = loadgen.LogShape(n_events=2000 * 20, epoch_size=2000, n_keys=3000)
VARIANTS = {
    "enr_sorted_mor": dict(normalize=True),
    "enr_agg": dict(normalize=True, compact_strategy="agg"),
    "enr_winners": dict(normalize=True, compact_strategy="winners"),
    "enr_cow": dict(normalize=True, merge_mode="cow"),
    "enr_fused": dict(normalize=True, fused_write=True),
    "rep_sorted_fused": dict(normalize=False),
    "rep_agg": dict(normalize=False, compact_strategy="agg"),
    "rep_winners": dict(normalize=False, compact_strategy="winners"),
    "rep_jvm": dict(normalize=False, fused_write=False),
}


def main() -> None:
    events, _ = loadgen.cached_log(os.path.join(args.work, "logs"), SHAPE, 101)
    n = probes.nproc()
    heap = f"{min(2048, max(1024, probes.mem_total_mb() // 16))}m"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    from foundry_es_spark.session import get_spark

    spark = get_spark(
        master=f"local[{max(1, n // 2)}]", app_name="ab", shuffle_partitions=2 * n,
        extra_conf={"spark.driver.memory": heap,
                    "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch"},
    )
    from foundry_es_spark.oracle import spark_table_digest
    from foundry_es_spark.plans import CdcPipeline, PipelineConfig, offsets_from_footers

    epochs = sorted(int(d.split("=")[1]) for d in os.listdir(events) if d.startswith("epoch="))

    def run(name: str) -> dict:
        tdir = os.path.join(args.work, "t_" + name)
        shutil.rmtree(tdir, ignore_errors=True)
        pipe = CdcPipeline(spark, PipelineConfig(
            pipeline_id=name, table_dir=tdir, n_buckets=16, files_per_bucket=2,
            hot_bucket_salts=8, compact_threshold=3, **VARIANTS[name]))
        walls = []
        for e in epochs:
            ed = os.path.join(events, f"epoch={e}")
            t0 = time.perf_counter()
            pipe.apply_epoch(spark.read.parquet(ed), e, offsets_hint=offsets_from_footers(ed))
            walls.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        pipe.table.read().select("repo", "path", "content").collect()
        out = {"variant": name, "epoch_p50_s": round(statistics.median(walls[3:20]), 3),
               "final_read_s": round(time.perf_counter() - t0, 3),
               "digest": spark_table_digest(pipe.table.read())[:16]}
        if VARIANTS[name].get("merge_mode", "mor") == "mor":
            pipe.table.compact()
            t0 = time.perf_counter()
            pipe.table.read().select("repo", "path", "content").collect()
            out["compacted_read_s"] = round(time.perf_counter() - t0, 3)
        shutil.rmtree(tdir, ignore_errors=True)
        return out

    if args.alt:
        names = args.only.split(",") if args.only else [v for v in VARIANTS if v != "enr_fused"]
        run(names[0])  # warm-up, discarded
        for p in range(args.passes):
            for v in names if p % 2 == 0 else names[::-1]:
                print(json.dumps({"pass": p, **run(v)}), flush=True)
    else:
        with probes.RssSampler() as rss:
            r = run(args.rss)
        print(json.dumps({**r, "python_worker_rss_mb": round(rss.python_kb / 1024, 1),
                          "jvm_peak_rss_mb": round(rss.jvm_kb / 1024, 1)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
