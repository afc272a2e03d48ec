"""Multi-writer optimistic concurrency (OCC publish layer, lake/table.py
``_publish``): the operational race this exists for is the maintenance
cron (run_maintain.py: compaction / tombstone GC) interleaving with a live
ingest pipeline on the SAME table. Before the OCC layer one side died with
CommitConflict — or worse, reclaimed the other's in-flight version dir as
"crashed debris".

Threading note: py4j releases the GIL around every JVM call and the
staged-rename/commit race is pure Python file I/O, so CPython threads
exercise real interleavings here.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from foundry_es_spark.lake import log as commitlog
from foundry_es_spark.lake.table import LakeTable

FIELDS = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]


@pytest.fixture
def tmp_table(tmp_path):
    return str(tmp_path / "t")


def _batch(spark, rows):
    return spark.createDataFrame(
        [(*r[:5], r[5], r[6]) for r in rows],
        "repo string, path string, commit string, lang string, "
        "content string, _seq long, _op string",
    )


def _rows(i, n=40):
    # epoch i upserts n keys spread over every bucket, seq strictly grows
    return [
        (f"r{k % 8}", f"p{k}", f"c{i}", "py", f"v{i}.{k}", i * 1000 + k, "I")
        for k in range(n)
    ]


def test_ingest_races_compaction(spark, tmp_table):
    """Append epochs in one thread while another loop-compacts the same
    buckets. Every epoch must land exactly once (no lost deltas, fences
    contiguous), the final merged state must equal a sequential reference
    run, and the path==commit-version invariant must hold for every live
    file (the change feed depends on it)."""
    t = LakeTable.create(spark, tmp_table, FIELDS, n_buckets=4)
    t.concurrent_writers = True
    t.writer_grace_sec = 120.0
    n_epochs = 6
    errors: list = []
    done = threading.Event()

    def ingest():
        try:
            for i in range(n_epochs):
                t.append_delta(_batch(spark, _rows(i)), fence=("p", i))
        except Exception as exc:  # pragma: no cover
            errors.append(exc)
        finally:
            done.set()

    def maintain():
        try:
            while not done.is_set():
                try:
                    t.compact_buckets([0, 1, 2, 3])
                except commitlog.ConcurrentWriteConflict:
                    continue  # inputs moved: re-plan next loop
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    ti, tm = threading.Thread(target=ingest), threading.Thread(target=maintain)
    ti.start(); tm.start()
    ti.join(timeout=300); tm.join(timeout=300)
    assert not errors, errors
    assert not ti.is_alive() and not tm.is_alive()

    # all epochs fenced contiguously
    rec = t._current()
    assert rec["fences"]["p"]["max_epoch"] == n_epochs - 1
    assert rec["fences"]["p"]["extra"] == []

    # final state == sequential reference
    ref_dir = tmp_table + "_ref"
    r = LakeTable.create(spark, ref_dir, FIELDS, n_buckets=4)
    for i in range(n_epochs):
        r.append_delta(_batch(spark, _rows(i)), fence=("p", i))
    got = sorted(
        tuple(x) for x in t.read().select("repo", "path", "commit", "content").collect()
    )
    exp = sorted(
        tuple(x) for x in r.read().select("repo", "path", "commit", "content").collect()
    )
    assert got == exp and len(got) == 40

    # path prefix of every live file names the commit that added it
    for f in rec["files"]:
        v = int(f["path"].split("/")[1].lstrip("c"))
        committed = commitlog.read_commit(tmp_table, v)
        assert any(g["path"] == f["path"] for g in committed["files"])


def test_two_append_writers_interleave(spark, tmp_table):
    """Two writers (distinct pipelines, e.g. routed streams into one
    table) appending concurrently: every commit lands, versions are
    distinct and dense, both fence chains complete, and the merged state
    holds both key spaces."""
    t1 = LakeTable(spark, tmp_table, concurrent_writers=True, writer_grace_sec=120)
    LakeTable.create(spark, tmp_table, FIELDS, n_buckets=4)
    t2 = LakeTable(spark, tmp_table, concurrent_writers=True, writer_grace_sec=120)
    errors: list = []

    def writer(t, pid, repo):
        try:
            for i in range(4):
                rows = [(repo, f"p{i}", f"c{i}", "py", f"v{i}", i + 1, "I")]
                t.append_delta(_batch(spark, rows), fence=(pid, i))
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    a = threading.Thread(target=writer, args=(t1, "A", "ra"))
    b = threading.Thread(target=writer, args=(t2, "B", "rb"))
    a.start(); b.start(); a.join(timeout=300); b.join(timeout=300)
    assert not errors, errors
    rec = t1._current()
    assert rec["version"] == 8  # create(0) + 8 appends, dense
    assert rec["fences"]["A"]["max_epoch"] == 3
    assert rec["fences"]["B"]["max_epoch"] == 3
    state = {(r.repo, r.path) for r in t1.read().collect()}
    assert state == {("ra", f"p{i}") for i in range(4)} | {
        ("rb", f"p{i}") for i in range(4)
    }


def test_duplicate_epoch_from_second_writer_is_rejected(spark, tmp_table):
    """Zombie-driver guard: if another writer fenced the same
    (pipeline_id, epoch) while our write was in flight, committing would
    double-apply — the publish aborts with EpochAlreadyFenced and discards
    its staged files."""
    t = LakeTable.create(spark, tmp_table, FIELDS, n_buckets=2)
    t.concurrent_writers = True

    orig = t._publish

    def racing_publish(staged_rel, make_record, max_retries=64):
        # the "other driver" fences epoch 0 between our write and commit
        if not t._fence_covers(t._current()["fences"], "p", 0):
            t2 = LakeTable(spark, t.table_dir)
            t2.fence_epoch_only("p", 0)
        return orig(staged_rel, make_record, max_retries)

    t._publish = racing_publish
    with pytest.raises(commitlog.EpochAlreadyFenced):
        t.append_delta(_batch(spark, [("r", "p", "c", "py", "v", 1, "I")]),
                       fence=("p", 0))
    t._publish = orig
    # nothing was published, no orphan claimed dir blocks the next writer
    assert t.read().count() == 0
    t.append_delta(_batch(spark, [("r", "p", "c", "py", "v", 2, "I")]),
                   fence=("p", 1))
    assert t.read().count() == 1


def test_cow_merge_conflict_detected(spark, tmp_table):
    """Copy-on-write merge validates its read set at publish: a concurrent
    append into an affected bucket cannot be silently dropped."""
    t = LakeTable.create(spark, tmp_table, FIELDS, n_buckets=2)
    t.concurrent_writers = True
    t.merge_upsert(_batch(spark, [("r1", "a", "c0", "py", "v0", 1, "I")]))

    orig = t._publish
    injected = {"done": False}

    def racing_publish(staged_rel, make_record, max_retries=64):
        if not injected["done"]:
            injected["done"] = True
            t2 = LakeTable(spark, t.table_dir, concurrent_writers=True)
            t2.append_delta(_batch(spark, [("r1", "b", "c1", "py", "v1", 2, "I")]))
        return orig(staged_rel, make_record, max_retries)

    t._publish = racing_publish
    with pytest.raises(commitlog.ConcurrentWriteConflict):
        t.merge_upsert(_batch(spark, [("r1", "a", "c2", "py", "v2", 3, "I")]))
    t._publish = orig
    # the concurrent append survived; re-running the merge now succeeds
    t.merge_upsert(_batch(spark, [("r1", "a", "c2", "py", "v2", 3, "I")]))
    state = {(r.path, r.content) for r in t.read().collect()}
    assert state == {("a", "v2"), ("b", "v1")}


def test_vacuum_spares_inflight_but_reclaims_stale(spark, tmp_table):
    """vacuum must not delete a concurrent writer's staged/claimed dirs
    while they are inside the grace window, and must reclaim them once
    stale (crashed writer)."""
    import os
    import time

    t = LakeTable.create(spark, tmp_table, FIELDS, n_buckets=2)
    t.concurrent_writers = True
    t.writer_grace_sec = 3600.0
    t.append_delta(_batch(spark, [("r", "p", "c", "py", "v", 1, "I")]))

    fresh_stage = os.path.join(tmp_table, t._stage_rel())
    head = t._current()["version"]
    claimed = os.path.join(tmp_table, f"data/c{head + 1:08d}")
    os.makedirs(claimed, exist_ok=True)
    t.vacuum()
    assert os.path.isdir(fresh_stage), "in-flight staging dir vacuumed"
    assert os.path.isdir(claimed), "in-flight claimed dir vacuumed"

    t.writer_grace_sec = 0.05
    time.sleep(0.1)
    t.vacuum()
    assert not os.path.isdir(fresh_stage)
    assert not os.path.isdir(claimed)
    assert t.read().count() == 1


def test_pipeline_epochs_race_maintenance_cron(spark, tmp_path):
    """The real deployment race: a CdcPipeline (fused task-writer sink)
    applies epochs while a maintenance loop (run_maintain's compaction +
    tombstone GC shapes) hammers the same table. Exactly-once must hold
    (all epochs fenced once), and the final state must be bit-identical to
    an uncontended sequential run of the same event log."""
    from foundry_es_spark.fixtures import gen_change_events, write_event_log
    from foundry_es_spark.plans import CdcPipeline, PipelineConfig

    events_dir = str(tmp_path / "events")
    ev = gen_change_events(spark, n_events=4000, n_keys=400, lines_mod=10)
    write_event_log(ev, events_dir, epoch_size=1000)

    cfg = dict(n_buckets=4, files_per_bucket=1)
    pipe = CdcPipeline(spark, PipelineConfig(
        pipeline_id="race", table_dir=str(tmp_path / "t"),
        concurrent_writers=True, **cfg,
    ))
    t = pipe.table
    t.writer_grace_sec = 300.0
    errors: list = []
    done = threading.Event()

    def ingest():
        try:
            pipe.replay_event_dir(events_dir)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)
        finally:
            done.set()

    def maintain():
        try:
            while not done.is_set():
                try:
                    t.compact_buckets([0, 1, 2, 3])
                    t.purge_tombstones(horizon_seq=0)
                except commitlog.ConcurrentWriteConflict:
                    continue
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    ti, tm = threading.Thread(target=ingest), threading.Thread(target=maintain)
    ti.start(); tm.start(); ti.join(timeout=600); tm.join(timeout=600)
    assert not errors, errors

    ref = CdcPipeline(spark, PipelineConfig(
        pipeline_id="race", table_dir=str(tmp_path / "ref"), **cfg,
    ))
    ref.replay_event_dir(events_dir)

    def digest(table):
        return sorted(
            tuple(x)
            for x in table.read()
            .select("repo", "path", "commit", "content_sha256")
            .collect()
        )

    assert digest(t) == digest(ref.table)
    rec = t._current()
    assert rec["fences"]["race"]["max_epoch"] == 3
    # duplicate delivery after the race is still a fenced no-op
    again = pipe.replay_event_dir(events_dir, from_epoch=0)
    assert all(r["skipped"] for r in again)
