"""C2 patch-op (partial update) suite: the columnar one-aggregate fold vs a
row-at-a-time pandas oracle, cross-epoch resolution against stored rows,
orphan no-ops (counted), patch-after-delete, and exactly-once under a
patched stream."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from foundry_es_spark.fixtures import (
    as_patch_events,
    gen_change_events,
    write_event_log,
)
from foundry_es_spark.operators.cdc import compact_latest_patch
from foundry_es_spark.oracle import fold_events_patch
from foundry_es_spark.plans import CdcPipeline, PipelineConfig
from foundry_es_spark.schema import EVENT_SCHEMA


def _pipe(spark, tmp_path, name="pp", **kw):
    return CdcPipeline(
        spark,
        PipelineConfig(
            pipeline_id=name,
            table_dir=str(tmp_path / name),
            n_buckets=8,
            patch_ops=True,
            **kw,
        ),
    )


def _patched_events(spark, n_events=3000, n_keys=250):
    return as_patch_events(
        gen_change_events(spark, n_events=n_events, n_keys=n_keys, lines_mod=20)
    )


def test_patch_fold_matches_pandas_oracle(spark):
    """The one-aggregate columnar fold (max_by per column over setter
    events) equals a literal seq-order replay, for every key: surviving
    values, delete set, and net op."""
    ev = _patched_events(spark)
    pdf = ev.toPandas()
    assert (pdf["op"] == "P").sum() > 100, "fixture must actually emit patches"

    got = compact_latest_patch(ev).toPandas()
    # every key has an in-batch base (first event per key is I), so no net-P
    assert not (got["op"] == "P").any()

    expected = fold_events_patch(pdf)
    live = (
        got[got["op"] != "D"][["repo", "path", "commit", "lang", "content"]]
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        live, expected[["repo", "path", "commit", "lang", "content"]]
    )
    # deleted keys: exactly those the oracle dropped among keys seen
    seen = set(map(tuple, pdf[["repo", "path"]].drop_duplicates().to_numpy()))
    live_keys = set(map(tuple, expected[["repo", "path"]].to_numpy()))
    dead_keys = set(map(tuple, got[got["op"] == "D"][["repo", "path"]].to_numpy()))
    assert dead_keys == seen - live_keys


def test_patch_pipeline_cross_epoch_matches_oracle(spark, tmp_path):
    """E2E: a patched change log replayed in epochs (patches routinely land
    epochs after their base image) matches the row-at-a-time oracle, and
    duplicate delivery is fully skipped."""
    ev = _patched_events(spark)
    ev_dir = str(tmp_path / "events")
    write_event_log(ev, ev_dir, epoch_size=600)
    pipe = _pipe(spark, tmp_path)
    res = pipe.replay_event_dir(ev_dir)
    assert not any(r["skipped"] for r in res)

    got = (
        pipe.table.read()
        .select("repo", "path", "commit", "lang", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    exp = fold_events_patch(ev.toPandas())[
        ["repo", "path", "commit", "lang", "content_sha256"]
    ].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)

    again = pipe.replay_event_dir(ev_dir, from_epoch=0)
    assert all(r["skipped"] for r in again)


def _mk_events(spark, rows):
    data = [
        (seq, None, op, repo, path, commit, lang, content)
        for (seq, op, repo, path, commit, lang, content) in rows
    ]
    return spark.createDataFrame(data, EVENT_SCHEMA)


def test_patch_semantics_handcrafted(spark, tmp_path):
    """Pinned semantics: lang-only patch keeps stored content (digest
    unchanged), content patch recomputes the digest, patch on a missing key
    is a counted no-op, patch after delete stays deleted."""
    pipe = _pipe(spark, tmp_path, name="hand")
    e0 = _mk_events(
        spark,
        [
            (1, "I", "r1", "a", "c-a0", "py", "content-a"),
            (2, "I", "r1", "b", "c-b0", "md", "content-b"),
            (3, "I", "r2", "c", "c-c0", "c", "content-c"),
        ],
    )
    pipe.apply_epoch(e0, 0)
    e1 = _mk_events(
        spark,
        [
            (100, "P", "r1", "a", None, "rust", None),        # lang-only patch
            (101, "P", "r1", "b", None, None, "content-b2"),  # content patch
            (102, "P", "r9", "zz", None, "xx", None),         # orphan: no such key
            (103, "D", "r2", "c", None, None, None),
            (104, "P", "r2", "c", None, "java", None),        # patch after delete
        ],
    )
    info = pipe.apply_epoch(e1, 1)
    assert info["n_orphan_patches"] == 1
    assert info["n_deletes"] == 1

    rows = {
        (r["repo"], r["path"]): r
        for r in pipe.table.read().collect()
    }
    assert set(rows) == {("r1", "a"), ("r1", "b")}
    import hashlib

    a = rows[("r1", "a")]
    assert a["lang"] == "rust"
    assert a["commit"] == "c-a0"  # unset in the patch -> stored value kept
    assert a["content_sha256"] == hashlib.sha256(b"content-a").hexdigest()
    b = rows[("r1", "b")]
    assert b["lang"] == "markdown"  # T3 canonicalization of the stored "md"
    assert b["content_sha256"] == hashlib.sha256(b"content-b2").hexdigest()

    # exactly-once: the patch epoch re-delivered is a fenced no-op
    assert pipe.apply_epoch(e1, 1)["skipped"]


def test_patch_validity_and_config_guards(spark, tmp_path):
    """op='P' is only admitted when patch_ops is on (otherwise quarantined
    as a dead letter), and patch_ops + suppress_no_ops is rejected."""
    from foundry_es_spark.operators.cdc import validate_split

    ev = _mk_events(spark, [(1, "P", "r1", "a", None, "rust", None)])
    ok_off, dead_off = validate_split(ev, allow_patch=False)
    assert ok_off.count() == 0 and dead_off.count() == 1
    ok_on, dead_on = validate_split(ev, allow_patch=True)
    assert ok_on.count() == 1 and dead_on.count() == 0

    with pytest.raises(ValueError, match="suppress_no_ops"):
        CdcPipeline(
            spark,
            PipelineConfig(
                pipeline_id="x",
                table_dir=str(tmp_path / "x"),
                patch_ops=True,
                suppress_no_ops=True,
            ),
        )


def test_patch_resolve_merge_equals_write(spark, tmp_path):
    """patch_resolve='merge' (deferred, Paimon partial-update-merge shape)
    and the default resolve-at-write must produce IDENTICAL public state
    over the same stream — cross-epoch patches, stacked patches, orphans,
    patch-after-delete, full-image overwrites — and the merge-mode state
    must survive compaction (the fold is how every reader sees the table,
    so compaction folding it permanently cannot change anything)."""
    ev = _patched_events(spark, n_events=2400, n_keys=200)
    states = {}
    for mode in ("write", "merge"):
        pipe = _pipe(spark, tmp_path, name=f"m_{mode}", patch_resolve=mode)
        for e, (lo, hi) in enumerate([(0, 800), (800, 1600), (1600, 2400)]):
            chunk = ev.where((F.col("seq") >= lo) & (F.col("seq") < hi))
            pipe.apply_epoch(chunk, e)
        cols = ["repo", "path", "commit", "lang", "content", "content_sha256"]
        states[mode] = sorted(tuple(r) for r in pipe.table.read().select(cols).collect())
        pipe.table.compact(files_per_bucket=1)
        after = sorted(tuple(r) for r in pipe.table.read().select(cols).collect())
        assert states[mode] == after, f"{mode}: compaction changed state"
    assert states["write"] == states["merge"]


def test_patch_resolve_merge_epoch_has_no_stored_read(spark, tmp_path):
    """The scale contract of deferred resolution: the epoch body reads NO
    stored state. _resolve_patches (the only stored-state reader in the
    patch path — C3 is config-excluded) must never run; resolve-at-write
    pays that bucket read every epoch, which degrades to O(table) under
    key-uniform patches (measured 2.3-3.3x epoch wall on the bench)."""
    pipe = _pipe(spark, tmp_path, name="noread", patch_resolve="merge")
    pipe.apply_epoch(
        _mk_events(spark, [(1, "I", "r1", "a", "c0", "py", "v0")]), 0
    )

    def _boom(*a, **k):  # pragma: no cover - assertion helper
        raise AssertionError("merge-mode epoch read stored state")

    pipe._resolve_patches = _boom
    info = pipe.apply_epoch(
        _mk_events(spark, [(2, "P", "r1", "a", None, "rust", None)]), 1
    )
    assert info["skipped"] is False
    row = pipe.table.read().collect()[0]
    assert row["lang"] == "rust" and row["content"] == "v0"
    assert row["content_sha256"] is not None  # base digest survived the fold


def test_patch_fold_survives_ranged_merge(spark, tmp_path, monkeypatch):
    """merge-mode patches through the bounded-memory RANGED merge: forcing
    merge_range_target_bytes=1 makes every bucket merge range-by-range;
    ranges partition the key space, so the per-range fold must see each
    key's full run — the folded state must equal the whole-bucket path."""
    from foundry_es_spark.lake import LakeTable

    pipe = _pipe(spark, tmp_path, name="rng", patch_resolve="merge")
    ev = _patched_events(spark, n_events=1500, n_keys=120)
    for e, (lo, hi) in enumerate([(0, 750), (750, 1500)]):
        pipe.apply_epoch(ev.where((F.col("seq") >= lo) & (F.col("seq") < hi)), e)
    cols = ["repo", "path", "commit", "lang", "content", "content_sha256"]
    whole = sorted(tuple(r) for r in pipe.table.read().select(cols).collect())
    monkeypatch.setattr(LakeTable, "merge_range_target_bytes", 1)
    ranged = sorted(tuple(r) for r in pipe.table.read().select(cols).collect())
    assert whole == ranged


def test_patch_resolve_config_guards(spark, tmp_path):
    with pytest.raises(ValueError, match="patch_resolve"):
        _pipe(spark, tmp_path, name="bad1", patch_resolve="defer")


def test_orphan_only_epoch_reports_exact_metrics(spark, tmp_path):
    """Regression (AQE empty-relation pruning vs Observation): an epoch
    whose only event is an orphan patch folds to an EMPTY merge batch;
    AQEPropagateEmptyRelation used to eliminate the CollectMetrics nodes,
    crashing Observation.get with a schema-less Row (toPyRow assertion)
    and — for the orphan counter riding the resolution join, whose input
    HAD a row — silently undercounting. apply_epoch now excludes that AQE
    rule for the epoch body, so lineage stays exact."""
    assert (
        spark.conf.get("spark.sql.adaptive.enabled", "true") == "true"
    ), "regression only meaningful with AQE on"
    pipe = _pipe(spark, tmp_path, name="orph")
    pipe.apply_epoch(
        _mk_events(spark, [(1, "I", "r1", "a", "c0", "py", "content-a")]), 0
    )
    info = pipe.apply_epoch(
        _mk_events(spark, [(2, "P", "r9", "zz", None, None, None)]), 1
    )
    assert info["n_orphan_patches"] == 1
    assert info["n_keys"] == 0 and info["n_deletes"] == 0
    # the exclusion is scoped: the session conf is restored afterwards
    assert not spark.conf.get(
        "spark.sql.adaptive.optimizer.excludedRules", ""
    ), "epoch body leaked the AQE rule exclusion into the session"
    assert [r["path"] for r in pipe.table.read().collect()] == ["a"]


def test_patch_with_schema_evolution(spark, tmp_path):
    """A patch may carry a column the table has never seen: C7 evolves the
    schema first (resolution runs after evolve_for_batch), the stored row
    coalesces for every other column, and pre-evolution rows read null for
    the new column."""
    pipe = _pipe(spark, tmp_path, name="evo")
    e0 = _mk_events(
        spark,
        [
            (1, "I", "r1", "a", "c-a0", "python", "content-a"),
            (2, "I", "r1", "b", "c-b0", "java", "content-b"),
        ],
    )
    pipe.apply_epoch(e0, 0)

    evolved = T.StructType(
        list(EVENT_SCHEMA.fields) + [T.StructField("n_stars", T.LongType(), True)]
    )
    e1 = spark.createDataFrame(
        [(100, None, "P", "r1", "a", None, None, None, 42)], evolved
    )
    info = pipe.apply_epoch(e1, 1)
    assert info.get("n_orphan_patches", 0) == 0

    rows = {(r["repo"], r["path"]): r for r in pipe.table.read().collect()}
    a, b = rows[("r1", "a")], rows[("r1", "b")]
    assert a["n_stars"] == 42
    assert a["content_sha256"] is not None and a["lang"] == "python"
    assert a["commit"] == "c-a0"  # untouched columns resolved from storage
    assert b["n_stars"] is None  # pre-evolution row unaffected


def test_patch_resolution_reads_only_touched_buckets(spark, tmp_path):
    """Scale contract: the patch-resolution state read is bucket-pruned —
    an epoch patching one repo opens only that repo's bucket files, not
    the table. Asserted the same way the selective-read tests do: via the
    files the pruned plan lists."""
    pipe = _pipe(spark, tmp_path, name="prune")
    base = _mk_events(
        spark,
        [(i, "I", f"r{i}", "f", f"c{i}", "py", f"content-{i}") for i in range(1, 17)],
    )
    pipe.apply_epoch(base, 0)

    from foundry_es_spark.lake.table import bucket_expr

    # pick one repo; compute its bucket and assert the pruned file list for
    # the patch read is the single-bucket subset
    tgt = "r7"
    n_buckets = pipe.cfg.n_buckets
    bkt = (
        spark.createDataFrame([(tgt,)], "repo string")
        .select(bucket_expr(n_buckets).alias("b"))
        .collect()[0][0]
    )
    table = pipe.table
    rec = table._current()
    pruned = table._pruned_files(rec, None, [bkt])
    all_files = rec["files"]
    assert len(pruned) < len(all_files)
    e1 = _mk_events(spark, [(100, "P", tgt, "f", None, "go", None)])
    info = pipe.apply_epoch(e1, 1)
    assert info.get("n_orphan_patches", 0) == 0
    got = pipe.table.read(repos=[tgt]).collect()[0]
    assert got["lang"] == "go" and got["commit"] == "c7"
