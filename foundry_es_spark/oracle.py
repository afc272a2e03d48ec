"""Independent correctness oracle: a pure-pandas fold of the event log.

This is the "reference output" stand-in (SURVEY.md §5.2): deliberately
naive, single-node, and written with none of the engine's code so a bug
cannot cancel itself out. Expected final state = for each (repo, path),
the max-seq event; rows whose final op is D are deleted.
"""

from __future__ import annotations

import hashlib

import pandas as pd


def fold_events(events: pd.DataFrame, extra_cols: list[str] | None = None) -> pd.DataFrame:
    """Fold a change log into expected final table state.

    `events` columns: seq, op, repo, path, commit, lang, content (+ any
    evolved payload columns listed in `extra_cols`). Returns one row per
    surviving key with `content_sha256` computed independently via
    hashlib.
    """
    cols = ["seq", "op", "repo", "path", "commit", "lang", "content"] + (extra_cols or [])
    df = events[[c for c in cols if c in events.columns]].copy()
    for c in cols:
        if c not in df.columns:
            df[c] = None
    df = df.sort_values("seq", kind="mergesort")
    # literal last-row semantics (whole-row replace, like MERGE UPDATE SET *)
    last = df.drop_duplicates(subset=["repo", "path"], keep="last")
    live = last[last["op"] != "D"].copy()
    live["content_sha256"] = live["content"].map(
        lambda s: hashlib.sha256(s.encode("utf-8")).hexdigest() if isinstance(s, str) else None
    )
    out_cols = ["repo", "path", "commit", "lang", "content_sha256", "seq"] + (extra_cols or [])
    return live[out_cols].sort_values(["repo", "path"]).reset_index(drop=True)


def fold_events_patch(events: pd.DataFrame) -> pd.DataFrame:
    """Patch-aware fold oracle (compact_latest_patch semantics): I/U set
    the full image, D deletes, P overwrites exactly its non-null columns
    and is a no-op against a missing/deleted key. Row-at-a-time on purpose
    — the independent reference the one-aggregate kernel is checked
    against."""
    df = events[["seq", "op", "repo", "path", "commit", "lang", "content"]].sort_values(
        "seq", kind="mergesort"
    )
    state: dict = {}
    for r in df.itertuples(index=False):
        k = (r.repo, r.path)
        if r.op in ("I", "U"):
            state[k] = {"commit": r.commit, "lang": r.lang, "content": r.content}
        elif r.op == "D":
            state.pop(k, None)
        elif r.op == "P":
            cur = state.get(k)
            if cur is not None:
                for c in ("commit", "lang", "content"):
                    v = getattr(r, c)
                    if v is not None and not (isinstance(v, float) and pd.isna(v)):
                        cur[c] = v
    rows = [{"repo": k[0], "path": k[1], **v} for k, v in state.items()]
    out = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    out["content_sha256"] = out["content"].map(
        lambda s: hashlib.sha256(s.encode("utf-8")).hexdigest() if isinstance(s, str) else None
    )
    return out.sort_values(["repo", "path"]).reset_index(drop=True)


def fold_events_multi(phases: list[pd.DataFrame], extra_cols: list[str]) -> pd.DataFrame:
    """Fold a schema-evolving log: phases concatenated after normalizing
    to the FINAL schema (rename meta_license→license happens here so the
    oracle matches what the evolved sink table must contain)."""
    norm = []
    for p in phases:
        p = p.copy()
        if "meta_license" in p.columns and "license" not in p.columns:
            p = p.rename(columns={"meta_license": "license"})
        norm.append(p)
    allp = pd.concat(norm, ignore_index=True)
    # a phase that lacks a string column leaves NaN after concat; the
    # engine reads those cells back as None
    for c in allp.columns:
        if allp[c].dtype == object:
            allp[c] = allp[c].where(allp[c].notna(), None)
    if "n_stars" in allp.columns:
        allp["n_stars"] = allp["n_stars"].astype("Int64")
    return fold_events(allp, extra_cols=extra_cols)


def table_digest(df: pd.DataFrame) -> str:
    """Golden rollup digest: sha256 over sorted `repo|path|commit|lang|sha`
    lines (SURVEY.md §5.2 item 3)."""
    rows = df.sort_values(["repo", "path"]).apply(
        lambda r: f"{r['repo']}|{r['path']}|{r['commit']}|{r['lang']}|{r['content_sha256']}",
        axis=1,
    )
    h = hashlib.sha256()
    for line in rows:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def spark_table_digest(df) -> str:
    """Spark-side twin of :func:`table_digest` — BIT-IDENTICAL framing:
    lines sorted by (repo, path) tuples (not by the rendered line — '|'
    sorts above digits, so line-sorting flips 'repo1' vs 'repo10'), a
    trailing newline after EVERY line, and the same null rendering as the
    pandas f-string. Determinism: collect_list is order-unstable across
    partitions, so the list is sort_array'd on a (repo, path, line) struct
    before folding — two identical replays always print the same digest.
    One final-reducer string build: this is the explicit verification
    query (--verify-digest), not a hot path."""
    from pyspark.sql import functions as F

    sha = (
        F.col("content_sha256")
        if "content_sha256" in df.columns
        else F.sha2(F.col("content"), 256)
    )

    def r(c):  # pandas f-string renders None as 'None'
        return F.coalesce(F.col(c).cast("string"), F.lit("None"))

    line = F.concat_ws("|", r("repo"), r("path"), r("commit"), r("lang"), sha)
    sel = df.select(F.col("repo"), F.col("path"), line.alias("l"))
    arr = F.sort_array(F.collect_list(F.struct("repo", "path", "l")))
    folded = F.aggregate(
        arr, F.lit(""), lambda acc, x: F.concat(acc, x["l"], F.lit("\n"))
    )
    return sel.agg(F.sha2(folded, 256).alias("digest")).collect()[0]["digest"]
