"""Seeded load generator and independent fold oracle for the benchmark.

Produces an F2-shaped change log (FIXTURES.md) as
``events/epoch=<e>/part=<p>/events.parquet`` with numpy + pyarrow only, so the
same ``(seed, shape)`` always gives byte-identical inputs and the expected
table state is computed without importing the engine:

- every seed salts the key -> repo mapping, the op draws, the body draws
  and the choice of the hot repo;
- op ratios follow F2: first event per key is ``I``; later events are
  ``U`` 85%, ``D`` 5%, re-``I`` 10%;
- bodies are ~1 KB (5..44 lines of ~42 bytes);
- ``hot_frac`` of all events land on one hot repo's keys.

The oracle digest uses the framing of ``oracle.table_digest``: sha256 over
``repo|path|commit|lang|sha256(content)`` lines, sorted by ``(repo, path)``,
each followed by a newline.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANG_EXTS = [
    ("py", "python"), ("scala", "scala"), ("java", "java"), ("sql", "sql"),
    ("md", "markdown"), ("json", "json"), ("yaml", "yaml"), ("c", "c"),
]
EPOCH_TS_US = 1767225600000 * 1000  # 2026-01-01T00:00:00Z
POOL_LINES = 8192
EVENT_SCHEMA = pa.schema([
    ("seq", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("op", pa.string()),
    ("repo", pa.string()),
    ("path", pa.string()),
    ("commit", pa.string()),
    ("lang", pa.string()),
    ("content", pa.string()),
])
DUMP_SCHEMA = pa.schema([(n, pa.string()) for n in ("repo", "path", "commit", "lang", "content")])


@dataclass(frozen=True)
class LogShape:
    n_events: int
    epoch_size: int
    n_keys: int
    n_repos: int = 64
    n_parts: int = 8
    hot_frac: float = 0.20
    lines_min: int = 5
    lines_mod: int = 40

    def epoch_bounds(self) -> list[tuple[int, int]]:
        cuts = [*range(0, self.n_events, self.epoch_size), self.n_events]
        return list(zip(cuts[:-1], cuts[1:]))

    def tag(self) -> str:
        return (
            f"n{self.n_events}_e{self.epoch_size}_k{self.n_keys}_r{self.n_repos}"
            f"_p{self.n_parts}_h{int(self.hot_frac * 100)}_l{self.lines_min}-{self.lines_mod}"
        )


def _sha1(s: str) -> str:
    return hashlib.sha1(s.encode()).hexdigest()


def _sha256(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


class _Keyspace:
    """Seed-salted key -> (repo, path, lang, n_lines, part) mapping."""

    def __init__(self, rng: np.random.Generator, shape: LogShape):
        r = shape.n_repos
        self.repo_of_key = rng.permutation(r)[np.arange(shape.n_keys) % r]
        names = [f"org{(i * 2654435761) % 7}/repo{i}" for i in range(r)]
        self.repo_names = np.array(names, dtype=object)
        self.part_of_repo = rng.integers(0, shape.n_parts, size=r)
        ext = rng.integers(0, len(LANG_EXTS), size=shape.n_keys)
        d1 = rng.integers(0, 7, size=shape.n_keys)
        d2 = rng.integers(0, 11, size=shape.n_keys)
        self.lang = np.array([LANG_EXTS[i][1] for i in ext], dtype=object)
        self.path = np.array(
            [f"src/d{a}/d{b}/file_{k}.{LANG_EXTS[e][0]}"
             for k, (a, b, e) in enumerate(zip(d1, d2, ext))],
            dtype=object,
        )
        self.n_lines = shape.lines_min + rng.integers(0, shape.lines_mod, size=shape.n_keys)
        self.hot_repo = int(rng.integers(0, r))

    def repo(self, key: int) -> str:
        return self.repo_names[self.repo_of_key[key]]


def _line_pool(rng: np.random.Generator) -> list[str]:
    hexes = rng.bytes(16 * POOL_LINES).hex()
    return [f"line {i}: {hexes[32 * i:32 * i + 32]}" for i in range(POOL_LINES)]


def _body(pool: list[str], head: str, offset: int, n: int) -> str:
    return head + "\n" + "\n".join(pool[offset:offset + n])


def generate_log(out_dir: str, shape: LogShape, seed: int) -> dict:
    """Write the log under ``out_dir/events`` and return its manifest
    (the shape, the hot repo and the per-epoch event counts)."""
    rng = np.random.default_rng([seed, 0xF2])
    ks = _Keyspace(rng, shape)
    pool = _line_pool(rng)
    n = shape.n_events
    hot_keys = np.flatnonzero(ks.repo_of_key == ks.hot_repo)
    is_hot = rng.random(n) < shape.hot_frac
    keys = np.where(is_hot, hot_keys[rng.integers(0, len(hot_keys), size=n)],
                    rng.integers(0, shape.n_keys, size=n))
    # per-key occurrence index (version) in seq order
    order = np.argsort(keys, kind="stable")
    sk = keys[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sk)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n]))
    version = np.empty(n, dtype=np.int64)
    version[order] = np.arange(n) - run_start
    draw = rng.integers(0, 100, size=n)
    op = np.where(version == 0, "I", np.where(draw < 85, "U", np.where(draw < 90, "D", "I")))
    offsets = rng.integers(0, POOL_LINES - shape.lines_min - shape.lines_mod, size=n)

    shutil.rmtree(out_dir, ignore_errors=True)
    epoch_events = []
    for e, (lo, hi) in enumerate(shape.epoch_bounds()):
        cols = {c: [] for c in EVENT_SCHEMA.names}
        parts = []
        for s in range(lo, hi):
            k = int(keys[s])
            repo, path = ks.repo(k), ks.path[k]
            o = op[s]
            if o == "D":
                commit = lang = content = None
            else:
                v = int(version[s])
                commit = _sha1(f"{repo}|{path}|{v}")
                lang = ks.lang[k]
                content = _body(pool, f"# {repo}/{path} v{v} s{seed}", int(offsets[s]),
                                int(ks.n_lines[k]))
            for c, val in zip(EVENT_SCHEMA.names,
                              (s, EPOCH_TS_US + s * 10_000, o, repo, path, commit, lang, content)):
                cols[c].append(val)
            parts.append(ks.part_of_repo[ks.repo_of_key[k]])
        tbl = pa.table(cols, schema=EVENT_SCHEMA)
        parts = np.array(parts)
        for p in np.unique(parts):
            d = os.path.join(out_dir, "events", f"epoch={e}", f"part={p}")
            os.makedirs(d)
            f = os.path.join(d, "events.parquet")
            pq.write_table(tbl.take(np.flatnonzero(parts == p)), f, compression="zstd")
            # file-stream sources order files by mtime: keep epochs in order
            os.utime(f, (1_700_000_000 + e, 1_700_000_000 + e))
        epoch_events.append(hi - lo)
    return {"seed": seed, "shape": asdict(shape), "hot_repo": ks.repo_names[ks.hot_repo],
            "epoch_events": epoch_events}


class Fold:
    """Expected table state, folded one epoch at a time: each key keeps its
    max-seq event unless that is a delete. Reads the log's parquet files
    back with pyarrow; imports nothing from the engine."""

    def __init__(self, events_dir: str):
        self.events_dir = events_dir
        self.last: dict[tuple, tuple] = {}

    def add(self, epoch: int) -> None:
        tbl = pq.read_table(os.path.join(self.events_dir, f"epoch={epoch}"),
                            schema=EVENT_SCHEMA)
        rows = zip(*(tbl.column(c).to_pylist() for c in
                     ("seq", "op", "repo", "path", "commit", "lang", "content")))
        last = self.last
        for seq, op, repo, path, commit, lang, content in rows:
            k = (repo, path)
            if k not in last or last[k][0] < seq:
                last[k] = (seq, op, commit, lang, content)

    def rows(self) -> list[tuple]:
        """Live rows ``(repo, path, commit, lang, sha256(content), content)``."""
        return [(k[0], k[1], commit, lang, _sha256(content), content)
                for k, (_, op, commit, lang, content) in self.last.items() if op != "D"]

    def digest(self) -> str:
        return state_digest(r[:5] for r in self.rows())


def fold(events_dir: str, epochs: range) -> list[tuple]:
    """Expected live rows after applying ``epochs`` of the log (see
    :class:`Fold`)."""
    f = Fold(events_dir)
    for e in epochs:
        f.add(e)
    return f.rows()


def state_digest(rows) -> str:
    """sha256 over sorted ``repo|path|commit|lang|content_sha256`` lines."""
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: (r[0], r[1])):
        h.update(("|".join("None" if v is None else str(v) for v in r) + "\n").encode())
    return h.hexdigest()


def cached_log(cache_root: str, shape: LogShape, seed: int) -> tuple[str, dict]:
    """Generate the log for ``(seed, shape)`` once under ``cache_root``;
    later calls reuse it. Returns the ``events`` directory and the
    manifest."""
    d = os.path.join(cache_root, f"log_s{seed}_{shape.tag()}")
    mf = os.path.join(d, "_manifest.json")
    if os.path.exists(mf):
        with open(mf) as f:
            return os.path.join(d, "events"), json.load(f)
    tmp = d + ".tmp"
    man = generate_log(tmp, shape, seed)
    with open(os.path.join(tmp, "_manifest.json"), "w") as f:
        json.dump(man, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return os.path.join(d, "events"), man


def make_dump(out_path: str, live: list[tuple], salt: tuple[int, ...],
              change_frac: float = 0.05, delete_frac: float = 0.02) -> tuple[dict, list[tuple]]:
    """Re-harvest dump of the ``live`` image (``(repo, path, commit, lang,
    sha, content)`` rows): ``change_frac`` of rows get a new body and
    commit, ``delete_frac`` are dropped; ``salt`` seeds the draws. Returns
    the dump's digest, row count and changed / deleted row counts, and the
    dump's own image (the ``live`` of the next dump in a chain)."""
    rng = np.random.default_rng([*salt, 0xD0])
    tag = "-".join(map(str, salt))
    draw = rng.random(len(live))
    cols = {c: [] for c in DUMP_SCHEMA.names}
    image, n_changed = [], 0
    for (repo, path, commit, lang, sha, body), u in zip(live, draw):
        if u < delete_frac:
            continue
        if u < delete_frac + change_frac:
            body = body + f"\nrevised {tag}"
            commit, sha = _sha1(f"{repo}|{path}|dump{tag}"), _sha256(body)
            n_changed += 1
        for c, v in zip(DUMP_SCHEMA.names, (repo, path, commit, lang, body)):
            cols[c].append(v)
        image.append((repo, path, commit, lang, sha, body))
    pq.write_table(pa.table(cols, schema=DUMP_SCHEMA), out_path, compression="zstd")
    info = {"rows": len(image), "changed": n_changed, "deleted": len(live) - len(image),
            "digest": state_digest(r[:5] for r in image)}
    return info, image
