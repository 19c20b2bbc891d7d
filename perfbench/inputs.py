"""Seeded benchmark inputs, generated into `.perfbench/inputs/` and
reused by later runs with the same seed. The program under test only
ever sees these files."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.common import workdir


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_inputs.json"))


def _mark_done(path: str, props: dict) -> None:
    with open(os.path.join(path, "_inputs.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)


def _load_props(path: str) -> dict:
    with open(os.path.join(path, "_inputs.json")) as f:
        return json.load(f)


def _applied(t: pa.Table) -> pa.Table:
    """Row events of committed transactions (what a replay applies)."""
    committed = pc.unique(t.filter(t["tx_commit"])["tx_id"])
    keep = pc.and_(
        pc.is_in(t["tx_id"], value_set=committed),
        pc.is_in(t["op"], value_set=pa.array(["INSERT", "UPDATE", "DELETE"])),
    )
    return t.filter(keep)


def _log_props(t: pa.Table) -> dict:
    ap = _applied(t)
    keys = len(pc.unique(ap["doc_id"]))
    return {
        "log_rows": t.num_rows,
        "events": ap.num_rows,
        "keys": keys,
        "events_per_key": round(ap.num_rows / max(1, keys), 2),
    }


# ------------------------------------------------------------- cdc logs
def hot_key_log(seed: int, n_events: int, want_epochs: int = 3) -> tuple[str, dict]:
    """The frozen bench's changelog shape: zipf 1.2, ~80 events per
    key, 32 source partitions.

    Whether `budget_for_epochs(2)` splits a log into 2 or 3 epochs
    depends on where the transaction boundaries of the longest
    partition fall, so it changes from one generator seed to the next.
    The log is the first of the seed's candidate logs whose planned
    split (`planned_epochs`, computed here from the file, the engine is
    not consulted) has `want_epochs` epochs: every seed then shows the
    3-epoch split of the known trailing-epoch defect, and runs on
    different seeds stay comparable."""
    from canal_spark.sources.changelog import ChangelogSpec, generate_changelog

    path = os.path.join(workdir("inputs"), f"hot-{seed}-{n_events}")
    if not _done(path):
        for k in range(64):
            spec = ChangelogSpec(
                n_events=n_events, n_partitions=32, n_keys=max(1000, n_events // 80),
                seed=seed * 1000 + k,
            )
            shutil.rmtree(os.path.join(path, "log"), ignore_errors=True)
            generate_changelog(os.path.join(path, "log"), spec)
            t = pq.read_table(os.path.join(path, "log"))
            planned = planned_epochs(t, 2)
            if planned == want_epochs:
                break
        _mark_done(
            path,
            {"partitions": spec.n_partitions, "generator_seed": spec.seed,
             "planned_epochs": planned, **_log_props(t)},
        )
    return os.path.join(path, "log"), _load_props(path)


def planned_epochs(t: pa.Table, n_epochs: int) -> int:
    """Epochs a fresh replay of log `t` takes at the budget
    `budget_for_epochs(n_epochs)` gives: per partition, each epoch
    advances the checkpoint to the last commit marker inside
    (checkpoint, checkpoint + budget], and a slice with no marker grows
    by doubling until one lands or the partition's extent is reached."""
    sp = t["source_partition"].to_numpy()
    lsn = t["lsn"].to_numpy()
    commit = t["tx_commit"].to_numpy(zero_copy_only=False)
    parts = sorted(set(sp.tolist()))
    extent = {p: int(lsn[sp == p].max()) for p in parts}
    marks = {p: np.sort(lsn[(sp == p) & commit]) for p in parts}
    ckpt = {p: -1 for p in parts}
    budget0 = max(1, (max(e + 1 for e in extent.values()) + n_epochs - 1) // n_epochs)

    def last_mark(p: int, lo: int, hi: int) -> int:
        i = np.searchsorted(marks[p], hi, side="right") - 1
        return int(marks[p][i]) if i >= 0 and marks[p][i] > lo else lo

    epochs = 0
    while True:
        open_ = [p for p in parts if ckpt[p] < extent[p]]
        if not open_:
            return epochs
        budget = budget0
        while True:
            bounds = {p: (ckpt[p], min(ckpt[p] + budget, extent[p])) for p in open_}
            wms = {p: last_mark(p, lo, hi) for p, (lo, hi) in bounds.items()}
            progressed = any(wms[p] > ckpt[p] for p in open_)
            if progressed or all(hi >= extent[p] for p, (_, hi) in bounds.items()):
                break
            budget *= 2
        if not progressed:
            return epochs
        ckpt.update(wms)
        epochs += 1


def epoch_delta_rows(applied: pa.Table, bounds: list[dict[int, tuple[int, int]]]) -> list[tuple[int, int]]:
    """(events, distinct keys) applied per epoch, given each epoch's
    per-partition (from_exclusive, to_inclusive] slice."""
    sp = applied["source_partition"].to_numpy()
    lsn = applied["lsn"].to_numpy()
    keys = applied["doc_id"].to_numpy(zero_copy_only=False)
    out = []
    for b in bounds:
        mask = np.zeros(len(lsn), dtype=bool)
        for p, (lo, hi) in b.items():
            mask |= (sp == p) & (lsn > lo) & (lsn <= hi)
        out.append((int(mask.sum()), len(set(keys[mask]))))
    return out


def applied_events(log_dir: str, pattern: str | None = None) -> pa.Table:
    t = _applied(pq.read_table(log_dir))
    if pattern is not None:
        t = t.filter(pc.match_substring_regex(t["source"], "^(?:" + pattern + ")"))
    return t


# ----------------------------------------------------------------- tail
def tail_log(seed: int, n_events: int, n_keys: int, n_partitions: int, n_warm: int,
             n_files: int, seed_frac: float) -> dict:
    """A key-dense changelog cut into a table seed (complete
    transactions only, `seed_frac` of each partition) and
    `n_warm + n_files` change files holding the rest in order.

    Each change file is recorded with its per-partition coverage
    target: the lsn of its last commit marker in that partition. A
    snapshot whose checkpoints reach every target has applied all of
    the file's committed events."""
    from canal_spark.sources.changelog import ChangelogSpec, generate_changelog

    spec = ChangelogSpec(
        n_events=n_events, n_partitions=n_partitions, n_keys=n_keys, seed=seed
    )
    path = os.path.join(workdir("inputs"), f"tail-{seed}-{n_events}-{n_partitions}-{n_warm}-{n_files}")
    if not _done(path):
        gen = generate_changelog(os.path.join(path, "gen"), spec)
        t = pq.read_table(gen)
        seed_dir = os.path.join(path, "all", "seed")
        files_dir = os.path.join(path, "all", "files")
        os.makedirs(seed_dir, exist_ok=True)
        os.makedirs(files_dir, exist_ok=True)
        n_chunks = n_warm + n_files
        chunks: list[list[pa.Table]] = [[] for _ in range(n_chunks)]
        targets: list[dict[str, int]] = [{} for _ in range(n_chunks)]
        seed_rows = 0
        for p in range(n_partitions):
            tp = t.filter(pc.equal(t["source_partition"], p))
            lsn = tp["lsn"].to_numpy()
            commit = tp["tx_commit"].to_numpy(zero_copy_only=False)
            want = int(len(lsn) * seed_frac)
            commits = np.nonzero(commit[:want])[0]
            cut = int(commits[-1]) + 1 if len(commits) else 0
            pq.write_table(tp.slice(0, cut), os.path.join(seed_dir, f"part-p{p:04d}.parquet"))
            seed_rows += cut
            for j, idx in enumerate(np.array_split(np.arange(cut, len(lsn)), n_chunks)):
                if len(idx) == 0:
                    continue
                piece = tp.slice(int(idx[0]), len(idx))
                chunks[j].append(piece)
                c = np.nonzero(commit[idx])[0]
                if len(c):
                    targets[j][str(p)] = int(lsn[idx[c[-1]]])
        events = []
        for j, pieces in enumerate(chunks):
            ct = pa.concat_tables(pieces)
            pq.write_table(ct, os.path.join(files_dir, f"chunk-{j:05d}.parquet"))
            events.append(ct.num_rows)
        _mark_done(
            path,
            {
                "partitions": n_partitions,
                "seed_rows": seed_rows,
                "file_rows": events,
                "targets": targets,
                "n_warm": n_warm,
                **_log_props(t),
            },
        )
    props = _load_props(path)
    props["root"] = os.path.join(path, "all")
    props["seed_dir"] = os.path.join(path, "all", "seed")
    props["files"] = [
        os.path.join(path, "all", "files", f"chunk-{j:05d}.parquet")
        for j in range(n_warm + n_files)
    ]
    return props


# --------------------------------------------------------------- corpus
WORDS = (
    "a the data spark stream table key value row column batch merge join filter "
    "scan sort hash group agg window query order line part customer vector fast "
    "slow big small"
).split()
LANGS = ["en", "zh", "fr", "de", "es"]


def corpus(seed: int, n_docs: int) -> tuple[str, dict]:
    """A `documents` table shaped like the driver testdata (word-soup
    text, 8-90 words), with ~2% exact copies and ~2% near copies (one
    word appended to a doc of at least 20 words, Jaccard >= 0.94)."""
    path = os.path.join(workdir("inputs"), f"corpus-{seed}-{n_docs}")
    if not _done(path):
        rng = np.random.default_rng(seed)
        texts: list[str] = []
        n_exact = n_near = 0
        for i in range(n_docs):
            r = rng.random()
            if i > 50 and r < 0.02:
                texts.append(texts[int(rng.integers(0, i))])
                n_exact += 1
                continue
            if i > 50 and r < 0.04:
                src = texts[int(rng.integers(0, i))]
                if len(src.split()) >= 20:
                    texts.append(src + " " + WORDS[int(rng.integers(0, len(WORDS)))])
                    n_near += 1
                    continue
            n = int(rng.integers(8, 91))
            texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), size=n)))
        t = pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), size=n_docs)]),
                "source": pa.array([f"src{i % 10}" for i in range(n_docs)]),
                "n_chars": pa.array([len(s) for s in texts], type=pa.int64()),
            }
        )
        os.makedirs(path, exist_ok=True)
        pq.write_table(t, os.path.join(path, "documents.parquet"))
        _mark_done(path, {"docs": n_docs, "exact_copies": n_exact, "near_copies": n_near})
    return path, _load_props(path)
