"""The benchmark workloads. Each one drives the program only through
its public entry points (`CdcEngine`, `MultiTableEngine`,
`StreamingUpsert.start`, `QUERIES`) and checks the final state against
the repository's own oracles after the timed window.

Life cycle of a run: `inputs()` (seeded input files and oracle
digests, not timed), `setup()` (warm-up and table seeding, reported as
`setup_s`), `measure()` (the timed window), `verify()`."""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import inputs as I
from perfbench.common import DigestCache, state_digest, table_digest, workdir

#: input sizes; "tiny" is the self-test scale
SCALES = {
    "full": {
        "hot_events": 100_000,
        "buckets": 8,
        "warm_rounds": 2,
        "warm_reads": 6,  # read pairs after the warm-up replays
        "reads_per_round": 6,
        "tail_seed_events": 80_000,  # events that seed the table
        "tail_keys": 50_000,
        "tail_file_events": 270,  # events per released change file
        "tail_partitions": 8,
        "tail_rate": 6.0,  # change files released per second
        "tail_lead_s": 12.0,  # open-loop lead-in before the first window
        "tail_next_lead_s": 4.0,  # and before each later one (traced runs)
        "docs": 5_000,
    },
    "tiny": {
        "hot_events": 8_000,
        "buckets": 4,
        "warm_rounds": 1,
        "warm_reads": 1,
        "reads_per_round": 1,
        "tail_seed_events": 4_800,
        "tail_keys": 3_000,
        "tail_file_events": 130,
        "tail_partitions": 4,
        "tail_rate": 4.0,
        "tail_lead_s": 1.0,
        "tail_next_lead_s": 1.0,
        "docs": 300,
    },
}
ROUTES = [
    ("low", "src[0-2]"),
    ("mid", "src[3-5]"),
    ("high", "src[6-9]"),
    ("archive", "src[0-9]"),  # overlaps all three shards
]


@dataclass
class Window:
    """Raw samples of one timed window."""

    t0: float = 0.0
    t1: float = 0.0
    events: int = 0
    rates: list = field(default_factory=list)  # events per second, per round
    freshness: list = field(default_factory=list)  # (ms, weight)
    lookups: list = field(default_factory=list)
    scans: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    rounds: int = 0
    lead_s: float = 0.0  # set-up time spent inside measure(), before t0
    errors: list = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def op(self, fn, *args):
        """Run one operation; a raise counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as ex:  # noqa: BLE001 - counted and reported
            self.failed += 1
            self.errors.append(f"{type(ex).__name__}: {ex}"[:300])
            return None


def read_snapshots(table, first: int = 1) -> list[dict]:
    """Raw snapshot documents from `first` on, read from disk (no
    Spark, no table API call, so traced spans stay untouched)."""
    out = []
    e = first
    while True:
        path = os.path.join(table.meta_dir, f"snapshot-{e:08d}.json")
        if not os.path.exists(path):
            return out
        with open(path) as f:
            out.append(json.load(f))
        e += 1


class Reader:
    """Closed-loop reader: alternates a key-range lookup (1% of the
    keys) and a full `groupBy(source)` scan through `SnapshotTable.read`,
    either called step by step or on its own thread (`start`/`stop`)."""

    def __init__(self, spark, n_keys: int, rng: random.Random, w: Window, tracer=None,
                 since: float = 0.0):
        self.spark, self.n_keys, self.rng, self.w, self.tracer = spark, n_keys, rng, w, tracer
        #: reads that start before this wall-clock time are not sampled
        self.since = since
        self.width = max(10, n_keys // 100)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _timed(self, name, fn, out: list) -> None:
        sampled = time.time() >= self.since
        t = time.monotonic()
        if self.tracer is not None:
            with self.tracer.span(name, detached=True):
                res = self.w.op(fn)
        else:
            res = self.w.op(fn)
        if res is not None and sampled:
            out.append((time.monotonic() - t) * 1000.0)

    def lookup(self, table) -> None:
        lo = self.rng.randrange(0, max(1, self.n_keys - self.width))
        key_range = (f"d{lo:07d}", f"d{lo + self.width:07d}")
        self._timed(
            "reader.lookup",
            lambda: table.read(self.spark, key_range=key_range).collect(),
            self.w.lookups,
        )

    def scan(self, table) -> None:
        self._timed(
            "reader.scan",
            lambda: table.read(self.spark).groupBy("source").count().collect(),
            self.w.scans,
        )

    def start(self, table) -> None:
        def loop() -> None:
            while not self._stop.is_set():
                self.lookup(table)
                self.scan(table)

        self._thread = threading.Thread(target=loop, name="perfbench-reader")
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# =====================================================================
class Workload:
    name = ""
    #: the throughput or latency number the tracing overhead is read from
    overhead_metric = "events_per_s"

    def __init__(self, seed: int, scale: str):
        self.spark = None  # set by attach(), after the inputs are made
        self.seed, self.scale = seed, SCALES[scale]
        self.tracer = None  # set for the traced window only
        self.rng = random.Random(seed)
        self.digests = DigestCache()
        self.props: dict = {}

    def attach(self, sess) -> None:
        self.spark = sess.spark

    def root_span(self, name: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, tag_jobs=False, root=True)

    def describe(self, w: "Window") -> None:
        """Add the input properties that need the finished tables."""


def _freshness_from_snapshots(snaps: list[dict], t_start: float) -> list[tuple[float, int]]:
    """Per-event freshness of a replay whose events were all available
    at `t_start`: each event waits until the commit of its epoch."""
    return [
        (s["committed_at_us"] / 1e6 * 1000.0 - t_start * 1000.0,
         sum(int(li["n_events"]) for li in s["lineage"]))
        for s in snaps
    ]


def _lineage_events(table) -> int:
    return sum(int(li["n_events"]) for s in read_snapshots(table) for li in s["lineage"])


class Replay(Workload):
    """Closed loop of whole-log replays into fresh tables; after each
    replay the reader queries its result. (A reader thread beside the
    replays, as in `tail`, was tried: the contention doubled the
    run-to-run spread of every metric.)"""

    #: info key of the per-replay epoch counts
    epochs_key = ""

    def _round(self, root: str) -> tuple[list, int, float, float]:
        """One replay into fresh tables under `root`; returns
        ([(name, table)], final epoch, start, end). The last table is
        the one read and the one whose lineage counts the events."""
        raise NotImplementedError

    def _next_root(self) -> str:
        return workdir("run", self.name, fresh=True)

    def _reads(self, reader: Reader) -> None:
        for _ in range(self.scale["reads_per_round"]):
            reader.lookup(self.read_table)
            reader.scan(self.read_table)

    def setup(self) -> None:
        w = Window()
        reader = Reader(self.spark, self.props["keys"], self.rng, w)
        for _ in range(self.scale["warm_rounds"]):
            self.tables = self._round(self._next_root())[0]
        for _ in range(self.scale["warm_reads"]):
            reader.lookup(self.read_table)
            reader.scan(self.read_table)
        if w.failed:
            raise RuntimeError(f"warm-up failed: {w.errors}")

    @property
    def read_table(self):
        return self.tables[-1][1]

    def measure(self, seconds: float) -> Window:
        w = Window(t0=time.time())
        reader = Reader(self.spark, self.props["keys"], self.rng, w, self.tracer)
        epochs = []
        while True:
            with self.root_span("bench.round"):
                res = w.op(self._round, self._next_root())
            if res is not None:
                tables, final, t0, t1 = res
                n = _lineage_events(tables[-1][1])
                w.events += n
                w.rates.append(n / (t1 - t0))
                for _, t in tables:
                    w.freshness += _freshness_from_snapshots(read_snapshots(t), t0)
                epochs.append(final)
                self.tables = tables
                self._reads(reader)
            w.rounds += 1
            if time.time() - w.t0 >= seconds and w.rounds >= 2:
                break
        w.t1 = time.time()
        w.info[self.epochs_key] = epochs
        w.info["events_applied_per_replay"] = {name: _lineage_events(t) for name, t in self.tables}
        return w

    def describe(self, w: Window) -> None:
        w.info.update(_delta_info(I.applied_events(self.log), self.read_table))

    def verify(self, w: Window) -> bool:
        digests = {name: table_digest(self.spark, t)[0] for name, t in self.tables}
        return digests == self.expected and w.events == self.props["events"] * len(w.rates)


# ---------------------------------------------------------------- backfill
class Backfill(Replay):
    """CdcEngine.run_to_completion of a hot-key log into a fresh CoW
    table, in the epochs `budget_for_epochs(2)` gives."""

    name = "backfill"
    epochs_key = "epochs_per_replay"

    def inputs(self) -> None:
        self.log, p = I.hot_key_log(self.seed, self.scale["hot_events"])
        self.props = dict(p)
        self.expected = {
            "table": self.digests.get(
                f"backfill:{self.props['generator_seed']}:{self.scale['hot_events']}",
                lambda: _oracle(self.log),
            )
        }

    def _round(self, root: str) -> tuple:
        from canal_spark.engine import CdcEngine
        from canal_spark.plans.table import SnapshotTable

        table = SnapshotTable.create(os.path.join(root, "t"), n_buckets=self.scale["buckets"])
        t0 = time.time()
        eng = CdcEngine(self.spark, self.log, table, lsn_budget=1)
        eng.lsn_budget = eng.budget_for_epochs(2)
        final = eng.run_to_completion()
        return [("table", table)], final, t0, time.time()


def _delta_info(applied, table, first: int = 1) -> dict:
    """Per-epoch slice sizes: events applied, delta rows (distinct keys)
    and table rows after the epoch."""
    snaps = [table.snapshot(e) for e in range(first, table.current_epoch() + 1)]
    bounds, prev = [], {}
    if first > 1:
        prev = {int(p): int(v) for p, v in table.snapshot(first - 1)["checkpoints"].items()}
    for s in snaps:
        ck = {int(p): int(v) for p, v in s["checkpoints"].items()}
        bounds.append({p: (prev.get(p, -1), v) for p, v in ck.items() if v > prev.get(p, -1)})
        prev = ck
    per = I.epoch_delta_rows(applied, bounds)
    rows = [sum(fe.get("rows", 0) for fs in s.get("files", {}).values() for fe in fs) for s in snaps]
    return {
        "epoch_events": [e for e, _ in per],
        "epoch_delta_rows": [k for _, k in per],
        "table_rows_per_delta_row": [round(r / max(1, k), 2) for r, (_, k) in zip(rows, per)],
    }


def _oracle(log: str, pattern: str | None = None) -> str:
    from tests.oracle_replay import replay

    return state_digest(replay(log, source_pattern=pattern))


# ------------------------------------------------------------------ routed
class Routed(Replay):
    """MultiTableEngine.run_to_completion of the same log into three
    disjoint source shards plus an all-sources archive."""

    name = "routed"
    epochs_key = "group_epochs_per_replay"

    def inputs(self) -> None:
        self.log, p = I.hot_key_log(self.seed, self.scale["hot_events"])
        self.props = dict(p)
        n = self.scale["hot_events"]
        self.expected = {
            r: self.digests.get(f"routed:{self.props['generator_seed']}:{n}:{pat}",
                                lambda pat=pat: _oracle(self.log, pat))
            for r, pat in ROUTES
        }
        routed = sum(I.applied_events(self.log, pat).num_rows for _, pat in ROUTES)
        # share of the log's events that more than one route applies
        # (the archive overlaps every shard)
        self.props["route_overlap_share"] = round(
            (routed - self.props["events"]) / max(1, self.props["events"]), 3
        )

    def _round(self, root: str) -> tuple:
        from canal_spark.multi import MultiTableEngine, TableRoute
        from canal_spark.plans.table import SnapshotTable

        routes = [
            TableRoute(name, SnapshotTable.create(os.path.join(root, name), n_buckets=self.scale["buckets"]),
                       source_whitelist=pat)
            for name, pat in ROUTES
        ]
        t0 = time.time()
        eng = MultiTableEngine(self.spark, self.log, routes, os.path.join(root, "group"), lsn_budget=1)
        # the same budget rule CdcEngine.budget_for_epochs(2) applies
        eng.lsn_budget = max(1, (max(eng.extents.values()) + 1 + 1) // 2)
        final = eng.run_to_completion()
        return [(r.name, r.table) for r in routes], final, t0, time.time()


# -------------------------------------------------------------------- tail
class Tail(Workload):
    """Open loop: change files are released into a tailed directory on
    a fixed schedule while availableNow drains run back to back and one
    closed-loop reader queries the table."""

    name = "tail"
    overhead_metric = "freshness_ms_p50"

    def __init__(self, seed: int, scale: str, seconds: float, windows: int = 1):
        super().__init__(seed, scale)
        self.seconds, self.windows = seconds, windows
        self.windows_run = 0

    def _lead_s(self, window: int) -> float:
        """Lead-in before window `window`: the first one also warms the
        JIT, later ones only restart the drain cycle."""
        return self.scale["tail_lead_s" if window == 0 else "tail_next_lead_s"]

    def _n_files(self, seconds: float) -> int:
        """Change files one window of `seconds` releases."""
        return max(4, int(round(self.scale["tail_rate"] * seconds)))

    def inputs(self) -> None:
        sc = self.scale
        # the table seed and the file size are fixed, so the offered
        # event rate (files per second x events per file) does not
        # depend on the window length, and every window (a traced run
        # has three) starts from about the same table; the zipf key
        # draw leaves ~2 events per distinct key
        # every window is preceded by its lead-in
        n_warm = sum(self._n_files(self._lead_s(k)) for k in range(self.windows))
        n_files = self._n_files(self.seconds) * self.windows
        n_released = (n_warm + n_files) * sc["tail_file_events"]
        n_events = sc["tail_seed_events"] + n_released
        self.inp = I.tail_log(
            self.seed, n_events, sc["tail_keys"], sc["tail_partitions"],
            n_warm, n_files, seed_frac=sc["tail_seed_events"] / n_events,
        )
        self.props = {k: v for k, v in self.inp.items() if k not in ("targets", "files", "file_rows")}
        self.expected = self.digests.get(
            f"tail:{self.seed}:{n_events}:{sc['tail_keys']}:{sc['tail_partitions']}:{n_warm}:{n_files}",
            lambda: _oracle(self.inp["root"]),
        )
        self.next_file = 0

    def setup(self) -> None:
        from canal_spark.engine import CdcEngine
        from canal_spark.plans.table import SnapshotTable
        from canal_spark.streaming.stream import StreamingUpsert

        root = workdir("run", "tail", fresh=True)
        self.stream_dir = workdir("run", "tail", "changes")
        self.ckpt = os.path.join(root, "ckpt")
        self.table = SnapshotTable.create(os.path.join(root, "t"), n_buckets=self.scale["buckets"])
        eng = CdcEngine(self.spark, self.inp["seed_dir"], self.table, lsn_budget=1)
        eng.lsn_budget = eng.budget_for_epochs(1)
        eng.run_to_completion()
        self.su = StreamingUpsert(self.spark, self.table)
        # the warm-up of the drains and the reader is the lead-in of
        # each window (measure()); run.py adds the first one to setup_s

    @property
    def read_table(self):
        return self.table

    def _release(self, j: int) -> None:
        src = self.inp["files"][j]
        shutil.copyfile(src, os.path.join(self.stream_dir, f".{os.path.basename(src)}"))
        os.replace(
            os.path.join(self.stream_dir, f".{os.path.basename(src)}"),
            os.path.join(self.stream_dir, os.path.basename(src)),
        )

    def _drain(self) -> None:
        q = self.su.start(self.stream_dir, self.ckpt, max_files_per_trigger=10_000)
        q.awaitTermination()

    def _covered(self, ckpts: dict, j: int) -> bool:
        ck = {int(p): int(v) for p, v in ckpts.items()}
        return all(ck.get(int(p), -1) >= t for p, t in self.inp["targets"][j].items())

    def measure(self, seconds: float) -> Window:
        """One window of the release schedule, after a lead-in on the
        same schedule: the window starts with the drain cycle and the
        reader running and the JIT further warmed, rather than from an
        idle table. Only files due inside the window and reads started
        inside it are sampled."""
        from canal_spark.plans.table import SnapshotTable

        period = 1.0 / self.scale["tail_rate"]
        n_lead = self._n_files(self._lead_s(self.windows_run))
        n_files = self._n_files(seconds)
        self.windows_run += 1
        sched = list(range(self.next_file, self.next_file + n_lead + n_files))
        self.next_file += len(sched)
        files = sched[n_lead:]
        t_lead = time.time()
        due = {j: t_lead + (i + 1) * period for i, j in enumerate(sched)}
        w = Window(t0=t_lead + n_lead * period, lead_s=n_lead * period)
        t_end = w.t0 + n_files * period
        released: dict[int, float] = {}
        reader = Reader(self.spark, self.inp["keys"], self.rng, w, self.tracer, since=w.t0)
        epoch0 = self.table.current_epoch()

        def release_loop() -> None:
            for j in sched:
                delay = due[j] - time.time()
                if delay > 0:
                    time.sleep(delay)
                self._release(j)
                released[j] = time.time()

        rel = threading.Thread(target=release_loop, name="perfbench-release")
        rel.start()
        reader.start(SnapshotTable(self.table.root))
        drains = []
        backlog_end = None
        try:
            while True:
                d0 = time.time()
                with self.root_span("streaming.stream.drain"):
                    w.op(self._drain)
                drains.append((d0, time.time()))
                ckpts = read_snapshots(self.table, self.table.current_epoch())[0]["checkpoints"]
                if backlog_end is None and time.time() >= t_end:
                    backlog_end = sum(
                        self.inp["file_rows"][j] for j in released if not self._covered(ckpts, j)
                    )
                if len(released) == len(sched) and all(self._covered(ckpts, j) for j in sched):
                    break
                # all files are out at t_end and each drain takes every
                # file present, so catching up takes a drain or two; the
                # limit keeps a run that cannot catch up inside 180 s
                if time.time() > t_end + 60:
                    w.attempted += 1
                    w.failed += 1
                    w.errors.append("tail: drains did not catch up with the release schedule")
                    break
        finally:
            reader.stop()
            rel.join()
        w.t1 = time.time()

        snaps = read_snapshots(self.table, epoch0 + 1)
        last_cover = 0.0
        for j in files:
            s = next((s for s in snaps if self._covered(s["checkpoints"], j)), None)
            at = s["committed_at_us"] / 1e6 if s is not None else w.t1
            w.freshness.append(((at - due[j]) * 1000.0, 1))
            last_cover = max(last_cover, at)
        w.events = sum(self.inp["file_rows"][j] for j in files)
        w.rates.append(w.events / (last_cover - w.t0))
        lateness = [(released[j] - due[j]) * 1000.0 for j in sched]
        window_drains = [(a, b) for a, b in drains if a >= w.t0]
        w.rounds = len(window_drains)
        # the first batch committed inside the window
        self.window_epoch0 = epoch0 + sum(1 for s in snaps if s["committed_at_us"] / 1e6 < w.t0)
        w.info.update(
            {
                "release_rate_files_per_s": round(1.0 / period, 3),
                "release_rate_events_per_s": round(w.events / (n_files * period), 1),
                "lead_in_files": n_lead,
                "released_files": len(files),
                "release_lateness_ms_max": round(max(lateness), 1),
                "drains": len(window_drains),
                "drain_ms": [round((b - a) * 1000.0, 1) for a, b in window_drains],
                "backlog_events_end": backlog_end or 0,
                "batches": self.table.current_epoch() - self.window_epoch0,
            }
        )
        return w

    def describe(self, w: Window) -> None:
        applied = I.applied_events(self.inp["root"])
        w.info.update(_delta_info(applied, self.table, self.window_epoch0 + 1))

    def verify(self, w: Window) -> bool:
        got, _ = table_digest(self.spark, self.table)
        return got == self.expected


# ------------------------------------------------------------------ curate
class Curate(Workload):
    """refine_corpus plus dedup_incremental, written to a noop sink."""

    name = "curate"
    overhead_metric = "docs_per_s"
    QUERIES = ("refine_corpus", "dedup_incremental")

    def inputs(self) -> None:
        self.sf, p = I.corpus(self.seed, self.scale["docs"])
        self.props = dict(p)
        self.expected = {
            q: self.digests.get(f"curate:{self.seed}:{self.scale['docs']}:{q}",
                                lambda q=q: _duckdb_digest(self.sf, q))
            for q in self.QUERIES
        }

    def _pass(self) -> None:
        from canal_spark.queries import QUERIES

        for q in self.QUERIES:
            QUERIES[q](self.spark, self.sf).write.mode("overwrite").format("noop").save()

    def setup(self) -> None:
        self._pass()

    def measure(self, seconds: float) -> Window:
        w = Window(t0=time.time())
        while True:
            t = time.time()
            failed = w.failed
            with self.root_span("bench.round"):
                w.op(self._pass)
            if w.failed == failed:
                w.events += self.props["docs"]
                w.rates.append(self.props["docs"] / (time.time() - t))
            w.rounds += 1
            if time.time() - w.t0 >= seconds and w.rounds >= 2:
                break
        w.t1 = time.time()
        return w

    def stage_ms(self) -> dict[str, float]:
        """Marginal wall of each refine_corpus stage, from the stage
        thunks timed cumulatively (stages share lineage)."""
        from canal_spark.queries import refine_corpus_stages

        cum, prev, out = 0.0, 0.0, {}
        for name, thunk in refine_corpus_stages(self.spark, self.sf):
            t = time.time()
            thunk().write.mode("overwrite").format("noop").save()
            cum = (time.time() - t) * 1000.0
            out[name] = cum - prev
            prev = cum
        return out

    def verify(self, w: Window) -> bool:
        from canal_spark.queries import QUERIES

        return all(
            _rows_digest(QUERIES[q](self.spark, self.sf).collect()) == self.expected[q]
            for q in self.QUERIES
        )


def _rows_digest(rows) -> str:
    import hashlib

    lines = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _duckdb_digest(sf_dir: str, query: str) -> str:
    import duckdb

    from canal_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        return _rows_digest(con.execute(ORACLES[query]).fetchall())
    finally:
        con.close()


WORKLOADS = {"backfill": Backfill, "routed": Routed, "tail": Tail, "curate": Curate}
