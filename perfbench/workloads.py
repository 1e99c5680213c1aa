"""The two ingest workloads and the run loop they share.

Each run drives the program only through its public surface:
``session.get_spark``, ``DataLoadManager.run``,
``StreamingIngest.run_until_caught_up``, ``SnapshotTable.read``/``read_keys``
and the table's manifest (``current_manifest``/``manifest_at``/``watermark``).
Inputs come from ``loggen`` and every output is checked against ``oracle``
outside the timed regions.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass

import pyarrow.parquet as pq

from loggen import LogShape, ensure_log, segment_name
from oracle import Oracle, normalize_rows

BUCKETS = 16  # the spec default
POINT_KEYS = 4  # conv_ids per point read


@dataclass(frozen=True)
class Workload:
    name: str
    shape: LogShape
    merge_mode: str = "cow"
    stream: bool = False
    mor_compact_files: int = 0


# one round: a segment lands, one poll applies it, then READS_PER_ROUND
# point reads and one full scan; every run makes at least MIN_ROUNDS
READS_PER_ROUND = 2
MIN_ROUNDS = 3
SETUP_REPS = 3
TAIL = LogShape(head_events=50_000, seg_events=5_000, n_segs=24, n_convs=10_000)

WORKLOADS = {
    w.name: w
    for w in (
        Workload("tail_poll_cow", TAIL),
        # every third poll compacts (the warm-up poll leaves one delta per
        # bucket, so timed polls 2, 5, 8, ... compact)
        Workload("tail_stream_mor", TAIL, merge_mode="mor", stream=True,
                 mor_compact_files=3),
    )
}


class Ops:
    """Attempted / failed operations per type."""

    TYPES = ("poll", "point_read", "scan", "check")

    def __init__(self):
        self.attempted = {t: 0 for t in self.TYPES}
        self.failed = {t: 0 for t in self.TYPES}
        self.errors: list[str] = []

    def record(self, kind: str, ok: bool, why: str = "") -> None:
        self.attempted[kind] += 1
        if not ok:
            self.failed[kind] += 1
            self.errors.append(f"{kind}: {why}")


class Table:
    """One warehouse + source directory + (for streams) checkpoint."""

    def __init__(self, bench: "Bench", log_dir: str, shape: LogShape, tag: str):
        from relational_data_loader_spark.plans.manager import DataLoadManager
        from relational_data_loader_spark.spec import transcripts_spec

        w = bench.workload
        base = os.path.join(bench.run_dir, tag)
        shutil.rmtree(base, ignore_errors=True)
        self.src = os.path.join(base, "src")
        os.makedirs(self.src)
        self.log_dir = log_dir
        self.shape = shape
        self.bench = bench
        self.spec = transcripts_spec(
            source=f"parquet://{self.src}",
            target_buckets=BUCKETS,
            merge_mode=w.merge_mode,
            mor_compact_files=w.mor_compact_files,
        )
        self.mgr = DataLoadManager(bench.spark, os.path.join(base, "wh"))
        self.table = self.mgr.table(self.spec)
        self.stream = None
        if w.stream:
            from relational_data_loader_spark.streaming.runner import StreamingIngest

            self.stream = StreamingIngest(
                self.mgr, self.spec, os.path.join(base, "checkpoint")
            )
        self.landed = 0  # segments delivered after the head
        shutil.copyfile(
            os.path.join(log_dir, segment_name(0)),
            os.path.join(self.src, segment_name(0)),
        )

    def max_lsn(self) -> int:
        return self.shape.head_events + self.landed * self.shape.seg_events

    def version(self) -> int:
        m = self.table.current_manifest()
        return int(m["version"]) if m else 0

    def full_load(self) -> None:
        b = self.bench
        with b.top("plans.run"):
            r = self.mgr.run(self.spec)
        ok = r.decision.kind == "full_refresh" and self.table.watermark() == self.max_lsn()
        b.ops.record("poll", ok, f"full load: {r.decision.kind} wm={self.table.watermark()}")

    def land(self) -> bool:
        if self.landed >= self.shape.n_segs:
            return False
        self.landed += 1
        name = segment_name(self.landed)
        shutil.copyfile(os.path.join(self.log_dir, name), os.path.join(self.src, name))
        return True

    def poll(self, timed: bool) -> None:
        """Apply everything delivered so far; one epoch."""
        b = self.bench
        v0 = self.version()
        t = time.perf_counter()
        with b.top("poll", timed=timed):
            if self.stream is not None:
                self.stream.run_until_caught_up()
                why = ""
            else:
                r = self.mgr.run(self.spec)
                why = f"{r.decision.kind} skipped={r.skipped}"
        dt = time.perf_counter() - t
        wm, v1 = self.table.watermark(), self.version()
        ok = wm == self.max_lsn() and v1 > v0
        b.ops.record("poll", ok, f"wm={wm} want {self.max_lsn()} v{v0}->v{v1} {why}")
        if timed:
            b.apply_s.append(dt)
            b.events += self.shape.seg_events
            if b.tracer is not None:
                seg = os.path.join(self.src, segment_name(self.landed))
                b.epochs.append(
                    {"v0": v0, "v1": v1, "batch_bytes": os.path.getsize(seg), "table": self}
                )

    def idempotent_rerun(self) -> None:
        """Re-running a poll over an unchanged log commits no new version."""
        v0 = self.version()
        if self.stream is not None:
            self.stream.run_until_caught_up()
        else:
            self.mgr.run(self.spec)
        v1 = self.version()
        self.bench.ops.record("check", v1 == v0, f"rerun committed v{v0}->v{v1}")

    def newest_keys(self, rng: random.Random) -> list[str]:
        seg = os.path.join(self.src, segment_name(self.landed))
        keys = sorted(set(pq.read_table(seg, columns=["conv_id"])["conv_id"].to_pylist()))
        return rng.sample(keys, min(POINT_KEYS, len(keys)))

    def uniform_keys(self, rng: random.Random) -> list[str]:
        return [f"conv_{rng.randrange(self.shape.n_convs):08d}" for _ in range(POINT_KEYS)]

    def read_set(self, timed: bool, reads: int = READS_PER_ROUND) -> None:
        """Point reads alternating newest-segment and uniform keys, then
        one full scan."""
        b = self.bench
        for i in range(reads):
            keys = self.newest_keys(b.rng) if i % 2 == 0 else self.uniform_keys(b.rng)
            wm = self.table.watermark()
            attrs = {"timed": timed, "keys": keys, "table": self}
            if b.tracer is not None:
                attrs["version"] = self.version()
            t = time.perf_counter()
            with b.top("sinks.read_keys", **attrs):
                rows = self.table.read_keys(keys).collect()
            dt = time.perf_counter() - t
            b.lookups.append((keys, wm, rows))
            if timed:
                b.lookup_s.append(dt)
        self.scan(timed)

    def scan(self, timed: bool) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        b = self.bench
        wm = self.table.watermark()
        obs = Observation()
        t = time.perf_counter()
        with b.top("sinks.scan", timed=timed):
            self.table.read().observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop"
            ).mode("overwrite").save()
        dt = time.perf_counter() - t
        n = int(obs.get["n"])
        b.scans.append((wm, n))
        if timed:
            b.scan_s.append(dt)
            b.scan_rows += n

    def final_checks(self) -> None:
        """Full visible state equals the oracle both ways, every column."""
        b = self.bench
        out = os.path.join(b.run_dir, "final_state")
        shutil.rmtree(out, ignore_errors=True)
        self.table.read().write.parquet(out)
        extra, missing = b.oracle.diff_state(os.path.join(out, "*.parquet"), self.table.watermark())
        b.ops.record(
            "check", extra == 0 and missing == 0,
            f"final state: {extra} rows not in oracle, {missing} oracle rows missing",
        )
        shutil.rmtree(out, ignore_errors=True)

    def stored_bytes(self) -> int:
        m = self.table.current_manifest()
        files = [p for fs in m["buckets"].values() for p in fs]
        files += [p for fs in (m.get("deltas") or {}).values() for p in fs]
        return sum(os.path.getsize(os.path.join(self.table.path, p)) for p in files)


class Bench:
    def __init__(self, spark, workload: Workload, run_dir: str, cache_dir: str,
                 seed: int, tracer=None):
        self.spark = spark
        self.workload = workload
        self.run_dir = run_dir
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.ops = Ops()
        self.apply_s: list[float] = []
        self.events = 0
        self.lookup_s: list[float] = []
        self.scan_s: list[float] = []
        self.scan_rows = 0
        self.lookups: list[tuple] = []
        self.scans: list[tuple[int, int]] = []
        self.epochs: list[dict] = []
        self.stored: list[tuple[int, int]] = []  # (watermark, bytes) per timed poll
        self.log_dir = ensure_log(cache_dir, workload.shape, seed)
        names = sorted(n for n in os.listdir(self.log_dir) if n.endswith(".parquet"))
        # callers bound every question by lsn, so the oracle sees all segments
        self.oracle = Oracle([os.path.join(self.log_dir, n) for n in names])

    def top(self, name: str, **attrs):
        return self.tracer.top(name, **attrs) if self.tracer else nullcontext()

    # ---- set-up -------------------------------------------------------------

    def load_starting_table(self, i: int) -> Table:
        """Fresh warehouse and source directory, full load of the head."""
        t = Table(self, self.log_dir, self.workload.shape, f"table{i}")
        t.full_load()
        return t

    def warm_up(self, table: Table) -> None:
        """One untimed pass of every operation the timed region runs."""
        table.land()
        table.poll(timed=False)
        table.read_set(timed=False, reads=1)

    # ---- timed region ---------------------------------------------------------

    def measure(self, table: Table, seconds: float) -> None:
        """MIN_ROUNDS whole rounds, then more while the mean round so far
        still fits in ``seconds``."""
        t0 = time.perf_counter()
        self.rounds = 0
        while table.landed < table.shape.n_segs:
            elapsed = time.perf_counter() - t0
            if self.rounds >= MIN_ROUNDS and elapsed + elapsed / self.rounds > seconds:
                break
            table.land()
            table.poll(timed=True)
            self.stored.append((table.table.watermark(), table.stored_bytes()))
            table.read_set(timed=True)
            self.rounds += 1
        self.final_table = table

    # ---- checks (untimed) ---------------------------------------------------------

    def check(self, table: Table) -> None:
        for keys, wm, rows in self.lookups:
            want = self.oracle.rows_for_keys(wm, keys)
            ok = normalize_rows(rows) == normalize_rows(want)
            self.ops.record("point_read", ok, f"keys {keys} at {wm}")
        for wm, n in self.scans:
            want = self.oracle.live(wm)[0]
            self.ops.record("scan", n == want, f"scan at {wm}: {n} rows, oracle {want}")
        table.idempotent_rerun()
        table.final_checks()

    def end_to_end(self) -> dict[str, float]:
        return {
            "events_per_s": self.events / sum(self.apply_s),
            "epoch_p50_s": statistics.median(self.apply_s),
            "lookup_p50_s": statistics.median(self.lookup_s),
            "scan_rows_per_s": self.scan_rows / sum(self.scan_s),
            "stored_bytes_per_live_byte": statistics.median(
                b / self.oracle.live(wm)[1] for wm, b in self.stored
            ),
        }
