"""``lake_ingest``: the write side, beside reads on the same scan path.

Ingest phase: seeded slices of an ``events`` table go through
``streaming.ingest.run_dual_sink_ingest`` into one lake dir and one
hour-partitioned raw dir.  Commit loop: ``snapshots.commit_append`` of
the next batch, then a fresh checked aggregate over ``read_snapshot``,
until the time is spent; then one ``merge_upsert``, one
``rewrite_data_files`` and one time-travel ``read_snapshot`` of an
early snapshot.  The ``bucket`` column and the upsert keys come from
the seed.

Checks, after the timed section: lake and raw row counts equal the
input, per-hour raw counts equal a group-by over the input, every
manifest's ``total_records`` and every fresh read equal the expected
counts, and the post-merge contents hold the upserted values.
"""

from __future__ import annotations

import glob
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from harness import catalyst_phases, median

SLICES = 3
SLICE_EVENTS = 20_000
SLICE_DAYS = 1  # each slice covers one day: 24 hour partitions in the raw sink
WARM_EVENTS = 2_000
N_USERS = 1500
APPEND_ROWS = 500
POOL_APPENDS = 400
N_BUCKETS = 4
UPSERT_MATCHED = 20
UPSERT_NEW = 20
UPSERT_BUMP = 100.0
TAIL_RESERVE_S = 2.0  # time kept for the merge, rewrite and time travel

BYPASSED = ("api.", "ops.", "jobs.", "plan_cache.", "batch.")


def _bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def _parquet_files(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)


class _Progress:
    """StreamingQueryListener that keeps each query's progress."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: dict[str, list[dict]] = {}
        self.done: dict[str, threading.Event] = {}

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.done.setdefault(str(event.id), threading.Event())

            def onQueryProgress(self, event):
                outer.progress.setdefault(str(event.progress.id), []).append(
                    dict(event.progress.durationMs)
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.done.setdefault(str(event.id), threading.Event()).set()

        self.listener = Listener()

    def wait_all(self, timeout: float = 10.0) -> None:
        end = time.time() + timeout
        for ev in list(self.done.values()):
            ev.wait(max(0.0, end - time.time()))


class Workload:
    name = "lake_ingest"
    bypassed = BYPASSED

    def __init__(self, spark, box, tracer, seed: int):
        self.spark, self.box, self.tracer, self.seed = spark, box, tracer, seed
        self.progress = None
        if tracer.enabled:
            self.progress = _Progress()
            spark.streams.addListener(self.progress.listener)

    def setup(self, rep: int) -> dict[str, float]:
        from datagen import events_table

        base = self.box.path("data", f"ingest-{rep}")
        events = events_table(self.seed, SLICES * SLICE_EVENTS, N_USERS, SLICES * SLICE_DAYS)
        self.slice_dirs = []
        for i in range(SLICES):
            d = os.path.join(base, f"slice{i}")
            os.makedirs(d)
            pq.write_table(events.slice(i * SLICE_EVENTS, SLICE_EVENTS), os.path.join(d, "events.parquet"))
            self.slice_dirs.append(d)
        warm = events_table(self.seed + 2, WARM_EVENTS, N_USERS, SLICE_DAYS)
        self.warm_dir = os.path.join(base, "warm")
        os.makedirs(self.warm_dir)
        pq.write_table(warm, os.path.join(self.warm_dir, "events.parquet"))
        self.input_bytes = _bytes(os.path.join(d, "events.parquet") for d in self.slice_dirs)
        ts = events["ts"]
        hours = pa.table({"y": pc.year(ts), "m": pc.month(ts), "d": pc.day(ts), "h": pc.hour(ts)})
        self.expected_hours = {
            (r["y"], r["m"], r["d"], r["h"]): r["y_count"]
            for r in hours.group_by(["y", "m", "d", "h"]).aggregate([("y", "count")]).to_pylist()
        }
        self.n_events = events.num_rows

        # the append pool: a second seeded events table with a seeded bucket
        rng = np.random.default_rng([self.seed, 11])
        pool = events_table(self.seed + 1, POOL_APPENDS * APPEND_ROWS, N_USERS)
        self.bucket = rng.integers(0, N_BUCKETS, pool.num_rows)
        pool = pool.append_column("bucket", pa.array(self.bucket.astype(np.int64)))
        self.pool_path = os.path.join(base, "pool.parquet")
        pq.write_table(pool, self.pool_path)
        self.pool_values = pool["value"].to_numpy()
        self.lake_dir = os.path.join(base, "lake")
        self.raw_dir = os.path.join(base, "raw")
        self.table_dir = os.path.join(base, "table")
        self.base = base
        return {"register_views_s": 0.0}

    # --- operations -----------------------------------------------------

    def _batch(self, i: int):
        from pyspark.sql import functions as F

        lo, hi = i * APPEND_ROWS, (i + 1) * APPEND_ROWS
        return self.spark.read.parquet(self.pool_path).where(F.col("event_id").between(lo, hi - 1))

    def _append(self, table_dir: str, i: int) -> int:
        from iceberg_kafka_playgroud_spark.snapshots import commit_append

        with self.tracer.operation("commit", "snapshots append"):
            t0 = time.perf_counter()
            sid = commit_append(self.spark, table_dir, self._batch(i))
            self.commit_ms.append((time.perf_counter() - t0) * 1e3)
        return sid

    def _fresh_read(self, table_dir: str, kind: str = "read", sid: int | None = None):
        from iceberg_kafka_playgroud_spark.snapshots import read_snapshot

        with self.tracer.operation(kind, f"snapshots {kind}") as op:
            t0 = time.perf_counter()
            df = read_snapshot(self.spark, table_dir, sid, keep_bucket=True)
            agg = df.groupBy("bucket").count()
            rows = {r["bucket"]: r["count"] for r in agg.collect()}
            ms = (time.perf_counter() - t0) * 1e3
        if self.tracer.enabled:
            self.held.append((op, agg))
        return rows, ms

    def _expected_buckets(self, n_appends: int) -> dict[int, int]:
        counts = np.bincount(self.bucket[: n_appends * APPEND_ROWS], minlength=N_BUCKETS)
        return {b: int(c) for b, c in enumerate(counts) if c}

    def warmup(self) -> None:
        from iceberg_kafka_playgroud_spark.streaming.ingest import run_dual_sink_ingest

        self.commit_ms, self.held = [], []
        warm = self.warm_dir
        run_dual_sink_ingest(self.spark, warm, f"{warm}/lake", f"{warm}/raw")
        for i in range(2):
            self._append(f"{warm}/table", i)
            self._fresh_read(f"{warm}/table")

    def run(self, seconds: float) -> None:
        from iceberg_kafka_playgroud_spark.snapshots import merge_upsert, rewrite_data_files
        from iceberg_kafka_playgroud_spark.streaming.ingest import run_dual_sink_ingest

        self.commit_ms, self.held = [], []
        self.ingest_s: list[float] = []
        self.reads: list[tuple[int, dict, float]] = []  # (appends so far, rows, ms)
        t_start = time.perf_counter()
        deadline = t_start + seconds - TAIL_RESERVE_S
        for d in self.slice_dirs:
            with self.tracer.operation("ingest", "ingest slice"):
                t0 = time.perf_counter()
                run_dual_sink_ingest(self.spark, d, self.lake_dir, self.raw_dir)
                self.ingest_s.append(time.perf_counter() - t0)
        self.sids: list[int] = []
        n = 0
        while n < POOL_APPENDS - 1 and (n < 3 or time.perf_counter() < deadline):
            self.sids.append(self._append(self.table_dir, n))
            n += 1
            rows, ms = self._fresh_read(self.table_dir)
            self.reads.append((n, rows, ms))
        self.n_appends = n
        self.live_files_before_merge = len(self._manifest()["files"])

        # upsert: seeded matched keys get +UPSERT_BUMP, plus new keys
        from pyspark.sql import functions as F

        rng = np.random.default_rng([self.seed, 13])
        committed = n * APPEND_ROWS
        self.upsert_matched = sorted(int(k) for k in rng.choice(committed, UPSERT_MATCHED, replace=False))
        self.upsert_new = list(range(committed, committed + UPSERT_NEW))
        keys = self.upsert_matched + self.upsert_new
        updates = (
            self.spark.read.parquet(self.pool_path)
            .where(F.col("event_id").isin(keys))
            .withColumn("value", F.col("value") + F.lit(UPSERT_BUMP))
        )
        with self.tracer.operation("commit", "snapshots merge"):
            t0 = time.perf_counter()
            self.merge_sid = merge_upsert(self.spark, self.table_dir, updates, "event_id")
            self.merge_ms = (time.perf_counter() - t0) * 1e3
        self.commit_ms.append(self.merge_ms)
        with self.tracer.operation("commit", "snapshots rewrite"):
            t0 = time.perf_counter()
            self.rewrite_sid = rewrite_data_files(self.spark, self.table_dir)
            self.rewrite_ms = (time.perf_counter() - t0) * 1e3
        self.commit_ms.append(self.rewrite_ms)
        self.tt_rows, self.tt_ms = self._fresh_read(self.table_dir, "time_travel", self.sids[0])

    def _manifest(self, sid: int | None = None) -> dict:
        from iceberg_kafka_playgroud_spark.snapshots import current_snapshot_id, load_manifest

        return load_manifest(self.table_dir, sid or current_snapshot_id(self.table_dir))

    # --- checks -----------------------------------------------------------

    def check(self) -> tuple[int, int, list[str]]:
        from pyspark.sql import functions as F

        from iceberg_kafka_playgroud_spark.snapshots import read_snapshot

        fails: list[str] = []
        lake = self.spark.read.parquet(self.lake_dir).count()
        raw = self.spark.read.parquet(self.raw_dir)
        n_raw = raw.count()
        if lake != self.n_events or n_raw != self.n_events:
            fails.append(f"ingest: lake={lake} raw={n_raw} want {self.n_events}")
        hours = {
            (r["year"], r["month"], r["day"], r["hour"]): r["n"]
            for r in raw.groupBy("year", "month", "day", "hour").agg(F.count("*").alias("n")).collect()
        }
        if hours != self.expected_hours:
            bad = sorted(set(hours.items()) ^ set(self.expected_hours.items()))[:3]
            fails.append(f"ingest: per-hour counts differ, e.g. {bad}")
        for i, sid in enumerate(self.sids):
            want = (i + 1) * APPEND_ROWS
            got = self._manifest(sid)["total_records"]
            if got != want:
                fails.append(f"append {sid}: manifest total_records {got} want {want}")
        for n, rows, _ in self.reads:
            if rows != self._expected_buckets(n):
                fails.append(f"fresh read after append {n}: {rows} want {self._expected_buckets(n)}")
        want_total = self.n_appends * APPEND_ROWS + UPSERT_NEW
        for sid in (self.merge_sid, self.rewrite_sid):
            got = self._manifest(sid)["total_records"]
            if got != want_total:
                fails.append(f"commit {sid}: manifest total_records {got} want {want_total}")
        keys = self.upsert_matched + self.upsert_new
        merged = {
            r["event_id"]: r["value"]
            for r in read_snapshot(self.spark, self.table_dir).where(F.col("event_id").isin(keys)).collect()
        }
        want = {k: float(self.pool_values[k]) + UPSERT_BUMP for k in keys}
        if merged != want:
            fails.append(f"merge: {len(set(merged.items()) ^ set(want.items()))} upserted rows differ")
        if self.tt_rows != self._expected_buckets(1):
            fails.append(f"time travel: {self.tt_rows} want {self._expected_buckets(1)}")
        # one operation per ingest, commit and read
        attempted = len(self.ingest_s) + len(self.sids) + len(self.reads) + 3
        return attempted, len(fails), fails

    # --- metrics ----------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        return {
            "p50_ms": median(self.commit_ms),
            "throughput_per_s": self.n_events / sum(self.ingest_s),
        }

    def samples(self) -> int:
        return len(self.commit_ms)

    def details(self) -> dict:
        return {"ingest_s": self.ingest_s, "appends": self.n_appends}

    def layers(self, spark_layer_fn, events) -> dict[str, float]:
        out: dict[str, float] = {}
        self.progress.wait_all()
        per_ingest = [
            {k: sum(p.get(k, 0) for p in batches) for k in ("addBatch", "queryPlanning", "walCommit", "triggerExecution")}
            for batches in self.progress.progress.values()
        ]
        # the warm-up ingest is the first query; keep the timed ones
        per_ingest = per_ingest[-len(self.ingest_s):]
        for key, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                          ("walCommit", "wal_commit_ms"), ("triggerExecution", "trigger_ms")):
            out[f"ingest.{name}"] = median(p[key] for p in per_ingest)
        written = _parquet_files(self.lake_dir) + _parquet_files(self.raw_dir)
        out["ingest.files_written"] = float(len(written))
        out["ingest.write_amp"] = _bytes(written) / self.input_bytes
        appends = self.commit_ms[: len(self.sids)]
        live = [os.path.join(self.table_dir, "data", f["path"]) for f in self._manifest()["files"]]
        out.update({
            "snapshots.append_ms": median(appends),
            "snapshots.merge_ms": self.merge_ms,
            "snapshots.rewrite_ms": self.rewrite_ms,
            "snapshots.read_ms": median(ms for _, _, ms in self.reads),
            "snapshots.time_travel_ms": self.tt_ms,
            "snapshots.live_files": float(self.live_files_before_merge),
            "snapshots.space_amp": _bytes(_parquet_files(os.path.join(self.table_dir, "data"))) / _bytes(live),
        })
        phases = [catalyst_phases(df) for _, df in self.held]
        for ph in ("analysis", "optimization", "planning"):
            out[f"catalyst.{ph}_ms"] = sum(p.get(ph, 0.0) for p in phases) / max(1, len(phases))
        out.update(spark_layer_fn(self.tracer.timed_ops()))
        return out

    def close(self) -> None:
        pass
