"""``batch_headline``: headline registry rows through ``queries()``.

Each row is built with ``__spark_entry__.queries()[name](spark, sf_dir)``
and executed into the noop sink, as ``bench.py`` does.  Order of work:

1. an untimed pass that collects every row and compares it with its
   DuckDB oracle through ``verify.compare``; it also warms the JVM at
   the target scale and is reported as ``setup.warmup_s``;
2. recompute-warm passes until the time is spent (at least two), with
   ``plan_cache.clear_materializations`` before every row;
3. in traced runs only, one cache-warm pass with memos and caches left
   warm (it feeds per-layer metrics alone).

Traced runs also check the trace itself (see ``trace_failures``); a row
that fails those checks counts as a failed operation.

The rows are a fixed subset of ``bench.py``'s 37 headline rows with
every operator family present; see README.md for why not all 37.
"""

from __future__ import annotations

import time

from harness import catalyst_phases, median

SF = 0.01
MIN_RECOMPUTE_PASSES = 2
CHECK_THREADS = 3
COVERAGE_MIN = 0.9  # build + action spans over the row's wall time

# row -> operator family (the engine module the registry entry lives in)
ROWS = {
    "q1_pricing_summary": "relational",
    "q6_forecast_revenue": "relational",
    "dedup_connected_components": "dedup",
    "ann_topk_blocked": "similarity",
    "text_lang_id": "text",
    "graph_triangle_count": "advanced",
    "orders_open_concurrency": "temporal",
    "multimodal_phash_near_dup": "multimodal",
    "curation_global_shuffle": "curation",
    "stream_sessionize": "ingest",
}
FAMILIES = ("relational", "dedup", "similarity", "text", "advanced",
            "temporal", "multimodal", "curation", "ingest")

BYPASSED = ("api.", "ingest.", "snapshots.")


def trace_failures(rec, spans, jobs_by_op) -> list[str]:
    """One line per recompute row execution that fails a trace check.
    ``rec`` holds ``(mode, name, op, wall_s)`` with the wall time taken
    outside the operation's context; ``spans`` maps ``(op, "build" |
    "action")`` to spans; ``jobs_by_op`` maps op ids to their jobs.

    * the build and action spans must cover at least ``COVERAGE_MIN``
      of the row's wall time;
    * a row must run the same number of Spark jobs on every recompute
      pass as on the first."""
    out = []
    first: dict[str, int] = {}
    for _, name, op, wall_s in rec:
        covered = spans[(op, "build")].dur + spans[(op, "action")].dur
        if covered < COVERAGE_MIN * wall_s:
            out.append(f"{name} ({op}): build + action spans cover {covered / wall_s:.2f} of {wall_s:.3f} s")
        n = len(jobs_by_op.get(op, []))
        if first.setdefault(name, n) != n:
            out.append(f"{name} ({op}): {n} jobs, {first[name]} on the first recompute pass")
    return out


class Workload:
    name = "batch_headline"
    bypassed = BYPASSED

    def __init__(self, spark, box, tracer, seed: int):
        self.spark, self.box, self.tracer, self.seed = spark, box, tracer, seed
        import __spark_entry__ as entry

        qs, oracles = entry.queries(), entry.oracle_sql()
        self.queries = {n: qs[n] for n in ROWS}
        self.oracles = {n: oracles[n] for n in ROWS}
        self.held: list = []  # (op, frame) of traced rows, for catalyst.*
        self.trace_failures: list[str] = []

    def setup(self, rep: int) -> dict[str, float]:
        import duckdb
        from datagen import generate
        from iceberg_kafka_playgroud_spark.schema import register_views
        from iceberg_kafka_playgroud_spark.verify import register_duckdb_views

        self.sf_dir = self.box.path("data", f"sf{SF}-{rep}")
        generate(self.sf_dir, self.seed, SF)
        t0 = time.perf_counter()
        register_views(self.spark, self.sf_dir)
        t_views = time.perf_counter() - t0
        self.con = duckdb.connect()
        register_duckdb_views(self.con, self.sf_dir)
        return {"register_views_s": t_views}

    def warmup(self) -> None:
        """The checked pass: collect each row, compare with its oracle.
        Rows run on ``CHECK_THREADS`` threads: this pass is untimed, and
        overlapping the rows' first-run costs (code generation, JIT,
        Python workers) keeps the warm-up short."""
        from concurrent.futures import ThreadPoolExecutor

        from iceberg_kafka_playgroud_spark.plan_cache import clear_materializations
        from iceberg_kafka_playgroud_spark.verify import compare, duckdb_result, spark_result

        clear_materializations(self.spark, drop_prepared_plans=True)
        want = {name: duckdb_result(self.con, sql) for name, sql in self.oracles.items()}

        def check_row(name: str) -> list[str]:
            try:
                got = spark_result(self.queries[name](self.spark, self.sf_dir))
                return compare(name, got, want[name])[:1]
            except Exception as exc:  # a crash is a failed row, not a crashed run
                return [f"{name}: {type(exc).__name__}: {str(exc)[:200]}"]

        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            self.check_failures = [e for errs in pool.map(check_row, self.queries) for e in errs]

    def _row(self, name: str, mode: str) -> float:
        """One row into the noop sink; returns its wall time, taken
        outside the operation's context (tags and spans included)."""
        t0 = time.perf_counter()
        with self.tracer.operation(mode, name) as op:
            with self.tracer.span("build"):
                df = self.queries[name](self.spark, self.sf_dir)
            with self.tracer.span("action"):
                df.write.format("noop").mode("overwrite").save()
        dt_s = time.perf_counter() - t0
        if self.tracer.enabled:
            self.held.append((op, df))
        self.rows.append((mode, name, op, dt_s))
        return dt_s

    def run(self, seconds: float) -> None:
        from iceberg_kafka_playgroud_spark import plan_cache
        from iceberg_kafka_playgroud_spark.plan_cache import clear_materializations

        self.rows: list[tuple[str, str, str, float]] = []
        self.clear_s: list[float] = []
        self.pass_s: list[float] = []
        self.durable: set[str] = set()
        self.run_errors: list[str] = []
        t_start = time.perf_counter()
        deadline = t_start + seconds
        while True:
            t_pass, t_clear = 0.0, 0.0
            for name in self.queries:
                t0 = time.perf_counter()
                clear_materializations(self.spark)
                t_clear += time.perf_counter() - t0
                t_pass += self._safe_row(name, "recompute")
                self.durable.update(k[2] for k in plan_cache._DURABLE_PLAN_CACHE)
            self.pass_s.append(t_pass)
            self.clear_s.append(t_clear)
            # stop when another pass would overrun
            left = deadline - time.perf_counter()
            if len(self.pass_s) >= MIN_RECOMPUTE_PASSES and left < median(self.pass_s):
                break
        if self.tracer.enabled:
            self.cache_warm_s = sum(self._safe_row(n, "cache_warm") for n in self.queries)

    def _safe_row(self, name: str, mode: str) -> float:
        try:
            return self._row(name, mode)
        except Exception as exc:
            self.run_errors.append(f"{name} ({mode}): {type(exc).__name__}: {str(exc)[:200]}")
            return 0.0

    def check(self) -> tuple[int, int, list[str]]:
        failures = self.check_failures + self.run_errors + self.trace_failures
        return len(self.queries) + len(self.rows) + len(self.run_errors), len(failures), failures

    def _recompute(self):
        return [r for r in self.rows if r[0] == "recompute"]

    def end_to_end(self) -> dict[str, float]:
        # p50 over passes, not rows: the rows' latencies differ tenfold,
        # so a median over rows lands in a gap between two rows and
        # jumps between them from run to run
        return {
            "p50_ms": median(self.pass_s) * 1e3,
            "throughput_per_s": len(self._recompute()) / sum(self.pass_s),
        }

    def samples(self) -> int:
        return len(self._recompute())

    def details(self) -> dict:
        return {"pass_s": self.pass_s}

    def _family_pass_sum(self, family_filter) -> float:
        sums: dict[int, float] = {}
        rec = self._recompute()
        per_pass = len(self.queries)
        for i, (_, name, _, dt_s) in enumerate(rec):
            if family_filter(ROWS[name]):
                sums[i // per_pass] = sums.get(i // per_pass, 0.0) + dt_s
        return median(sums.values())

    def layers(self, spark_layer_fn, events) -> dict[str, float]:
        jobs, _ = events
        by_op: dict[str, list] = {}
        for j in jobs.values():
            by_op.setdefault(j.op, []).append(j)
        spans = {(s.op, s.name): s for s in self.tracer.spans if s.name in ("build", "action")}
        rec = self._recompute()
        per_pass = len(self.queries)
        n_pass = len(rec) // per_pass
        out: dict[str, float] = {}
        fam: dict[str, dict[str, float]] = {
            f: {"build_s": 0.0, "eager_jobs": 0.0, "action_s": 0.0, "action_jobs": 0.0}
            for f in FAMILIES
        }
        row_jobs: dict[str, int] = {}
        coverage = []
        for _, name, op, dt_s in rec:
            build, action = spans[(op, "build")], spans[(op, "action")]
            mine = by_op.get(op, [])
            eager = sum(1 for j in mine if j.start + 1e-3 <= action.start)
            f = fam[ROWS[name]]
            f["build_s"] += build.dur / n_pass
            f["action_s"] += action.dur / n_pass
            f["eager_jobs"] += eager / n_pass
            f["action_jobs"] += (len(mine) - eager) / n_pass
            row_jobs.setdefault(name, len(mine))
            coverage.append((build.dur + action.dur) / dt_s)
        self.trace_failures = trace_failures(rec, spans, by_op)
        for family, vals in fam.items():
            for k, v in vals.items():
                out[f"ops.{family}.{k}"] = v
        for name in ROWS:
            # the first recompute pass; trace_failures flags any other count
            out[f"jobs.{name}"] = float(row_jobs.get(name, 0))
        phases = [catalyst_phases(df) for op, df in self.held if op in {r[2] for r in rec}]
        for ph in ("analysis", "optimization", "planning"):
            out[f"catalyst.{ph}_ms"] = sum(p.get(ph, 0.0) for p in phases) / max(1, len(phases))
        rec_s = median(self.pass_s)
        out.update({
            "plan_cache.clear_s": median(self.clear_s),
            "plan_cache.durable_plans": float(len(self.durable)),
            "plan_cache.warm_saving_s": rec_s - self.cache_warm_s,
            "batch.relational_s": self._family_pass_sum(lambda f: f == "relational"),
            "batch.curation_s": self._family_pass_sum(lambda f: f != "relational"),
            "batch.cache_warm_s": self.cache_warm_s,
            "batch.span_coverage_min": min(coverage) if coverage else 0.0,
        })
        out.update(spark_layer_fn({r[2] for r in rec}))
        return out

    def close(self) -> None:
        self.con.close()
