"""The benchmark's workloads: ``daily_etl`` and ``catalog_mix``, the two
``BENCHMARK.json`` lists. ``catalog_mix`` ends with a short open-loop
stream phase (:class:`StreamPhase`), the only place the ``streaming``
layer runs.

Each workload has the same shape:

- ``prepare(ctx)``: generate the seeded inputs (untimed);
- ``first_action(spark, ctx)``: the first action after a session
  start, part of ``setup_s``;
- ``instrument(spark, ctx)``: traced runs only — wrap the public engine
  functions the workload calls into, each in a span named after its
  layer;
- ``run(spark, ctx)``: the measured loop plus the untimed output
  checks; returns a :class:`Result`.

The end-to-end metrics mean the same on both workloads: ``op_p50_s`` is
the median wall time of the workload's operation (one run date's DAG;
one pass over the catalog roster), and ``throughput_per_s`` is work
done per second of busy time (input sales rows per second of DAG plus
reconcile time; queries per second of pass time).
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

import gen
from spans import job_seconds, last_job_id

RECALL_FLOOR = 1.0  # planted near-dup recall measured at the defining commit


@dataclass
class Result:
    op_s: list[float]
    work: float
    busy_s: float
    layers: dict[str, float] = field(default_factory=dict)


class Context:
    def __init__(self, args, work: str, tracer):
        self.work, self.tracer = work, tracer
        self.seed, self.seconds, self.smoke = args.seed, args.seconds, args.smoke
        self.attempted = 0
        self.failed = 0
        self.info: dict = {"workload": args.workload, "seed": args.seed}
        self.problems: list[str] = []
        self._last = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Charge the wall time since the previous mark to ``phase``
        (reported in the ``info`` line as ``phase_s``)."""
        now = time.perf_counter()
        phases = self.info.setdefault("phase_s", {})
        phases[phase] = phases.get(phase, 0.0) + now - self._last
        self._last = now

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what[:400])
        self.info["problems"] = self.problems[:20]
        print(f"perfbench: failed: {what}"[:2000], flush=True)

    def check(self, ok: bool, what: str) -> bool:
        """Count one output check; a failed check counts as a failed op."""
        self.attempted += 1
        if not ok:
            self._fail(f"check: {what}")
        return ok

    def op(self, fn, what: str):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - every failure is counted
            self._fail(f"{what}: {type(e).__name__}: {e}")
            return None


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
    return con


def jvm_cpu_s(spark) -> float:
    """CPU seconds (user + system) the driver JVM has used so far; 0
    when the session attached to a JVM this process did not launch."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _job_shares(sc, ops: list[tuple[float, int, int]]) -> dict[str, float]:
    """How much of an operation's wall time its Spark jobs cover. ``ops``
    holds (wall seconds, first job id before, last job id after) per
    measured operation. ``job_share`` is jobs x median job time over op
    time; ``in_job_share`` is the summed job time over op time (jobs of
    one operation run one after another, so it is at most about 1)."""
    if not ops:
        return {}
    durs = job_seconds(sc, min(a for _, a, _ in ops), max(b for _, _, b in ops))
    per_op = [[d for j, d in durs.items() if a < j <= b] for _, a, b in ops]
    wall = sum(w for w, _, _ in ops)
    jobs = sum(len(x) for x in per_op)
    med = statistics.median(d for x in per_op for d in x) if jobs else 0.0
    return {"jobs_per_op": jobs / len(ops), "median_job_s": med,
            "job_share": jobs * med / wall,
            "in_job_share": sum(d for x in per_op for d in x) / wall}


# --- daily_etl ------------------------------------------------------------------

MARTS = {  # legacy mart -> its key (catalog query carrying its DuckDB oracle)
    "supplier_performance": ("SUPPLIER_ID", "mart_supplier_performance"),
    "product_performance": ("PRODUCT_ID", "mart_product_performance"),
    "customer_sales_report": ("SALE_ID", "pipeline_customer_sales_report"),
}
_NOT_COMPARED = {"DAY_DT", "LOAD_TSTMP"}


class DailyEtl:
    """The reference DAG (``marts.flow.metamorph_tasks`` run by
    ``core.pipeline.run_pipeline``) for consecutive run dates into one
    fresh ``LayeredWarehouse``. Day 0 is the warm-up. Days 1.. are
    measured until ``--seconds`` have passed and at least ``min_days``
    ran (one day plus its reconcile outlasts the default ten seconds);
    after each, ``reconcile.diff`` compares the day's ``customers`` with
    the previous day's, and the ``customer_sales_report`` history as of
    the day with the history as of the previous day. Traced runs end
    by re-running day 0 and checking that it changed nothing; untraced
    runs skip it to leave time for the measured day."""

    sf = 0.002
    min_days = 1

    def prepare(self, ctx):
        sf = 0.001 if ctx.smoke else self.sf
        ctx.days = gen.EtlDays(os.path.join(ctx.work, "days"), ctx.seed, sf)
        ctx.day_dirs = [ctx.days.write(0)]
        ctx.report_rows = {}
        ctx.info.update(sf=sf, changed_row_share=ctx.days.change_share,
                        sales_rows_per_day=ctx.days.sales_rows[0])

    def first_action(self, spark, ctx):
        spark.read.parquet(os.path.join(ctx.day_dirs[0], "lineitem.parquet")).count()

    def instrument(self, spark, ctx):
        from sahithi_metamorph_etl_spark.core import pipeline
        from sahithi_metamorph_etl_spark.marts import flow
        from sahithi_metamorph_etl_spark.sinks.warehouse import LayeredWarehouse

        t = ctx.tracer
        t.wrap(flow, "tpch_entities", "marts.adapters.tpch_entities")
        t.wrap(flow, "validate_non_empty", "validators.validate_non_empty")
        t.wrap(flow, "validate_unique", "validators.validate_unique")
        t.wrap(flow, "dedupe_by_key", "operators.aggregates.dedupe_by_key")
        for m in MARTS:
            t.wrap(flow, f"build_{m}", f"marts.{m}")
        for m in ("write_raw", "write_legacy", "read_legacy"):
            t.wrap(LayeredWarehouse, m, f"sinks.warehouse.{m}")
        t.wrap(pipeline, "run_pipeline", "core.pipeline.run_pipeline")

    def _dag(self, spark, ctx, wh, day: int):
        from sahithi_metamorph_etl_spark.core import pipeline
        from sahithi_metamorph_etl_spark.core.pipeline import PipelineTask
        from sahithi_metamorph_etl_spark.marts import flow

        tasks = flow.metamorph_tasks(spark, ctx.day_dirs[day], wh, gen.run_date(day))
        if ctx.tracer.enabled:
            tasks = [PipelineTask(t.name, self._task_span(ctx, t), t.deps, t.retries,
                                  t.retry_delay_s) for t in tasks]
        return pipeline.run_pipeline(tasks)

    @staticmethod
    def _task_span(ctx, task):
        def run(upstream):
            with ctx.tracer.span(f"task.{task.name}"):
                return task.fn(upstream)
        return run

    def _recon(self, spark, ctx, wh, day: int) -> dict:
        """Diff the day against the previous one and materialize the
        summary, column mismatches and mismatched cells of both diffs.
        ``customers`` is a daily snapshot, so its day partitions are
        compared; ``customer_sales_report`` is an append-only history,
        so the history as of each day is."""
        from pyspark.sql import functions as F

        from sahithi_metamorph_etl_spark import reconcile

        today, yesterday = gen.run_date(day), gen.run_date(day - 1)
        history = wh.read_legacy(spark, "customer_sales_report")
        pairs = {
            "customers": ("CUSTOMER_ID", wh.read_legacy(spark, "customers", today),
                          wh.read_legacy(spark, "customers", yesterday)),
            "customer_sales_report": ("SALE_ID", history.filter(F.col("DAY_DT") <= today),
                                      history.filter(F.col("DAY_DT") <= yesterday)),
        }
        out = {}
        for name, (key, src, tgt) in pairs.items():
            cols = [c for c in src.columns if c not in _NOT_COMPARED and c != key]
            with ctx.tracer.span("reconcile.diff"):
                d = reconcile.diff(src, tgt, [key], compare_cols=cols)
                summary = d.summary.collect()[0].asDict()
                d.column_mismatches.collect()
                d.mismatched_cells.write.format("noop").mode("overwrite").save()
            out[name] = summary
        return out

    def _check_day(self, spark, ctx, wh, day: int) -> None:
        """Each mart has the row count DuckDB computes over the day's
        inputs."""
        from sahithi_metamorph_etl_spark.queries.catalog import get_query

        con = _duck(ctx.day_dirs[day])
        try:
            for mart, (_, query) in MARTS.items():
                want = con.execute(f"SELECT count(*) FROM ({get_query(query).oracle})").fetchone()[0]
                got = wh.read_legacy(spark, mart, gen.run_date(day)).count()
                ctx.check(got == want, f"day {day} {mart}: {got} rows, DuckDB counts {want}")
                if mart == "customer_sales_report":
                    ctx.report_rows[day] = want
        finally:
            con.close()

    def _check_recon(self, ctx, day: int, recon: dict) -> None:
        """The customers diff finds exactly the customers the generator
        changed; the report history diff finds the earlier days in
        common and unchanged, and the day's sales new."""
        c = recon["customers"]
        ctx.check(c["mismatched_rows"] == ctx.days.changed_customers[day]
                  and c["source_only"] == 0 and c["target_only"] == 0,
                  f"day {day} customers diff {c}, "
                  f"{ctx.days.changed_customers[day]} customers changed")
        s, before = recon["customer_sales_report"], sum(ctx.report_rows[d] for d in range(day))
        ctx.check(s["target_total"] == s["common"] == before and s["mismatched_rows"] == 0
                  and s["source_only"] == ctx.report_rows[day] and s["target_only"] == 0,
                  f"day {day} customer_sales_report history diff {s}: expected {before} "
                  f"earlier rows unchanged and {ctx.report_rows[day]} new")

    def _snapshot(self, spark, ctx, wh) -> str:
        snap = os.path.join(ctx.work, "snapshot")
        for mart in MARTS:
            wh.read_legacy(spark, mart, gen.run_date(0)).write.parquet(os.path.join(snap, mart))
        return snap

    def _check_rerun(self, spark, ctx, wh, snap: str) -> None:
        """The re-run of day 0 must leave its legacy marts unchanged."""
        from sahithi_metamorph_etl_spark import reconcile

        for mart, (key, _) in MARTS.items():
            now = wh.read_legacy(spark, mart, gen.run_date(0))
            before = spark.read.parquet(os.path.join(snap, mart))
            cols = [c for c in now.columns if c not in _NOT_COMPARED and c != key]
            s = reconcile.diff(now, before, [key], compare_cols=cols).summary.collect()[0]
            ctx.check(s["mismatched_rows"] == 0 and s["source_only"] == 0
                      and s["target_only"] == 0, f"re-run of day 0 changed {mart}: {s.asDict()}")

    def run(self, spark, ctx) -> Result:
        from sahithi_metamorph_etl_spark.sinks.warehouse import LayeredWarehouse

        root = os.path.join(ctx.work, "warehouse")
        wh = LayeredWarehouse(root)
        sc, t = spark.sparkContext, ctx.tracer
        day0 = ctx.op(lambda: self._dag(spark, ctx, wh, 0), "day 0")  # warm-up
        if day0 is not None:
            self._check_day(spark, ctx, wh, 0)
        ctx.mark("warmup")

        m = {"day_s": [], "recon_s": [], "spans": [], "ops": [], "written": [], "rows": 0}
        want = 1 if ctx.smoke else self.min_days
        t_end, day = time.perf_counter() + ctx.seconds, 0
        while day < want or (time.perf_counter() < t_end and not ctx.smoke):
            day += 1
            ctx.day_dirs.append(ctx.days.write(day))
            ctx.mark("generate")
            before, j0 = _dir_bytes(root), last_job_id(sc)
            c0 = jvm_cpu_s(spark)
            with t.span("etl.day") as sp:
                a = time.perf_counter()
                ok = ctx.op(lambda: self._dag(spark, ctx, wh, day), f"day {day}")
                took = time.perf_counter() - a
            ctx.info.setdefault("op_jvm_cpu_s", []).append(jvm_cpu_s(spark) - c0)
            if ok is None:
                continue
            m["day_s"].append(took)
            m["spans"].append(sp)
            m["ops"].append((took, j0, last_job_id(sc)))
            m["written"].append((_dir_bytes(root) - before) / _dir_bytes(ctx.day_dirs[day]))
            m["rows"] += ctx.days.sales_rows[day]
            ctx.mark("day")
            with t.span("etl.recon"):
                a = time.perf_counter()
                recon = ctx.op(lambda: self._recon(spark, ctx, wh, day), f"reconcile day {day}")
                m["recon_s"].append(time.perf_counter() - a)
            ctx.mark("recon")
            self._check_day(spark, ctx, wh, day)
            if recon is not None:
                self._check_recon(ctx, day, recon)
            ctx.mark("check")

        if t.enabled and day0 is not None:
            # re-running the first date (an idempotent backfill) must not change it
            snap = self._snapshot(spark, ctx, wh)
            if ctx.op(lambda: self._dag(spark, ctx, wh, 0), "re-run of day 0") is not None:
                self._check_rerun(spark, ctx, wh, snap)
            ctx.mark("rerun")
        ctx.info.update(etl_day_s=statistics.median(m["day_s"]),
                        etl_recon_s=statistics.median(m["recon_s"]),
                        days_measured=len(m["day_s"]), history_days=day + 1,
                        recon_s=m["recon_s"])
        layers = self._layers(spark, ctx, m) if t.enabled else {}
        return Result(m["day_s"], m["rows"], sum(m["day_s"]) + sum(m["recon_s"]), layers)

    def _layers(self, spark, ctx, m: dict) -> dict[str, float]:
        t, day_spans, n = ctx.tracer, m["spans"], len(m["spans"])
        spans = [s for d in day_spans for s in t.under(d)]
        recon = [s for r in t.named("etl.recon") for s in t.under(r)]
        nr = len(m["recon_s"])
        self_s = t.self_times(spans)
        job = {}
        for s in spans:
            job[s.name] = job.get(s.name, 0) + s.jobs
        tasks = sum(s.dur for s in spans if s.name.startswith("task."))
        runs = sum(s.dur for s in spans if s.name == "core.pipeline.run_pipeline")
        named = sum(s.dur for s in spans if s.parent in {d.id for d in day_spans})
        shares = _job_shares(spark.sparkContext, m["ops"])
        ctx.info["job_shares"] = shares
        out = {
            "core.pipeline.overhead_s": _per(runs - tasks, n),
            "etl.jobs_per_day": shares["jobs_per_op"],
            "etl.job_share": shares["job_share"],
            "etl.span_coverage": named / sum(d.dur for d in day_spans),
            "sinks.warehouse.bytes_written_per_input_byte": statistics.median(m["written"]),
            "reconcile.diff_s": _per(sum(s.dur for s in recon if s.name == "reconcile.diff"), nr),
            "reconcile.jobs": _per(sum(s.jobs for s in recon if s.name == "reconcile.diff"), nr),
        }
        for name in ("marts.adapters.tpch_entities", "validators.validate_non_empty",
                     "validators.validate_unique", "sinks.warehouse.write_raw",
                     "sinks.warehouse.write_legacy", "sinks.warehouse.read_legacy",
                     *(f"marts.{mart}" for mart in MARTS)):
            out[f"{name}_s"] = _per(self_s.get(name, 0.0), n)
        for layer in ("validators", "sinks.warehouse", "marts"):
            out[f"{layer}.jobs"] = _per(sum(v for k, v in job.items()
                                            if k.startswith(layer + ".")), n)
        ingest = [s for s in spans if s.name == "task.ingest_sales"]
        ctx.info["ingest_sales_split_s"] = {
            k: _per(v, n) for k, v in t.self_times(
                [c for s in ingest for c in t.under(s)]).items()}
        return out


# --- catalog_mix ------------------------------------------------------------------

# The roster is a subset of bench.py's headline rows, small enough that
# the cold checked pass, the measured passes and the stream phase fit
# the per-run time budget. Warm seconds per query at sf0.002 on 4 cores
# in the comments.
SQL_ROSTER = (
    "pricing_summary",                 # 0.53
    "supplier_part_agg",               # 0.54
    "tpch_q3_shipping_priority",       # 0.61
    "tpch_q18_large_volume_customer",  # 0.49
)
LLM_ROSTER = (
    "doc_minhash_lsh_pairs",           # 1.52  llm.dedup: LSH candidate pairs
    "doc_neardup_incremental",         # 1.54  llm.dedup: batch vs persisted band store
    "emb_sq8_topk",                    # 2.35  llm.similarity: int8 scan
)
_DEDUP_SPANS = ("llm.dedup.band_signature_store", "llm.dedup.neardup_against_seen")


class CatalogMix:
    """A read-only session over the catalog roster, each query into the
    ``noop`` sink with the cache cleared after it (as ``bench.py``
    does). The first pass collects every result and compares it with
    the query's DuckDB oracle (untimed; it is also the warm-up); the
    measured passes follow until ``--seconds`` have passed and at least
    ``min_passes`` ran (two passes outlast the default ten seconds).
    The seed shuffles the query order of every pass. Traced runs end
    with the stream phase: its figures are layer metrics only, so
    untraced runs skip it."""

    sf = 0.002
    min_passes = 2

    def __init__(self):
        self.stream = StreamPhase()

    def prepare(self, ctx):
        sf = 0.001 if ctx.smoke else self.sf
        ctx.sf_dir = os.path.join(ctx.work, "sf")
        ctx.info.update(sf=sf, rows=gen.write_tables(ctx.sf_dir, ctx.seed, sf))
        if ctx.tracer.enabled:
            self.stream.prepare(ctx)

    def first_action(self, spark, ctx):
        spark.read.parquet(os.path.join(ctx.sf_dir, "lineitem.parquet")).count()

    def instrument(self, spark, ctx):
        from sahithi_metamorph_etl_spark.llm import dedup
        from sahithi_metamorph_etl_spark.streaming import neardup

        for module in (dedup, neardup):  # where each caller looks the names up
            for name in _DEDUP_SPANS:
                ctx.tracer.wrap(module, name.rsplit(".", 1)[1], name)

    def _order(self, ctx, p: int) -> list[tuple[str, str]]:
        import random

        roster = [("sql", n) for n in SQL_ROSTER] + [("llm", n) for n in LLM_ROSTER]
        random.Random(ctx.seed * 1009 + p).shuffle(roster)
        return roster

    def _query(self, spark, ctx, name: str) -> None:
        from sahithi_metamorph_etl_spark.queries.catalog import get_query

        t = ctx.tracer
        with t.span(f"query.{name}"):
            with t.span("queries.build"):
                df = get_query(name).fn(spark, ctx.sf_dir)
            if t.enabled:
                with t.span("queries.plan"):
                    df._jdf.queryExecution().executedPlan()
            with t.span("queries.run"):
                df.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    def _check_pass(self, spark, ctx) -> None:
        from sahithi_metamorph_etl_spark.queries.catalog import get_query
        from tests.oracle import canon_rows, run_oracle

        for _, name in self._order(ctx, 0):
            got = ctx.op(lambda: get_query(name).fn(spark, ctx.sf_dir).toPandas(), name)
            spark.catalog.clearCache()
            if got is None:
                continue
            want = run_oracle(get_query(name).oracle, ctx.sf_dir)
            ctx.check(sorted(got.columns) == sorted(want.columns)
                      and canon_rows(got) == canon_rows(want),
                      f"{name}: {len(got)} rows differ from the DuckDB oracle ({len(want)} rows)")

    def run(self, spark, ctx) -> Result:
        sc = spark.sparkContext
        self._check_pass(spark, ctx)
        ctx.mark("check_pass")
        passes, fam, ops = [], {"sql": [], "llm": []}, []
        per_query: dict[str, list[float]] = {}
        want = 1 if ctx.smoke else self.min_passes
        t_end = time.perf_counter() + ctx.seconds
        while len(passes) < want or (time.perf_counter() < t_end and not ctx.smoke):
            p = len(passes) + 1
            took = {"sql": 0.0, "llm": 0.0}
            j0, c0 = last_job_id(sc), jvm_cpu_s(spark)
            for family, name in self._order(ctx, p):
                a = time.perf_counter()
                ctx.op(lambda: self._query(spark, ctx, name), name)
                s = time.perf_counter() - a
                took[family] += s
                per_query.setdefault(name, []).append(s)
            passes.append(took["sql"] + took["llm"])
            ctx.info.setdefault("op_jvm_cpu_s", []).append(jvm_cpu_s(spark) - c0)
            ops.append((passes[-1], j0, last_job_id(sc)))
            for f in fam:
                fam[f].append(took[f])
        n = len(SQL_ROSTER) + len(LLM_ROSTER)
        ctx.info.update(sql_pass_s=statistics.median(fam["sql"]),
                        llm_pass_s=statistics.median(fam["llm"]), passes=len(passes),
                        query_s={k: [round(x, 3) for x in v] for k, v in per_query.items()},
                        pass_s=passes)
        t = ctx.tracer
        # the checked pass runs outside any query span
        pass_dedup = {k: sum(s.dur for s in t.named(k) if s.parent is not None)
                      for k in _DEDUP_SPANS}
        ctx.mark("passes")
        layers = {}
        if t.enabled:
            stream = ctx.op(lambda: self.stream.run(spark, ctx), "stream phase") or {}
            ctx.mark("stream")
            q = len(passes) * n
            totals = t.totals()
            layers = {f"queries.{k}_s": _per(totals.get(f"queries.{k}", 0.0), q)
                      for k in ("build", "plan", "run")}
            shares = _job_shares(sc, ops)
            ctx.info["job_shares"] = shares
            layers["queries.jobs_per_query"] = shares["jobs_per_op"] / n
            layers["queries.job_share"] = shares["job_share"]
            layers.update({f"{k}_s": _per(v, len(passes)) for k, v in pass_dedup.items()})
            layers["queries.sql_pass_s"] = statistics.median(fam["sql"])
            layers["queries.llm_pass_s"] = statistics.median(fam["llm"])
            layers.update({f"query.{k}_s": statistics.median(v) for k, v in per_query.items()})
            layers.update(stream)
        return Result(passes, len(passes) * n, sum(passes), layers)


class StreamPhase:
    """Open loop: a generator thread lands one parquet file of seeded
    documents into a watched directory every ``interval_s`` seconds,
    and ``streaming.neardup.neardup_ingest_stream`` ingests one file per
    micro-batch. ``warmup_files`` land first, each drained before the
    next; then ``files`` land on schedule. A file's latency runs from
    its scheduled landing time to the commit of the batch that ingested
    it, so it includes queue wait."""

    docs_per_file = 100
    dup_share = 0.25
    interval_s = 4.0
    warmup_files = 1
    files = 3

    def prepare(self, ctx):
        docs = 40 if ctx.smoke else self.docs_per_file
        n_files = self.warmup_files + (1 if ctx.smoke else self.files)
        ctx.stream = gen.DocStream(ctx.seed, docs, self.dup_share)
        stage = os.path.join(ctx.work, "stage")
        os.makedirs(stage)
        ctx.staged = []
        for i in range(n_files):
            path = os.path.join(stage, f"part-{i:05d}.parquet")
            pq.write_table(ctx.stream.next_table(), path)
            ctx.staged.append(path)
        ctx.watch = os.path.join(ctx.work, "incoming")
        os.makedirs(ctx.watch)
        ctx.info.update(stream_docs_per_file=docs, near_dup_share=self.dup_share,
                        file_interval_s=self.interval_s, stream_files=n_files,
                        stream_warmup_files=self.warmup_files)

    @staticmethod
    def _land(ctx, i: int) -> float:
        dst = os.path.join(ctx.watch, os.path.basename(ctx.staged[i]))
        os.rename(ctx.staged[i], dst)
        return time.time()

    @staticmethod
    def _batches(q, want: int, timeout_s: float) -> list:
        """Progress of the first ``want`` batches that carried data."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            done = [p for p in q.recentProgress if p.numInputRows > 0]
            if len(done) >= want:
                return sorted(done, key=lambda p: p.batchId)[:want]
            time.sleep(0.05)
        raise TimeoutError(f"stream committed fewer than {want} batches in {timeout_s}s")

    def run(self, spark, ctx) -> dict[str, float]:
        """Run the stream, check it, and return its layer metrics."""
        import datetime as dt

        from sahithi_metamorph_etl_spark.streaming import neardup

        corpus, store = (os.path.join(ctx.work, d) for d in ("corpus", "store"))
        stream_df = (spark.readStream.schema("doc_id BIGINT, text STRING")
                     .option("maxFilesPerTrigger", 1).parquet(ctx.watch))
        sc, t = spark.sparkContext, ctx.tracer
        j0, t0 = last_job_id(sc), time.perf_counter()
        q = neardup.neardup_ingest_stream(stream_df, corpus, store,
                                          os.path.join(ctx.work, "checkpoint"))
        n_files, w = len(ctx.staged), self.warmup_files
        due, landed = [], []
        try:
            for i in range(w):  # warm-up: one file per batch, drained before the next
                self._land(ctx, i)
                self._batches(q, i + 1, 120)
            start = time.time() + 0.5
            due = [start + k * self.interval_s for k in range(n_files - w)]

            def generator():
                for k, when in enumerate(due):
                    time.sleep(max(0.0, when - time.time()))
                    landed.append(self._land(ctx, w + k))

            g = threading.Thread(target=generator, daemon=True)
            g.start()
            progress = self._batches(q, n_files, 60 + 3 * n_files * self.interval_s)
            g.join()
        finally:
            q.stop()
        ctx.attempted += len(progress)
        jobs = last_job_id(sc) - j0
        measured = progress[w:]

        def commit(p) -> float:
            begin = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            begin = begin.replace(tzinfo=dt.timezone.utc).timestamp()
            return begin + p.durationMs["triggerExecution"] / 1000.0

        latency = [commit(p) - d for p, d in zip(measured, due)]
        trig = [p.durationMs["triggerExecution"] / 1000.0 for p in measured]
        recall = self._check(spark, ctx, corpus)
        ctx.info.update(stream_batch_latency_s=latency, stream_phase_s=time.perf_counter() - t0,
                        generator_late_max_s=max(a - d for a, d in zip(landed, due)),
                        planted_dup_recall=recall)
        n = len(progress)
        durations = [p.durationMs for p in progress]

        def per_batch(*keys) -> float:
            return sum(x.get(k, 0) for x in durations for k in keys) / 1e3 / n

        dedup = {k: sum(s.dur for s in t.named(k) if s.start >= t0) for k in _DEDUP_SPANS}
        starts = [commit(p) - tr for p, tr in zip(measured, trig)]
        return {
            "streaming.batch_latency_p50_s": statistics.median(latency),
            "streaming.docs_per_s": len(measured) * ctx.stream.docs_per_file / sum(trig),
            "streaming.trigger_s": per_batch("triggerExecution"),
            "streaming.add_batch_s": per_batch("addBatch"),
            "streaming.source_listing_s": per_batch("latestOffset", "getBatch"),
            "streaming.wal_commit_s": per_batch("walCommit", "commitOffsets"),
            "streaming.queue_wait_s": statistics.median(b - a for a, b in zip(due, starts)),
            "streaming.jobs_per_batch": jobs / n,
            "streaming.store_rows_final": float(spark.read.parquet(store).count()),
            "llm.dedup.planted_dup_recall": recall,
            **{f"streaming.{k.rsplit('.', 1)[1]}_s": v / n for k, v in dedup.items()},
        }

    def _check(self, spark, ctx, corpus: str) -> float:
        """Every original lands exactly once; planted near-dups do not
        land (recall = planted dups kept out / planted dups)."""
        ids = [r[0] for r in spark.read.parquet(corpus).select("doc_id").collect()]
        landed, planted = set(ids), ctx.stream.planted
        originals = {d for d, _ in ctx.stream.originals}
        ctx.check(len(ids) == len(landed), f"{len(ids) - len(landed)} docs landed twice")
        ctx.check(originals <= landed, f"{len(originals - landed)} original docs were dropped")
        caught = sum(1 for d in planted if d not in landed)
        recall = caught / len(planted) if planted else 1.0
        ctx.check(recall >= RECALL_FLOOR, f"planted near-dup recall {recall:.4f} < {RECALL_FLOOR}")
        return recall


WORKLOADS = {"daily_etl": DailyEtl(), "catalog_mix": CatalogMix()}
