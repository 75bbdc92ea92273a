"""The benchmark's workloads: inputs, warm-up, timed passes, output checks.

Each workload is a closed loop with one client. ``prepare`` writes the
seeded inputs (untimed), ``warm`` is the workload's share of set-up,
``run_pass`` is one timed unit of user-visible work made of one or more
ops, and ``check`` validates the outputs after the timed window.

A pass is what a user waits for: one nightly ``run_day`` (one op), or one
sweep over the LLM graded queries (one op per query).
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

from . import gen
from .spans import PIPELINE_CALLS, Tracer, spark_metrics


@dataclass
class PassResult:
    wall: float
    op_walls: list[float]
    items: int
    failed: int = 0
    #: bytes of generated input the pass handed to the engine
    input_bytes: int = 0


@dataclass
class Check:
    """Output-check outcome: ``failed_ops`` are op labels whose outputs
    were wrong; ``errors`` explains each."""

    failed_ops: set = field(default_factory=set)
    errors: list[str] = field(default_factory=list)

    def fail(self, op, msg: str) -> None:
        self.failed_ops.add(op)
        self.errors.append(f"{op}: {msg}")


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def canonical_hash(cols: list[str], rows) -> str:
    """Order-insensitive value hash, canonicalised like the repo's
    DuckDB differential check (tests/diffcheck.py): columns by name,
    values by their string rendering, rows sorted."""
    from tests.diffcheck import canonical_rows

    h = hashlib.sha256()
    for row in canonical_rows(cols, rows):
        h.update(repr(row).encode())
    return h.hexdigest()


class Workload:
    name = ""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.tracer: Tracer | None = None
        #: where the workload's tables are written (None: read-only)
        self.output_root: str | None = None
        #: data files the traced passes added under ``output_root``
        self.files_written = 0
        #: task slots of the session (local[cores])
        self.cores = os.cpu_count() or 4
        #: AQE initialPartitionNum as last read, and how often it rose
        self.width = 0
        self.widen_fires = 0

    def note_width(self, spark) -> None:
        """Read the session's AQE initial width (the widen ratchet's
        output) and count each rise."""
        from etl_sber_spark.session import _WIDEN_CONF

        w = int(spark.conf.get(_WIDEN_CONF, None) or 0)  # unset: per-core default
        if w > self.width:
            self.widen_fires += 1
        self.width = w

    def prepare(self) -> None:
        pass

    def warm(self, spark) -> None:
        pass

    def run_pass(self, spark, k: int) -> PassResult:
        raise NotImplementedError

    def check(self, spark) -> Check:
        return Check()

    def span(self, name: str):
        """A tracer span, or a no-op context when tracing is off."""
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# Graded queries
# ---------------------------------------------------------------------------


class LlmQueries(Workload):
    """One op = one LLM graded query: build the DataFrame, then execute
    it with a ``noop`` write. A pass sweeps the query list once, in an
    order permuted by the seed for each pass. After the timed
    loop, the check collects every query again on the same session and
    compares the rows with the DuckDB oracle."""

    name = "llm_queries"
    #: scale factor of the generated tables (lineitem = 6M·sf rows)
    SF = 0.01

    def prepare(self) -> None:
        from etl_sber_spark.plans.queries import QUERIES

        self.data = os.path.join(self.work, "tables")
        gen.write_tables(self.data, self.seed, self.SF)
        self.names = sorted(
            n for n, fn in QUERIES.items() if fn.__module__.rsplit(".", 1)[-1] == "llm_queries"
        )
        self.executed: dict[str, int] = {}

    def order(self, k: int) -> list[str]:
        r = gen.rng(self.seed, 50, k + 1)
        return [self.names[i] for i in r.permutation(len(self.names))]

    def _each_query(self, spark, fn) -> dict:
        """``fn(name)`` for every query, one thread per core on ``spark``."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=self.cores) as pool:
            return dict(zip(self.names, pool.map(fn, self.names)))

    def warm(self, spark) -> None:
        """Run every query once on the run's tables. The first execution
        of a query is dominated by one-off JVM work (class loading, JIT,
        whole-stage codegen), so the warm-up spreads the queries over one
        thread per core; the timed loop that follows is single-client.
        One round leaves the first timed sweep 10-35% slower than the next
        (the JIT is still compiling); a second round would add a quarter
        to the run, which the run budget does not allow (README)."""
        from etl_sber_spark.plans.queries import QUERIES

        self._each_query(
            spark, lambda n: QUERIES[n](spark, self.data).write.format("noop").mode("overwrite").save()
        )

    def run_pass(self, spark, k: int) -> PassResult:
        from etl_sber_spark.plans.queries import QUERIES

        walls, failed = [], 0
        t_pass = time.perf_counter()
        for name in self.order(k):
            t0 = time.perf_counter()
            try:
                with self.span(f"op:{name}"):
                    with self.span("plans.build"):
                        df = QUERIES[name](spark, self.data)
                    with self.span("plans.exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # an op that raises is a failed op
                print(f"perfbench: {name} raised {exc!r}", file=sys.stderr)
                failed += 1
            walls.append(time.perf_counter() - t0)
            self.executed[name] = self.executed.get(name, 0) + 1
            self.note_width(spark)
        return PassResult(time.perf_counter() - t_pass, walls, len(walls), failed)

    def check(self, spark) -> Check:
        """Every query's rows, collected on the session the timed loop
        left behind (its caches, pins and AQE width), against its DuckDB
        ``ORACLE`` SQL: row count and an order-insensitive value hash."""
        from tests.diffcheck import duck_connect

        from etl_sber_spark.plans.queries import ORACLE, QUERIES

        def collect(name):
            df = QUERIES[name](spark, self.data)
            return list(df.columns), [tuple(r) for r in df.collect()]

        results = self._each_query(spark, collect)
        out = Check()
        con = duck_connect(self.data)
        try:
            for name in self.names:
                cols, rows = results[name]
                if name not in ORACLE:
                    continue
                pdf = con.execute(ORACLE[name]).df()
                d_rows = list(pdf.itertuples(index=False, name=None))
                if len(rows) != len(d_rows):
                    out.fail(name, f"rows spark={len(rows)} oracle={len(d_rows)}")
                elif canonical_hash(cols, rows) != canonical_hash(list(pdf.columns), d_rows):
                    out.fail(name, "value hash differs from the oracle")
        finally:
            con.close()
        return out

    def failed_op_count(self, check: Check) -> int:
        return sum(self.executed.get(n, 0) for n in check.failed_ops)

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        t, timed_spans = tracer, tracer.spans
        kids = t.children()
        m = {
            "plans.build_s": sum(s.wall for s in timed_spans if s.name == "plans.build"),
            "plans.exec_s": sum(s.wall for s in timed_spans if s.name == "plans.exec"),
        }
        per: dict[str, list] = {}
        for s in timed_spans:
            if s.name.startswith("op:"):
                build = [c for c in kids.get(s.id, []) if c.name == "plans.build"]
                per.setdefault(s.name[3:], []).append(
                    (sum(c.wall for c in build), t.totals(s, kids).jobs)
                )
        for name in self.names:
            xs = per.get(name, [])
            m[f"llm.{name}.build_s"] = median([b for b, _ in xs])
            m[f"llm.{name}.jobs"] = median([j for _, j in xs])
        return m


# ---------------------------------------------------------------------------
# Nightly ETL
# ---------------------------------------------------------------------------


PIPELINE_PHASES = tuple(name for _, name in PIPELINE_CALLS)


class NightlyEtl(Workload):
    """One op = one ``pipeline.run_day`` over that day's freshly landed
    inbox (terminals + blacklist xlsx, transactions CSV), publishing the
    day's fraud mart. Set-up loads the first ``WARM_DAYS`` days."""

    name = "nightly_etl"
    FACTOR = 1.0
    WARM_DAYS = 1

    def prepare(self) -> None:
        self.inbox = gen.NightlyInbox(self.seed, self.FACTOR)
        self.bank_dir = os.path.join(self.work, "bank")
        self.inbox.write_bank(self.bank_dir)
        self.inbox_dir = os.path.join(self.work, "inbox")
        self.wh_root = self.output_root = os.path.join(self.work, "warehouse")
        self.tx_by_day: dict[int, int] = {}
        self.timed_days: list[int] = []
        self.day = 0

    def _bank(self, spark):
        return {
            t: spark.read.parquet(os.path.join(self.bank_dir, f"{t}.parquet"))
            for t in ("clients", "accounts", "cards")
        }

    def _land_day(self) -> tuple[int, int]:
        """Land the next day's files (untimed); returns (transactions,
        input bytes)."""
        self.day += 1
        n = self.inbox.write_day(self.inbox_dir, self.day)
        size = sum(os.path.getsize(e.path) for e in os.scandir(self.inbox_dir) if e.is_file())
        return n, size

    def _run_day(self, spark, n: int, bank: dict) -> None:
        from etl_sber_spark import pipeline

        with self.span(f"op:day{self.day}"):
            pipeline.run_day(
                spark, self.inbox_dir, self.wh_root, bank, self.inbox.processing_ts(self.day)
            )
        self.tx_by_day[self.day] = n  # the check skips a day that raised

    def warm(self, spark) -> None:
        for _ in range(self.WARM_DAYS):
            self._run_day(spark, self._land_day()[0], self._bank(spark))

    def run_pass(self, spark, k: int) -> PassResult:
        n, size = self._land_day()
        self.timed_days.append(self.day)
        bank = self._bank(spark)
        t0 = time.perf_counter()
        try:
            self._run_day(spark, n, bank)
        except Exception as exc:
            print(f"perfbench: day {self.day} raised {exc!r}", file=sys.stderr)
            wall = time.perf_counter() - t0
            return PassResult(wall, [wall], 0, failed=1)
        wall = time.perf_counter() - t0
        return PassResult(wall, [wall], n, input_bytes=size)

    def check(self, spark) -> Check:
        from pyspark.sql import functions as F

        from etl_sber_spark import pipeline
        from etl_sber_spark.functions.normalize import MAX_TS
        from etl_sber_spark.plans.fraud import build_fraud_report, data_view
        from etl_sber_spark.sinks.warehouse import Warehouse

        out = Check()
        wh = Warehouse(spark, self.wh_root)
        last = self.day
        fact = wh.read(pipeline.T_FACT)
        got = {r.load_date: r["count"] for r in fact.groupBy("load_date").count().collect()}
        for day, n in self.tx_by_day.items():
            rows = got.get(self.inbox.date(day))
            if rows != n:
                out.fail(day, f"fact rows {rows} != generated {n}")
        hist = wh.read(pipeline.T_HIST)
        bad_open = (
            hist.filter(F.col("effective_to") == F.lit(MAX_TS).cast("timestamp"))
            .groupBy("terminal_id").count().filter("count != 1").count()
        )
        keys = hist.select("terminal_id").distinct().count()
        n_open = hist.filter(F.col("effective_to") == F.lit(MAX_TS).cast("timestamp")).count()
        if bad_open or n_open != keys:
            out.fail(last, f"{keys} terminals but {n_open} open versions ({bad_open} keys with >1)")
        inverted = hist.filter(F.col("effective_to") < F.col("effective_from")).count()
        if inverted:
            out.fail(last, f"{inverted} inverted SCD2 intervals")
        # the last day's mart against the faithful rule plans over the same view
        ts = self.inbox.processing_ts(last)
        bank = self._bank(spark)
        view = data_view(bank["clients"], bank["accounts"], bank["cards"], fact, hist, ts)
        want = build_fraud_report(view, wh.read(pipeline.T_BLACKLIST), ts, faithful=True)
        mart = wh.read(pipeline.T_MART).filter(F.col("report_dt") == F.lit(ts.date()))
        cols = want.columns
        w_rows = [tuple(r) for r in want.collect()]
        m_rows = [tuple(r) for r in mart.select(*cols).collect()]
        if not w_rows:
            out.fail(last, "no fraud rows: the planted triggers did not fire")
        if canonical_hash(cols, w_rows) != canonical_hash(cols, m_rows):
            out.fail(last, f"mart rows {len(m_rows)} != faithful rules {len(w_rows)}")
        return out

    def failed_op_count(self, check: Check) -> int:
        return len(check.failed_ops & set(self.timed_days))

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        t, timed_spans = tracer, tracer.spans
        kids = t.children()
        m: dict[str, float] = {}
        for phase in PIPELINE_PHASES:
            spans = [s for s in timed_spans if s.name == phase]
            m[f"{phase}_s"] = median([s.wall for s in spans])
            blocks = [spark_metrics(t.totals(s, kids), s.wall, self.cores, phase) for s in spans]
            for key in blocks[0] if blocks else ():
                m[key] = median([b[key] for b in blocks])
        return m


WORKLOADS = {w.name: w for w in (NightlyEtl, LlmQueries)}
