"""Tests of the benchmark itself: seeded generators, span nesting and the
per-span Spark stage rollup.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import time

import pytest

from perfbench import gen
from perfbench.spans import Tracer, instrument


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _nightly(root: str, seed: int) -> None:
    inbox = gen.NightlyInbox(seed, factor=0.1)
    inbox.write_bank(os.path.join(root, "bank"))
    for day in (1, 2, 3, 4):
        inbox.write_day(os.path.join(root, f"day{day}"), day)


@pytest.mark.parametrize("write", [
    lambda root, seed: gen.write_tables(root, seed, 0.001),
    _nightly,
], ids=["tables", "nightly"])
def test_generators_are_seed_deterministic(tmp_path, write):
    digests = []
    for run, seed in enumerate((7, 7, 8)):
        root = str(tmp_path / f"run{run}")
        write(root, seed)
        digests.append(_digest(root))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_nightly_xlsx_reads_back_through_the_engine_reader(tmp_path):
    from etl_sber_spark.sources.xlsx import read_table

    inbox = gen.NightlyInbox(3, factor=0.1)
    for day in (1, 2, 3):
        inbox.write_day(str(tmp_path), day)
    header, rows = read_table(str(tmp_path / "terminals_03032021.xlsx"))
    assert header == ["terminal_id", "terminal_type", "terminal_city", "terminal_address"]
    assert rows == inbox.terminals(3)  # styled-blank tail rows dropped
    bl = [read_table(str(tmp_path / f"passport_blacklist_0{d}032021.xlsx"),
                     date_cols=("date",))[1] for d in (1, 2, 3)]
    assert len(bl[0]) < len(bl[1]) < len(bl[2])  # cumulative
    assert all(row in bl[2] for row in bl[1])
    assert {r[0] for r in bl[2]} <= {inbox.date(d) for d in (1, 2, 3)}


def test_nightly_inbox_follows_the_shipped_shapes():
    """The reference-day statistics the generator is built on: ~150
    terminals, the day-2/day-3 churn, the 7/15/24 blacklist, ``[PA]####``
    terminal ids paired with their operation types, ~90% SUCCESS."""
    import re

    inbox = gen.NightlyInbox(5)
    snaps = [{r[0]: r[1:] for r in inbox.terminals(d)} for d in (1, 2, 3, 4)]
    assert len(snaps[0]) == 150
    for prev, cur, n_add, n_del, n_changed in (
        (snaps[0], snaps[1], 1, 0, 2), (snaps[1], snaps[2], 0, 1, 1), (snaps[2], snaps[3], 1, 0, 2),
    ):
        assert len(cur.keys() - prev.keys()) == n_add
        assert len(prev.keys() - cur.keys()) == n_del
        assert sum(cur[k] != prev[k] for k in cur.keys() & prev.keys()) == n_changed
    assert not (snaps[1].keys() - snaps[0].keys()) & snaps[2].keys()  # day 2's terminal is gone
    assert [len(inbox.blacklist(d)) for d in (1, 2, 3, 4)] == [7, 15, 24, 32]
    lines = inbox.transactions(1, inbox.terminals(1))[1:]
    rows = [line.split(";") for line in lines]
    assert all(re.fullmatch(r"[PA]\d{4}", r[6]) for r in rows)
    assert {r[4] for r in rows if r[6][0] == "P"} == {"PAYMENT"}
    assert {r[4] for r in rows if r[6][0] == "A"} == {"WITHDRAW", "DEPOSIT"}
    assert 0.88 < sum(r[5] == "SUCCESS" for r in rows) / len(rows) < 0.92
    assert len({r[0] for r in rows}) == len(rows) and all(len(r[0]) == 11 for r in rows)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def _shuffle_op(spark):
    spark.range(20_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()


def _scan_op(spark):
    """One job, one stage, no shuffle."""
    spark.range(1_000).write.format("noop").mode("overwrite").save()


def test_rollup_lands_on_its_own_job_group(spark):
    t = Tracer(spark, prefix="t-own")
    with t.span("shuffle") as a:
        _shuffle_op(spark)
    with t.span("scan") as b:
        _scan_op(spark)
    tracker = spark.sparkContext.statusTracker()
    jobs_a = set(tracker.getJobIdsForGroup(t.group(a)))
    jobs_b = set(tracker.getJobIdsForGroup(t.group(b)))
    # back-to-back ops do not bleed into each other
    assert jobs_a and jobs_b and not jobs_a & jobs_b
    assert a.rollup.jobs == len(jobs_a) and b.rollup.jobs == len(jobs_b)
    assert a.rollup.shuffle_write_bytes > 0 and a.rollup.shuffle_read_bytes > 0
    assert (b.rollup.jobs, b.rollup.stages, b.rollup.shuffle_write_bytes) == (1, 1, 0)
    assert a.rollup.tasks >= 2
    # once both spans closed, no job is tagged with either group any more
    _scan_op(spark)
    assert set(tracker.getJobIdsForGroup(t.group(b))) == jobs_b


def test_nested_span_jobs_roll_up_into_the_parent_total(spark):
    t = Tracer(spark, prefix="t-nest")
    with t.span("op") as op:
        _scan_op(spark)
        with t.span("child") as child:
            _shuffle_op(spark)
        _scan_op(spark)  # the parent's group is restored
    assert child.parent == op.id
    assert op.rollup.jobs == 2
    assert op.rollup.shuffle_write_bytes == 0
    total = t.totals(op)
    assert total.jobs == op.rollup.jobs + child.rollup.jobs
    assert total.shuffle_write_bytes == child.rollup.shuffle_write_bytes > 0


def test_spans_nest_and_self_times_fit_in_the_wall(spark):
    t = Tracer(spark, prefix="t-self")
    with t.span("root") as root:
        time.sleep(0.02)
        with t.span("a"):
            time.sleep(0.03)
            with t.span("a1"):
                time.sleep(0.02)
        with t.span("b"):
            time.sleep(0.01)
    by_name = {s.name: s for s in t.spans}
    assert by_name["a1"].parent == by_name["a"].id
    assert by_name["a"].parent == by_name["b"].parent == root.id
    for s in t.spans:  # children lie inside their parent's interval
        if s.parent is not None:
            p = next(x for x in t.spans if x.id == s.parent)
            assert p.start <= s.start <= s.end <= p.end
    selfs = [t.self_time(s) for s in t.spans]
    assert all(x >= 0 for x in selfs)
    assert sum(selfs) <= root.wall + 1e-9
    assert t.self_time(root) >= 0.02  # its own sleep, outside every child


def test_instrument_wraps_and_restores(spark, tmp_path):
    from etl_sber_spark import pipeline
    from etl_sber_spark.operators import dedup, materialize
    from etl_sber_spark.sinks.warehouse import Warehouse

    originals = (pipeline.load_blacklist, Warehouse.append, materialize.pin, dedup.pin)
    t = Tracer(spark, prefix="t-inst")
    inst = instrument(t)
    try:
        wh = Warehouse(spark, str(tmp_path / "wh"))
        wh.append(spark.range(3).toDF("x"), "t")
        dedup.pin(spark.range(3))
        materialize.pin(spark.range(3))
    finally:
        inst.close()
    assert [s.name for s in t.spans] == ["sinks.append"]
    assert t.spans[0].rollup.output_bytes > 0
    assert inst.pin_calls == 2
    assert (pipeline.load_blacklist, Warehouse.append, materialize.pin, dedup.pin) == originals


def test_timed_loop_stops_after_a_failed_pass(spark):
    """A workload whose ops keep failing ends the loop with the failure
    and its real wall instead of generating passes forever."""
    from perfbench.run import timed_loop
    from perfbench.workloads import PassResult, Workload

    class Failing(Workload):
        def run_pass(self, spark, k):
            time.sleep(0.01)
            return PassResult(0.01, [0.01], 0, failed=1)

    passes = timed_loop(Failing("unused", 1), spark, seconds=60)
    assert len(passes) == 1 and passes[0].failed == 1
