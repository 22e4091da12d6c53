"""Tier A pipeline semantics tests — the reference's mock-driven fault
injection pattern (/root/reference/src/lib.rs:1333-1409, 1887-1955):
poison specific records, assert the DLQ receives exactly those while the
main path continues; verify batch caps, checkpoint-commit idempotence,
and the delivery audits as engine self-checks.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import SF_SMOKE


def _events(spark):
    from kafka_map_reduce_spark.sources import load_table

    return load_table(spark, SF_SMOKE, "events")


def test_par_map_dlq_split(spark):
    """Poisoned records -> DLQ with original columns; ok records -> sink."""
    from kafka_map_reduce_spark.streaming import MemorySink, Pipeline

    def transform(rec):
        if rec["event_id"] % 100 == 7:  # poison every 100th-ish record
            raise ValueError("boom")
        return {"doubled": rec["value"] * 2}

    sink, dlq = MemorySink(), MemorySink()
    pipe = Pipeline(_events(spark)).par_map(
        transform, T.StructType([T.StructField("doubled", T.DoubleType())])
    )
    metrics = pipe.run_batch(sink, dlq=dlq)

    poisoned = {r.event_id for r in dlq.rows}
    assert poisoned == {i for i in range(1000) if i % 100 == 7}
    assert metrics["written_rows"] == 1000 - len(poisoned)
    assert metrics["dlq_rows"] == len(poisoned)
    # DLQ carries the ORIGINAL record (provenance contract, lib.rs:526-540)
    assert {"event_id", "user_id", "event_type", "__err"} <= set(
        dlq.rows[0].asDict().keys()
    )
    ok = {r.event_id for r in sink.rows}
    assert ok.isdisjoint(poisoned) and len(ok) == 1000 - len(poisoned)
    # OK rows leave the split without the error column
    assert all("__err" not in r.asDict() for r in sink.rows)


def test_sink_batch_cap(spark, tmp_path):
    """128-row sink batches (main.rs:115): every output file <= cap."""
    from kafka_map_reduce_spark.streaming import ParquetSink, Pipeline

    sink = ParquetSink(str(tmp_path / "out"), max_batch_rows=128)
    Pipeline(_events(spark).coalesce(1)).run_batch(sink)
    sizes = [
        len(pd.read_parquet(f)) for f in glob.glob(os.path.join(sink.path, "*.parquet"))
    ]
    assert sum(sizes) == 1000
    assert max(sizes) <= 128


def test_checkpoint_commit_idempotent(spark, tmp_path):
    """Offsets commit after sink success: re-running the drained stream on
    the same checkpoint re-processes nothing (HighwaterMark semantics,
    lib.rs:944-994)."""
    from kafka_map_reduce_spark.streaming import ParquetSink, Pipeline, file_replay_stream

    wd = str(tmp_path)
    ck = os.path.join(wd, "ckpt")
    out = ParquetSink(os.path.join(wd, "out"))

    def run_once():
        stream = file_replay_stream(spark, SF_SMOKE, "events", wd)
        return Pipeline(stream).run_stream(out, checkpoint_dir=ck)

    run_once()
    n1 = spark.read.parquet(out.path).count()
    run_once()  # same checkpoint: nothing new to consume
    n2 = spark.read.parquet(out.path).count()
    assert n1 == 1000
    assert n2 == n1


def test_delivery_audit_self_check(spark):
    """The README audit queries as engine self-checks: after exactly-once
    batch processing, no loss (delta explains only pre-existing gaps) and
    no duplicates."""
    from kafka_map_reduce_spark.queries.audits import double_write_audit
    from kafka_map_reduce_spark.streaming import MemorySink, Pipeline

    sink = MemorySink()
    Pipeline(_events(spark)).run_batch(sink)
    sunk = spark.createDataFrame([r.asDict() for r in sink.rows])
    dupes = double_write_audit(sunk, "user_id", "event_id")
    assert dupes.count() == 0  # no double-writes through the pipeline


def test_map_expr_then_filter(spark):
    from kafka_map_reduce_spark.streaming import MemorySink, Pipeline

    sink = MemorySink()
    (
        Pipeline(_events(spark))
        .map_expr(vv=F.col("value") * 10)
        .filter(F.col("vv") > 5000)
        .run_batch(sink)
    )
    assert all(r.vv > 5000 for r in sink.rows)
    assert len(sink.rows) == _events(spark).filter(F.col("value") > 500).count()


def test_stateful_reduce_matches_batch(spark, tmp_path):
    """Streaming stateful reducer == batch groupBy (Reducer lifecycle)."""
    from kafka_map_reduce_spark.registry import all_queries

    res = all_queries()["q_stream_stateful"].fn(spark, SF_SMOKE).toPandas()
    batch = (
        _events(spark)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "cents_sum"
            ),
        )
        .toPandas()
    )
    a = res.sort_values("user_id").reset_index(drop=True)
    b = batch.sort_values("user_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[["user_id", "n", "cents_sum"]].astype("int64"),
        b[["user_id", "n", "cents_sum"]].astype("int64"),
    )


# --------------------------------------------------------------------------
# Reducer lifecycle semantics (ReduceConfig parity: lib.rs:677-726)
# --------------------------------------------------------------------------


class _FakeGroupState:
    """Deterministic stand-in for pyspark GroupState: records the
    update/remove/timeout calls the reducer runner makes."""

    def __init__(self, value=None, has_timed_out=False):
        self._v = tuple(value) if value is not None else None
        self.hasTimedOut = has_timed_out
        self.timeout_set_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        if self._v is None:
            raise ValueError("state does not exist")
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_set_ms = ms


def _runner(**kw):
    from kafka_map_reduce_spark.streaming.state import make_reducer_runner

    return make_reducer_runner(
        init=lambda: (0,),
        reduce_fn=lambda acc, pdf: (acc[0] + int(pdf["x"].sum()),),
        flush_fn=lambda key, acc: {"k": key[0], "total": acc[0]},
        **kw,
    )


def test_reducer_runner_accumulates_and_flushes():
    run = _runner()
    st = _FakeGroupState()
    out = list(run(("a",), [pd.DataFrame({"x": [1, 2, 3]})], st))
    assert out[0].iloc[0]["total"] == 6
    assert st.get == (6, 3)  # accumulator + rows-seen bookkeeping
    assert st.timeout_set_ms is None  # NoTimeout: no eviction clock
    # second batch continues from stored state
    out = list(run(("a",), [pd.DataFrame({"x": [10]})], st))
    assert out[0].iloc[0]["total"] == 16


def test_reducer_runner_timeout_eviction():
    """Idle-key eviction (ADVICE round 1): the timeout clock is armed on
    every invocation and a timed-out key removes its state WITHOUT
    re-emitting — the accumulator was already flushed on its last data
    batch, so an eviction emit would be an exact duplicate row."""
    run = _runner(timeout="ProcessingTimeTimeout", timeout_duration_ms=1234)
    st = _FakeGroupState()
    list(run(("a",), [pd.DataFrame({"x": [5]})], st))
    assert st.timeout_set_ms == 1234  # clock armed
    # simulate Spark invoking the timed-out key (no new data)
    st2 = _FakeGroupState(value=(5, 1), has_timed_out=True)
    out = list(run(("a",), [], st2))
    assert out == []  # no duplicate emission
    assert not st2.exists  # state removed


def test_reducer_runner_capacity_flush_reset():
    """is_full -> WhenFull::Flush (lib.rs:697-701, 832-835): a key that
    absorbed >= capacity rows emits and RESETS its accumulator."""
    run = _runner(capacity=3)
    st = _FakeGroupState()
    list(run(("a",), [pd.DataFrame({"x": [1, 1]})], st))
    assert st.get == (2, 2)  # below capacity: state kept
    out = list(run(("a",), [pd.DataFrame({"x": [1]})], st))
    assert out[0].iloc[0]["total"] == 3  # flush emitted at capacity
    assert not st.exists  # ...and the accumulator reset
    out = list(run(("a",), [pd.DataFrame({"x": [7]})], st))
    assert out[0].iloc[0]["total"] == 7  # fresh cycle from init()


def test_batch_poison_mode(spark, tmp_path):
    """Opt-in whole-batch poisoning (lib.rs:715-726): one failed record
    sends the entire micro-batch to the DLQ; clean batches still flow —
    mirrors test_fail_on_reduce_* (lib.rs:1333-1409)."""
    import shutil

    from kafka_map_reduce_spark.streaming import MemorySink, Pipeline

    ev = _events(spark)
    clean = ev.filter("event_id < 500 AND event_type <> 'error'")
    dirty = ev.filter("event_id >= 500")  # contains event_type='error' rows
    n_clean, n_dirty = clean.count(), dirty.count()
    assert dirty.filter("event_type = 'error'").count() > 0

    # two-file replay -> two micro-batches (order doesn't matter)
    stage_a, stage_b = str(tmp_path / "a"), str(tmp_path / "b")
    clean.coalesce(1).write.parquet(stage_a)
    dirty.coalesce(1).write.parquet(stage_b)
    src = tmp_path / "src"
    src.mkdir()
    for i, stage in enumerate((stage_a, stage_b)):
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.copy(os.path.join(stage, part), src / f"batch{i}.parquet")
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )

    def parse(rec):
        if rec["event_type"] == "error":
            raise ValueError("poison")
        return {"ok": 1}

    sink, dlq = MemorySink(), MemorySink()
    pipe = Pipeline(stream).par_map(
        parse, T.StructType([T.StructField("ok", T.IntegerType())])
    )
    pipe.run_stream(
        sink,
        dlq=dlq,
        checkpoint_dir=str(tmp_path / "ckpt"),
        poison_mode="batch",
    )
    # whole dirty batch (clean rows included) in DLQ; whole clean batch sunk
    assert len(sink.rows) == n_clean
    assert len(dlq.rows) == n_dirty
    assert {r.event_id for r in sink.rows} == {
        r.event_id for r in clean.select("event_id").collect()
    }


def test_kafka_reader_options_contract():
    """A1 source contract without a broker (lib.rs:49-85): subscription,
    bring-up offsets, and the per-trigger admission cap."""
    from kafka_map_reduce_spark.streaming.sources import kafka_reader_options

    opts = kafka_reader_options("broker1:9092,broker2:9092", "ingest", "latest", 5000)
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "ingest",
        "startingOffsets": "latest",
        "maxOffsetsPerTrigger": "5000",
    }
    assert "maxOffsetsPerTrigger" not in kafka_reader_options(
        "b:9092", "t", max_offsets_per_trigger=None
    )


def test_console_sink_rate_limit(spark):
    """DLQ print-rate limit (os_stream.rs:50): consecutive writes are
    spaced >= min_interval apart (back-pressuring the err path)."""
    import time

    from kafka_map_reduce_spark.streaming import ConsoleSink

    sink = ConsoleSink(num_rows=2, min_interval=0.3)
    df = spark.range(3)
    t0 = time.monotonic()
    assert sink.write(df, 0) == 3
    assert sink.write(df, 1) == 3
    assert time.monotonic() - t0 >= 0.3


def test_par_map_async_bounded_concurrency(spark):
    """The reference's ``map`` runner (lib.rs:605-675): async transforms
    overlap up to the concurrency window, order-stable, per-record errors
    to DLQ. 200 records x 20 ms awaits must finish far under serial time
    (4 s) when 50 overlap."""
    import time

    from kafka_map_reduce_spark.streaming import MemorySink, Pipeline

    async def enrich(rec):
        import asyncio

        await asyncio.sleep(0.02)  # simulated I/O wait
        if rec["id"] % 97 == 13:
            raise ValueError("lookup failed")
        return {"doubled": rec["id"] * 2}

    df = spark.range(200).coalesce(2)
    sink, dlq = MemorySink(), MemorySink()
    t0 = time.monotonic()
    (
        Pipeline(df)
        .par_map_async(enrich, T.StructType([T.StructField("doubled", T.LongType())]),
                       concurrency=50)
        .run_batch(sink, dlq=dlq)
    )
    elapsed = time.monotonic() - t0
    bad = {i for i in range(200) if i % 97 == 13}
    assert {r.id for r in dlq.rows} == bad
    assert {r.id: r.doubled for r in sink.rows} == {
        i: i * 2 for i in range(200) if i not in bad
    }
    assert elapsed < 3.0, f"async overlap missing: {elapsed:.1f}s"


def test_failed_batch_redelivers_after_restart(spark, tmp_path):
    """At-least-once (§1.3): a sink raise fails the micro-batch BEFORE its
    offsets commit, so a restart on the same checkpoint redelivers exactly
    the failed batch — no loss, and no duplicates of acked batches
    (crash-between-write-and-commit is the one case the reference's
    delivery audit tolerates duplicates for; a transactional parquet sink
    plus checkpoint gives the clean version)."""
    from kafka_map_reduce_spark.streaming import ParquetSink, Pipeline

    ev = _events(spark)
    first = ev.filter("event_id < 500")
    second = ev.filter("event_id >= 500")
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    for i, part in enumerate((first, second)):
        stage = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.parquet(stage)
        pq = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.copy(os.path.join(stage, pq), src / f"b{i}.parquet")
    schema = spark.read.parquet(str(src)).schema

    class PoisonOnceSink(ParquetSink):
        """Raises on its second micro-batch, once (simulated sink outage)."""

        def __init__(self, path):
            super().__init__(path)
            self.calls = 0
            self.poisoned = False

        def write(self, df, batch_id):
            self.calls += 1
            if self.calls == 2 and not self.poisoned:
                self.poisoned = True
                raise IOError("sink outage")
            return super().write(df, batch_id)

    sink = PoisonOnceSink(str(tmp_path / "out"))
    ck = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        Pipeline(stream).run_stream(sink, checkpoint_dir=ck)

    with pytest.raises(Exception):
        run()  # batch 2 fails -> its offsets never commit
    n_after_crash = spark.read.parquet(sink.path).count()
    assert n_after_crash == first.count()  # batch 1 acked, batch 2 absent

    run()  # restart, same checkpoint: ONLY the failed batch redelivers
    got = spark.read.parquet(sink.path)
    assert got.count() == 1000
    assert got.select("event_id").distinct().count() == 1000  # no dupes


def test_par_map_async_non_dict_return_goes_to_dlq(spark):
    """A fn returning None (lookup miss) is that RECORD's error — per-record
    DLQ routing, never a task crash (parity with sync par_map)."""
    from kafka_map_reduce_spark.streaming import MemorySink, Pipeline

    async def lookup(rec):
        return None if rec["id"] % 3 == 0 else {"v": rec["id"]}

    sink, dlq = MemorySink(), MemorySink()
    (
        Pipeline(spark.range(9).coalesce(1))
        .par_map_async(lookup, T.StructType([T.StructField("v", T.LongType())]))
        .run_batch(sink, dlq=dlq)
    )
    assert {r.id for r in dlq.rows} == {0, 3, 6}
    assert {r.id for r in sink.rows} == {1, 2, 4, 5, 7, 8}


def test_kafka_writer_options_and_record_serialization(spark):
    """A7-analogue producer contract without a broker: the writer option
    set, and to_kafka_records' wire format — value must be byte-identical
    to the JsonLinesSink JSONEachRow serialization of the payload
    columns, with the routing key cast to string and EXCLUDED from the
    payload."""
    from kafka_map_reduce_spark.streaming.pipeline import (
        kafka_writer_options,
        to_kafka_records,
    )

    assert kafka_writer_options("b1:9092,b2:9092", "out") == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "topic": "out",
    }
    df = spark.createDataFrame(
        [(1, "alpha", 2.5), (2, "beta", -1.0)],
        "user_id long, name string, score double",
    )
    recs = to_kafka_records(df, key_col="user_id").collect()
    assert [r.key for r in recs] == ["1", "2"]
    assert recs[0].value == '{"name":"alpha","score":2.5}'
    assert recs[1].value == '{"name":"beta","score":-1.0}'
    # keyless form: whole row is the payload, no key column
    keyless = to_kafka_records(df)
    assert keyless.columns == ["value"]
    assert (
        keyless.collect()[0].value
        == '{"user_id":1,"name":"alpha","score":2.5}'
    )


def test_par_map_tasks_read_each_zip_at_most_once(spark):
    """pyspark invalidates the import caches at the start of every Python
    task. In a reused worker running a par_map stage, that must cost at
    most one directory read per zip archive per task (CPython 3.11 reads
    pyspark.zip's directory once per cached importer, ~16 per task)."""
    from kafka_map_reduce_spark.streaming import MemorySink, Pipeline

    def probe(rec):
        # The most directory reads of one archive in this task so far,
        # counted by a process-wide wrapper around
        # zipimport._read_directory; -1 in the task that installed it.
        import collections
        import os
        import zipimport

        from pyspark import TaskContext

        task = TaskContext.get().taskAttemptId()
        read = zipimport._read_directory
        if not hasattr(read, "by_task"):

            def counting(archive, _read=read):
                ctx = TaskContext.get()
                tid = ctx.taskAttemptId() if ctx is not None else None
                counting.by_task.setdefault(tid, collections.Counter())[archive] += 1
                return _read(archive)

            counting.by_task, counting.first_task = {}, task
            zipimport._read_directory = read = counting
        reads = read.by_task.get(task, collections.Counter())
        most = -1 if read.first_task == task else max(reads.values(), default=0)
        return {"pid": os.getpid(), "task": task, "reads": most}

    out = T.StructType([
        T.StructField("pid", T.LongType()),
        T.StructField("task", T.LongType()),
        T.StructField("reads", T.LongType()),
    ])
    sink = MemorySink()
    for _ in range(4):
        df = spark.range(0, 64, numPartitions=4)
        Pipeline(df).par_map(probe, out).run_batch(sink)
    per_task: dict = {}
    for r in sink.rows:
        per_task[r.pid, r.task] = max(r.reads, per_task.get((r.pid, r.task), -1))
    measured = [n for n in per_task.values() if n >= 0]
    assert measured, "no task ran in a reused worker"
    assert max(measured) <= 1, per_task


def test_zipcache_install_contract(tmp_path):
    """After ``_zipcache.install()``: invalidation reads nothing, and the
    next import after one sees a rewritten archive."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import importlib, sys, zipfile, zipimport
        from kafka_map_reduce_spark import _zipcache

        path = sys.argv[1]

        def build(*mods):
            with zipfile.ZipFile(path, "w") as z:
                z.writestr("zpkg/__init__.py", "")
                for m in mods:
                    z.writestr(f"zpkg/{m}.py", f"NAME = {m!r}")

        build("a")
        sys.path.insert(0, path)
        import zpkg.a
        _zipcache.install()
        _zipcache.install()
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == [], reads
        build("a", "b")
        importlib.invalidate_caches()
        import zpkg.b
        assert zpkg.b.NAME == "b"
        assert path in reads, reads
        """
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "zpkg.zip")],
        cwd=repo, check=True, timeout=120,
    )


def test_driver_zipimport_is_untouched():
    """The engine patches zipimport only inside a worker task: in the
    driver (this process imported the package) it is the stdlib's."""
    import zipimport

    import kafka_map_reduce_spark  # noqa: F401

    fn = zipimport.zipimporter.invalidate_caches
    assert (fn.__module__, fn.__qualname__) == ("zipimport", "zipimporter.invalidate_caches")
    assert not isinstance(vars(zipimport.zipimporter).get("_files"), property)
