"""The Tier A pipeline builder: source -> par_map -> map/reduce chain ->
sink + DLQ + commit, Spark-first.

Reference model (/root/reference/src/lib.rs:235-383, the
``processing_strategy!`` macro): a linear chain of stages over
per-partition Kafka streams with a single error stage, batching sinks,
and offset commit after sink ack. Spark translation decided in SURVEY §3:

- the *pipeline* is the DataFrame logical plan (fluent chaining);
- *par_map / map* are narrow transformations (column exprs or Arrow
  mapInPandas) — Spark already runs them per-partition in parallel
  (lib.rs:258-270's task-per-partition is the task scheduler's job);
- *err routing* (lib.rs:526-540): Spark has no side-outputs, so failed
  records carry an ``__err`` column; inside foreachBatch the micro-batch
  is persisted once and filter-split to the main sink vs the DLQ sink —
  per-RECORD granularity, a deliberate improvement over the reference's
  whole-batch poisoning (lib.rs:715-726, noted in SURVEY §7.3);
- *reduce's size+time flush* (lib.rs:786-835, 128 rows / 2 s demo):
  trigger(processingTime) is the time trigger; the 128-row sink batch cap
  maps to ``maxRecordsPerFile`` — each output file is one "sink request";
- *ack + written-rows* (clickhouse.rs:147-184): foreachBatch is
  synchronous; counts are recorded per batch, and a sink raise fails the
  micro-batch so the checkpoint never commits its offsets (at-least-once,
  §1.3);
- *offset commit* (lib.rs:944-994): the checkpoint offset log.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable, Iterator, Optional

import pandas as pd

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

ERR_COL = "__err"


def drain_query(query, timeout: Optional[float] = 600.0) -> None:
    """Await a (typically availableNow) streaming query with a hard
    deadline. Stream errors propagate after stopping the query; a wedged
    stream is stopped AND raises TimeoutError — partial sink output must
    never be mistaken for a completed drain (a truncated result returned
    as success would pass rows-only checks silently)."""
    try:
        if timeout is not None:
            if not query.awaitTermination(timeout):
                query.stop()
                raise TimeoutError(
                    f"streaming query did not drain within {timeout}s; "
                    f"stopped with partial progress"
                )
        else:
            query.awaitTermination()
    except Exception:
        try:
            query.stop()
        except Exception:
            pass
        raise


def _observed_write(df: DataFrame, action: Callable[[DataFrame], None]) -> int:
    """Run one write action and return the row count from the SAME
    computation via the Observation API — never a second pass over the
    batch (the round-1 sinks did count()-then-write, computing every
    micro-batch twice on the no-error path)."""
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    action(observed)
    return int(obs.get["rows"])


# --------------------------------------------------------------------------
# Sinks (A7/A11 analogues)
# --------------------------------------------------------------------------


class ParquetSink:
    """Columnar batch sink; ``max_batch_rows`` caps rows per output file —
    the analogue of the sink's 128-row request batches (main.rs:115).

    ``coalesce`` bounds the number of concurrent writers: with row-capped
    files an open parquet writer still buffers a full row group, so N
    post-shuffle partitions mean N row-group buffers — on a small driver
    heap that is the OOM path. Small micro-batches should write with a
    handful of writers; large ones scale ``coalesce`` to executor count.
    ``parquet.block.size`` is lowered accordingly (128-row files never
    benefit from 128 MiB row-group buffers)."""

    def __init__(self, path: str, max_batch_rows: int = 128, coalesce: int | None = None):
        self.path = path
        self.max_batch_rows = max_batch_rows
        self.coalesce = coalesce

    def write(self, df: DataFrame, batch_id: int) -> int:
        if self.coalesce is not None:
            df = df.coalesce(self.coalesce)
        return _observed_write(
            df,
            lambda d: d.write.mode("append")
            .option("maxRecordsPerFile", self.max_batch_rows)
            .option("parquet.block.size", str(4 * 1024 * 1024))
            .parquet(self.path),
        )


class JsonLinesSink:
    """JSONEachRow sink — the reference's wire format
    (clickhouse.rs:86-88): every row serialized as one JSON line."""

    def __init__(self, path: str, max_batch_rows: int = 128, coalesce: int | None = None):
        self.path = path
        self.max_batch_rows = max_batch_rows
        self.coalesce = coalesce

    def write(self, df: DataFrame, batch_id: int) -> int:
        if self.coalesce is not None:
            df = df.coalesce(self.coalesce)
        lines = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
        return _observed_write(
            lines,
            lambda d: d.write.mode("append")
            .option("maxRecordsPerFile", self.max_batch_rows)
            .text(self.path),
        )


def kafka_writer_options(bootstrap_servers: str, topic: str) -> dict[str, str]:
    """The exact option set a Kafka write is constructed with — factored
    out (like sources.kafka_reader_options) so the producer contract is
    unit-testable without a broker or the connector on the classpath."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
    }


def to_kafka_records(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Serialize a batch to the Kafka producer schema: ``value`` =
    JSONEachRow of the row (the same wire format as JsonLinesSink /
    the reference sink, clickhouse.rs:86-88), optional ``key`` = the
    named column cast to string (Kafka's default partitioner then
    routes by key hash — the per-key ordering contract the reference's
    per-partition actors rely on). Pure transform, broker-independent —
    this is the half of the sink the unit tests pin byte-for-byte."""
    payload = [c for c in df.columns if c != key_col]
    cols = [F.to_json(F.struct(*payload)).alias("value")]
    if key_col is not None:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    return df.select(*cols)


class KafkaSink:
    """Kafka producer sink (the write-side twin of sources.kafka_source):
    each micro-batch serializes via :func:`to_kafka_records` and writes
    with the batch Kafka writer. Effectively-once composition is the
    checkpoint contract (A9): the write is at-least-once, downstream
    consumers dedup on (topic, key, payload) or an id column — same
    semantics the reference's producer + ClickHouse replacing-merge
    sink family provides. Requires the spark-sql-kafka connector on the
    classpath; the serialization + option contract is covered without a
    broker, the live round-trip by the env-gated integration test."""

    def __init__(
        self, bootstrap_servers: str, topic: str, key_col: str | None = None
    ):
        self.bootstrap_servers = bootstrap_servers
        self.topic = topic
        self.key_col = key_col

    def write(self, df: DataFrame, batch_id: int) -> int:
        recs = to_kafka_records(df, self.key_col)

        def action(d: DataFrame) -> None:
            w = d.write.format("kafka")
            for k, v in kafka_writer_options(
                self.bootstrap_servers, self.topic
            ).items():
                w = w.option(k, v)
            w.save()

        return _observed_write(recs, action)


class ConsoleSink:
    """The OsStreamWriter analogue (os_stream.rs:12-70) — DLQ default.

    ``min_interval`` is the reference's print-rate limit (1 record/s demo,
    os_stream.rs:50, main.rs:106-107): a write arriving sooner than
    ``min_interval`` seconds after the previous one sleeps the difference,
    which back-pressures the micro-batch exactly like the reference's
    ``sleep(print_duration)`` back-pressures its err channel.

    Only ``num_rows`` rows ever reach the driver: the batch is persisted
    once, the display takes a limit() slice, and the returned count runs
    over the same materialized partitions — one computation, bounded
    driver memory even for a bulk error burst."""

    def __init__(self, num_rows: int = 20, min_interval: float = 0.0):
        self.num_rows = num_rows
        self.min_interval = min_interval
        self._last_write = 0.0

    def write(self, df: DataFrame, batch_id: int) -> int:
        if self.min_interval > 0:
            wait = self._last_write + self.min_interval - time.monotonic()
            if wait > 0:
                time.sleep(wait)
        self._last_write = time.monotonic()
        df.persist()
        try:
            n = df.count()
            pdf = df.limit(self.num_rows).toPandas()
            print(pdf.to_string(index=False))
        finally:
            df.unpersist()
        return n


class MemorySink:
    """Test sink: accumulates rows on the driver (unit tests only)."""

    def __init__(self):
        self.batches: list[tuple[int, list]] = []

    def write(self, df: DataFrame, batch_id: int) -> int:
        rows = df.collect()
        self.batches.append((batch_id, rows))
        return len(rows)

    @property
    def rows(self) -> list:
        return [r for _, batch in self.batches for r in batch]


# --------------------------------------------------------------------------
# Stages
# --------------------------------------------------------------------------


@dataclass
class _Stage:
    kind: str  # "map_expr" | "par_map" | "filter"
    apply: Callable[[DataFrame], DataFrame]


def _per_record(pdf: pd.DataFrame, outs: list, out_names: list[str]) -> pd.DataFrame:
    """The per-record kernel of ``par_map`` and ``par_map_async``: assign
    each record's outcome (``fn``'s return value, or the exception it
    raised) to the output columns and ERR_COL. The original record
    columns are preserved for DLQ provenance (lib.rs:526-540). An
    exception, or a return that is not a dict (e.g. None on a lookup
    miss), is that RECORD's error, never a task failure."""
    cols = {name: [] for name in out_names}
    errs = []
    for out in outs:
        err = out if isinstance(out, BaseException) else None
        if err is None:
            try:
                vals = [out.get(name) for name in out_names]
            except Exception as e:
                err = e
        if err is not None:
            vals = [None] * len(out_names)
        for name, v in zip(out_names, vals):
            cols[name].append(v)
        errs.append(None if err is None else f"{type(err).__name__}: {err}")
    for name in out_names:
        pdf[name] = cols[name]
    pdf[ERR_COL] = pd.Series(errs, dtype="object")
    return pdf


def _par_map_stage(outcomes: Callable[[list], list], out_fields: T.StructType):
    """One mapInPandas stage: per Arrow batch, ``outcomes`` maps the
    batch's records to their outcomes in order, and ``_per_record``
    assigns them. The kernel is module-level, so the worker imports the
    engine (and with it ``_zipcache``) to run the stage."""
    out_names = [f.name for f in out_fields.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _per_record(pdf, outcomes(pdf.to_dict("records")), out_names)

    def apply(df: DataFrame) -> DataFrame:
        out_schema = T.StructType(
            list(df.schema.fields)
            + list(out_fields.fields)
            + [T.StructField(ERR_COL, T.StringType())]
        )
        return df.mapInPandas(run, schema=out_schema)

    return apply


def _sync_outcomes(fn: Callable[[dict], dict]):
    """``fn`` runs row-at-a-time Python while data moves in Arrow batches
    — inherent to the arbitrary-user-function contract, same as the
    reference's per-message par_map (lib.rs:490-547). For parse-shaped
    stages prefer the JVM fast path: ``Pipeline.map_expr`` with
    ``from_json``/built-ins."""

    def outcomes(records: list) -> list:
        outs = []
        for rec in records:
            try:
                outs.append(fn(rec))
            except Exception as e:  # per-record DLQ capture
                outs.append(e)
        return outs

    return outcomes


def _async_outcomes(async_fn, concurrency: int):
    """Run every record's coroutine under an asyncio semaphore of
    ``concurrency`` (the FuturesOrdered window, lib.rs:615-616, 660-671);
    ``gather`` keeps submission order (lib.rs:584) and returns exceptions
    as per-record outcomes (lib.rs:649-656)."""

    def outcomes(records: list) -> list:
        import asyncio

        async def bounded(sem, rec):
            async with sem:
                return await async_fn(rec)

        async def gather():
            sem = asyncio.Semaphore(concurrency)
            return await asyncio.gather(
                *[bounded(sem, rec) for rec in records], return_exceptions=True
            )

        return asyncio.run(gather())

    return outcomes


# --------------------------------------------------------------------------
# Pipeline
# --------------------------------------------------------------------------


class Pipeline:
    """Fluent pipeline:  Pipeline(df).par_map(fn, schema).map_expr(...)
    .sink(ParquetSink(...), dlq=ConsoleSink()).run_batch() / .run_stream().

    The same pipeline object runs over a bounded DataFrame (oracle
    checks) or an unbounded one (Structured Streaming) — SURVEY §1.2's
    batch/stream equivalence.
    """

    def __init__(self, df: DataFrame):
        self._df = df
        self._stages: list[_Stage] = []
        self.metrics: dict[int, dict] = {}

    # -- stage builders ----------------------------------------------------

    def map_expr(self, **cols: Column) -> "Pipeline":
        """Declarative 1->1 stage (JVM, codegen) — the fast path for the
        reference's map/par_map when the transform is expressible."""
        self._stages.append(
            _Stage("map_expr", lambda df, c=dict(cols): df.withColumns(c))
        )
        return self

    def par_map(self, fn: Callable[[dict], dict], out_fields: T.StructType) -> "Pipeline":
        """Arbitrary per-record Python transform with per-record error
        capture (the ``parse`` stage, main.rs:22-34)."""
        stage = _par_map_stage(_sync_outcomes(fn), out_fields)
        self._stages.append(_Stage("par_map", stage))
        return self

    def par_map_async(
        self,
        async_fn: Callable[[dict], "dict"],
        out_fields: T.StructType,
        concurrency: int = 16,
    ) -> "Pipeline":
        """Bounded-concurrency async transform — the reference's ``map``
        runner (lib.rs:605-675): a ``FuturesOrdered`` window of
        ``config.concurrency`` in-flight futures, submission order
        preserved, per-record errors to DLQ. Spark-side: each Arrow batch
        drives an asyncio loop with a semaphore of ``concurrency``; results
        are gathered in submission order. Use for I/O-bound per-record work
        (HTTP enrichment, external lookups) where overlapping requests
        matters; CPU-bound transforms belong in ``par_map``/``map_expr``.
        """
        stage = _par_map_stage(_async_outcomes(async_fn, concurrency), out_fields)
        self._stages.append(_Stage("par_map_async", stage))
        return self

    def filter(self, cond: Column) -> "Pipeline":
        self._stages.append(_Stage("filter", lambda df, c=cond: df.filter(c)))
        return self

    # -- execution ---------------------------------------------------------

    def _transformed(self) -> DataFrame:
        df = self._df
        for st in self._stages:
            df = st.apply(df)
        return df

    def _split_write(self, sink, dlq, poison_mode: str = "record"):
        if poison_mode not in ("record", "batch"):
            raise ValueError(f"poison_mode must be 'record' or 'batch', got {poison_mode!r}")

        def write_batch(batch_df: DataFrame, batch_id: int):
            has_err = ERR_COL in batch_df.columns
            if has_err:
                batch_df.persist()
                ok = batch_df.filter(F.col(ERR_COL).isNull())
                bad = batch_df.filter(F.col(ERR_COL).isNotNull())
                if poison_mode == "batch" and not bad.isEmpty():
                    # Whole-batch poisoning (opt-in): one failed record
                    # sends the ENTIRE in-flight batch to the DLQ — the
                    # reference reducer's handle_reducer_failure semantics
                    # (lib.rs:715-726). Default stays per-record (SURVEY
                    # §7.3's documented improvement).
                    n_ok = 0
                    n_bad = (
                        dlq.write(batch_df, batch_id)
                        if dlq is not None
                        else batch_df.count()
                    )
                else:
                    n_ok = sink.write(ok.drop(ERR_COL), batch_id)
                    n_bad = dlq.write(bad, batch_id) if dlq is not None else bad.count()
                batch_df.unpersist()
            else:
                n_ok = sink.write(batch_df, batch_id)
                n_bad = 0
            # written-rows bookkeeping — the ack handler's
            # x-clickhouse-summary check (clickhouse.rs:165-175).
            self.metrics[batch_id] = {"written_rows": n_ok, "dlq_rows": n_bad}

        return write_batch

    def run_batch(self, sink, dlq=None, poison_mode: str = "record") -> dict:
        """Bounded execution: one logical 'micro-batch' (batch id 0)."""
        self._split_write(sink, dlq, poison_mode)(self._transformed(), 0)
        return self.metrics[0]

    def run_stream(
        self,
        sink,
        dlq=None,
        checkpoint_dir: Optional[str] = None,
        trigger: Optional[dict] = None,
        await_termination: bool = True,
        await_timeout: Optional[float] = 600.0,
        poison_mode: str = "record",
    ):
        """Unbounded execution: foreachBatch(split-write) + checkpoint.

        ``trigger`` defaults to availableNow (drain-and-stop — the
        ShutdownCondition::Drain analogue, lib.rs:685-689); pass
        ``{"processingTime": "2 seconds"}`` for the reference demo's
        cadence (main.rs:116). ``await_timeout`` bounds the drain: a
        wedged stream is stopped and raises TimeoutError (never silent
        partial output); stream errors propagate either way.
        """
        out = self._transformed()
        writer = out.writeStream.foreachBatch(
            self._split_write(sink, dlq, poison_mode)
        )
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        writer = writer.trigger(**(trigger or {"availableNow": True}))
        query = writer.start()
        if await_termination:
            drain_query(query, await_timeout)
        return query
