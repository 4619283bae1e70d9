"""Structured job/query observability — parity with the reference's
structured logging (X3, /root/reference/src/func/log.py:15-41 and the
per-slice wall-clock + write-count events at
/root/reference/src/func/mongo.py:140-145,243-263).

One JSON object per line on a stream (stdout by default, like the
reference's console handler; point it at a file or a log shipper in
production). Each record carries the event name, a monotonic
duration where applicable, and arbitrary structured fields — the
Mongo/keyed-table write counts and per-query timings flow through
here so an operator can grep/aggregate them without parsing prose.

Spark-side note: executor-level metrics (shuffle bytes, spill, task
time) already stream to the Spark event log / UI; this module covers
the driver-side semantic events the event log can't know about
(which query, which table, how many rows matched)."""

from __future__ import annotations

import json
import logging
import logging.handlers
import sys
import time
from contextlib import contextmanager
from typing import Any, Iterator, TextIO


def rotating_file_handler(path: str, max_bytes: int = 1_000_000,
                          backup_count: int = 3) -> logging.Handler:
    """Size-rotated file sink — parity with the reference's `logfile`
    handler (config.yaml logging.handlers.logfile: RotatingFileHandler,
    maxBytes 1e6, backupCount 3)."""
    return logging.handlers.RotatingFileHandler(
        path, maxBytes=max_bytes, backupCount=backup_count)


class StructuredLog:
    """Minimal JSON-lines event logger (stdlib-only, picklable-free —
    driver-side use). `handlers` tees every record, as its JSON line,
    into arbitrary stdlib logging.Handlers (rotating file, a
    CloudWatch handler, syslog, …) — the reference's multi-handler config surface
    (config.yaml logging.root.handlers) without a hard dependency."""

    def __init__(self, stream: TextIO | None = None,
                 component: str = "howto_mongo_bulk_update_from_parquet_spark",
                 handlers: list[logging.Handler] | None = None) -> None:
        self.stream = stream if stream is not None else sys.stdout
        self.component = component
        self.handlers = list(handlers or [])

    def close(self) -> None:
        """Flush + close attached handlers (reference close_handler)."""
        for h in self.handlers:
            h.close()

    def event(self, event: str, **fields: Any) -> dict[str, Any]:
        """Emit one structured record; returns it (tests assert shape)."""
        record: dict[str, Any] = {
            "event": event,
            "component": self.component,
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
            **fields,
        }
        line = json.dumps(record, default=str)
        self.stream.write(line)
        self.stream.write("\n")
        self.stream.flush()
        for h in self.handlers:
            h.handle(logging.LogRecord(
                name=self.component, level=logging.INFO, pathname=__file__,
                lineno=0, msg=line, args=(), exc_info=None))
        return record

    @contextmanager
    def timed(self, event: str, **fields: Any) -> Iterator[dict[str, Any]]:
        """Context manager: emits `<event>` with `duration_s` (and any
        fields the body adds to the yielded dict) when the block
        exits; failures emit `<event>_error` and re-raise."""
        extra: dict[str, Any] = {}
        t0 = time.perf_counter()
        try:
            yield extra
        except Exception as exc:  # noqa: BLE001 - log then re-raise
            self.event(f"{event}_error",
                       duration_s=round(time.perf_counter() - t0, 3),
                       error=repr(exc), **fields, **extra)
            raise
        self.event(event, duration_s=round(time.perf_counter() - t0, 3),
                   **fields, **extra)


def plan_metrics(df: Any) -> dict[str, int]:
    """Executed-plan SQLMetrics, summed per `NodeName.metric` key.

    Walks the physical tree through the py4j bridge, following
    `AdaptiveSparkPlan.finalPhysicalPlan()` and query-stage wrappers,
    so it works on AQE plans. Only meaningful AFTER an action has run
    the plan (metrics are zero before). This is the executor-side
    truth the logs otherwise lack: `spillSize` > 0 is the
    partitions-don't-fit red flag, `peakMemory` sizes the hash tables,
    `numOutputRows` per operator localizes explosion joins.
    """
    out: dict[str, int] = {}

    def walk(node: Any) -> None:
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = f"{node.nodeName()}.{kv._1()}"
            out[key] = out.get(key, 0) + kv._2().value()
        for i in range(node.children().size()):
            walk(node.children().apply(i))
        for unwrap in ("finalPhysicalPlan", "plan"):  # AQE root / stages
            try:
                walk(getattr(node, unwrap)())
            except Exception:  # noqa: BLE001 - node kind doesn't wrap
                pass

    walk(df._jdf.queryExecution().executedPlan())
    return out


def spill_bytes(df: Any) -> int:
    """Total executor spill across the executed plan — 0 means every
    partition's aggregation/sort state fit in memory (the sizing
    contract `spark.sql.shuffle.partitions` is tuned for)."""
    return sum(v for k, v in plan_metrics(df).items()
               if k.endswith(".spillSize"))


def run_query_logged(spark: Any, name: str, fn: Any, sf_dir: str,
                     log: StructuredLog | None = None,
                     count_rows: bool = True) -> Any:
    """Run a catalog query with a structured `query_complete` record:
    name, wall-clock, (by default) row count, and executor spill from
    the counting run's plan metrics. `count_rows` is a SEPARATE action
    that recomputes the query's DAG — right for the CLI's one-shot UX,
    wrong for a hot path that goes on to consume the DataFrame: there,
    pass False (rows logged as -1) or cache the frame yourself before
    counting."""
    log = log or StructuredLog()
    with log.timed("query_complete", query=name, sf_dir=sf_dir) as rec:
        df = fn(spark, sf_dir)
        if count_rows:
            # count via an agg we keep a handle to: df.count() builds a
            # NEW Dataset, whose executed plan (and its spill metrics)
            # would be unreachable afterwards
            from pyspark.sql import functions as F
            agg = df.agg(F.count(F.lit(1)).alias("n"))
            rec["rows"] = agg.collect()[0].n
            try:
                rec["spill_bytes"] = spill_bytes(agg)
            except Exception:  # noqa: BLE001 - metrics are best-effort
                pass
        else:
            rec["rows"] = -1
    return df
