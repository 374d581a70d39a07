"""Continuous ES dump as a Structured Streaming source.

The reference's scroll loop is a *batch-incremental pull with a
server-held cursor* (``dump-es-parquet:259-302``) — already
streaming-shaped. This module completes the thought (SURVEY.md §2.2
"streaming" row): an ``esdump`` stream whose micro-batches are
resumable, checkpointable and replayable.

Registered through the same ``esdump`` DataSource:

    spark.readStream.format("esdump")
         .option("index", ...).option(...)  # same options as batch
         .load()

``EsDumpTimeSliceStreamReader`` is the one stream reader (behind the
CLI's ``--follow`` too). It parses the scan options into one
``ScanOptions`` as the batch reader does and reads through the batch
scan's slice iterator (``scan.iter_slice``). Its offset is a
**timestamp watermark** on ``ts_field`` (default ``@timestamp``), and
each micro-batch fans out over N server-side slices read *on
executors* with the batch cursor (``search_after`` + PIT by default) —
the scale path for log-style indices (the reference's domain is
monitoring logs with ``@timestamp``). Each batch is the half-open
range ``(start_ts, end_ts]`` pushed down as a Lucene range clause, so
replay of a committed batch is deterministic on an append-only index.
Extra options: ``ts_field``, ``start_ts`` (initial watermark) and
``chunk_seconds`` (time tiling of a batch into bounded tasks).
"""

from __future__ import annotations

from dataclasses import replace
from typing import Iterator, Sequence, Tuple

from pyspark.sql.datasource import DataSourceStreamReader, InputPartition

from dump_es_parquet_spark.sources.client import with_retry
from dump_es_parquet_spark.sources.datasource import _make_client, coerce_hits
from dump_es_parquet_spark.sources.scan import (
    ScanOptions,
    effective_slices,
    iter_slice,
)


class EsDumpTimeSliceStreamReader(DataSourceStreamReader):
    """Partitioned micro-batch reader: offset = ``{"ts": <watermark>}``
    (the last fully-ingested timestamp, inclusive; ``None`` = before
    everything).

    ``latestOffset`` probes the server for the current max timestamp
    (one size-1 sorted search — O(1) driver work per trigger); each
    batch then reads ``ts ∈ (start, end]`` as a pushed-down Lucene
    range clause, split over ``slices`` server-side slices, one
    executor task per slice (the same sliced scan as the batch
    source, cursor included). Assumes an append-only index whose
    timestamp never decreases — the log-shipping shape the reference dumps
    (``dump-es-parquet:219-302`` always sorts ``@timestamp``); a doc
    back-filled below a committed watermark is missed, exactly as it
    would be by the reference's next incremental dump.
    """

    def __init__(self, schema, options: dict):
        self.schema = schema
        self.options = options
        self.ts_field = options.get("ts_field", "@timestamp")
        self.scan = ScanOptions.from_esdump(options)

    @staticmethod
    def _num(v):
        try:
            f = float(v)
            return int(f) if f == int(f) else f
        except (TypeError, ValueError):
            return None

    def initialOffset(self) -> dict:
        start = self.options.get("start_ts")
        if start is not None and self._num(start) is not None:
            start = self._num(start)
        return {"ts": start}

    def latestOffset(self) -> dict:
        """Current server max timestamp — one size-1 sorted search.
        Deliberately STATELESS and monotone-with-the-server: Spark may
        call this before initialOffset (observed) and the offset it
        returns is logged before any batch runs, so a reader-side
        'rate cap' here could regress behind the checkpoint head and
        silently replay ranges. Bounding per-task work is partitions()'
        job (``chunk_seconds``), not the offset's."""
        resp = with_retry(
            lambda: _make_client(self.options).search(
                self.options["index"],
                q=self.scan.query,
                _source=[self.ts_field],
                sort=f"{self.ts_field}:desc",
                size=1,
                scroll=None,
            ),
            max_retries=self.scan.max_retries,
            backoff_s=self.scan.backoff_s,
        )
        hits = resp["hits"]["hits"]
        if not hits:
            return self.initialOffset()
        sort_vals = hits[0].get("sort")
        return {"ts": sort_vals[0] if sort_vals else None}

    @staticmethod
    def _range_clause(field: str, start, end) -> str:
        # half-open (start, end]: exclusive lower bound `{` so a batch
        # never re-reads the committed watermark row, inclusive upper
        # `]` so the probed max doc lands in this batch
        lo = "*" if start is None else str(start)
        brace = "{" if start is not None else "["
        return f"{field}:{brace}{lo} TO {end}]"

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        """One input partition per (time-chunk × slice). For numeric
        timestamps, ``chunk_seconds`` tiles the batch range (start,
        end] into bounded sub-ranges — so a large backfill becomes
        many bounded tasks instead of N unbounded ones. Per-task work
        is capped WITHOUT touching the offset (no replay hazard; task
        count is the knob, Spark's scheduler does the pacing)."""
        s, e = start.get("ts"), end.get("ts")
        if e is None or s == e:
            return [InputPartition((0, 1, s, e))]
        n = effective_slices(self.scan)
        chunk = self._num(self.options.get("chunk_seconds"))
        s_n, e_n = self._num(s), self._num(e)
        if chunk and s_n is not None and e_n is not None and e_n > s_n:
            bounds: list = []
            lo = s_n
            while lo < e_n:
                hi = min(lo + chunk, e_n)
                bounds.append((lo, hi))
                lo = hi
            return [
                InputPartition((i, n, lo, hi))
                for (lo, hi) in bounds
                for i in range(n)
            ]
        return [InputPartition((i, n, s, e)) for i in range(n)]

    def read(self, partition: InputPartition) -> Iterator[Tuple]:
        i, n, start, end = partition.value
        if end is None or start == end:
            return
        user_q = self.scan.query
        rng = self._range_clause(self.ts_field, start, end)
        opts = replace(self.scan, query=f"({user_q}) AND ({rng})" if user_q else rng)
        client = _make_client(self.options)
        for hits in iter_slice(client, self.options["index"], opts, i, n):
            yield from coerce_hits(hits, self.schema, opts)

    def commit(self, end: dict) -> None:
        pass  # nothing server-side to release: ranges are stateless
