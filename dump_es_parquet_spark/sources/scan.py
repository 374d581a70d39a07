"""Parallel scan: ES index (pattern) → DataFrame.

The reference scans one sequential scroll per index
(``dump-es-parquet:219-302``) — client parallelism 1. Here the scan is
*sliced*: the index is split into N server-side slices (ES sliced
PIT or scroll), one Spark task per slice, each task running its own
page loop on an executor. That moves the reference's only
thread/node boundary (HTTP round-trips) onto the cluster and is what
makes a 100 TB dump feasible — N tasks × page batches instead of one
cursor. ``iter_slice`` is that page loop for every reader: this scan,
the ``esdump`` DataSource and its stream reader.

Pushdown parity (SURVEY.md ops #7-#10): ``query`` (Lucene
query_string), ``fields`` (``_source`` includes, wildcards), ``sort``
(``field:dir`` pairs, default ``@timestamp:asc``) and ``size`` (scroll
page size) are sent verbatim to the server, exactly as the reference
sends them (``:219-238``).

Global order (SURVEY.md §7 hard part 1): a sliced scan is only ordered
*within* each slice. ``order='global'`` re-sorts in Spark before
returning (correct, costs a shuffle — Spark range-partitions then sorts
per partition, which scales); ``order='slice'`` documents per-slice
order and skips the shuffle.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, replace
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dump_es_parquet_spark.coerce import parse_and_coerce
from dump_es_parquet_spark.schema import mapping_response_to_struct
from dump_es_parquet_spark.sources.client import (
    iter_pages_scroll,
    iter_pages_search_after,
    with_retry,
)

DEFAULT_SORT = "@timestamp:asc"  # reference default (dump-es-parquet:380)


@dataclass
class ScanOptions:
    query: str | None = None  # --query (reference :385)
    fields: str | None = None  # --fields, comma-sep, wildcards (:386-387)
    sort: str | None = DEFAULT_SORT  # --sort (:380)
    size: int = 500  # --size, page size (:379)
    scroll: str = "1h"  # --scroll, cursor TTL (:382)
    # DEFAULT is the retry-idempotent cursor: a scroll id is
    # consumed-once server state, so a retried Spark task can skip or
    # duplicate pages; search_after's sort-key cursor re-requests
    # exactly where the last good page ended, composing with
    # spark.task.maxFailures (the scale-safe design, SURVEY §4).
    # 'scroll' remains the reference-parity option (dump-es-parquet:224).
    cursor: str = "search_after"  # 'search_after' (default) | 'scroll'
    # search_after mode only: open a point-in-time per slice for
    # snapshot isolation matching scroll mode (needs ES≥7.10/OS≥2.4)
    pit: bool = True
    slices: int = 8  # engine extension: scan parallelism
    flatten: bool = False  # --flatten (:388-390)
    multivalue: str = "first"  # 'first' (reference) | 'array'
    unhandled: str = "string"  # unhandled-mapping-type policy
    order: str = "slice"  # 'slice' | 'global'
    max_retries: int | None = 3
    backoff_s: float = 1.0

    def source_includes(self) -> list[str] | None:
        return [f.strip() for f in self.fields.split(",")] if self.fields else None

    @classmethod
    def from_esdump(cls, options) -> "ScanOptions":
        """The ``esdump`` DataSource's string options → ScanOptions
        (unsorted when no ``sort`` option is given)."""
        parsed = {
            name: parse(options[name])
            for name, parse in ESDUMP_OPTIONS.items()
            if name in options
        }
        return cls(**{"sort": None, **parsed})

    def esdump_options(self) -> dict[str, str]:
        """The inverse of :meth:`from_esdump`: these options as
        ``esdump`` string options (unset ones omitted)."""
        out = {}
        for name in ESDUMP_OPTIONS:
            v = getattr(self, name)
            if v is not None:
                out[name] = str(v).lower() if isinstance(v, bool) else str(v)
        return out


#: ``esdump`` option name → parser, for the options that are scan
#: options (the rest — ``url``, ``index``, ``ts_field``, ... —
#: address the server or drive the stream reader's offsets)
ESDUMP_OPTIONS = dict(
    query=str, fields=str, sort=str, size=int, scroll=str, cursor=str,
    pit=lambda v: v != "false", slices=int,
    flatten=lambda v: v == "true", multivalue=str,
)


def effective_slices(opts: ScanOptions) -> int:
    """Real ES rejects the ``slice`` parameter on a plain search —
    slicing needs a PIT or scroll context. ``search_after`` without PIT
    (``--no-pit``, pre-7.10 servers) therefore runs single-slice; every
    partition-count decision goes through here so N unsliced scans can
    never each read the whole index."""
    if opts.cursor == "search_after" and not opts.pit:
        return 1
    return max(1, opts.slices)


def iter_slice(
    client,
    index: str,
    opts: ScanOptions,
    slice_id: int = 0,
    n_slices: int = 1,
) -> Iterator[list[dict]]:
    """Hit pages of slice ``slice_id`` of ``n_slices``, from the start.
    The one place that decides how a slice is read: the cursor, the
    pushed query, ``_source`` includes, sort, page size and retries
    all come from ``opts``."""
    kw = dict(
        q=opts.query,
        _source=opts.source_includes(),
        sort=opts.sort,
        size=opts.size,
        slice_spec={"id": slice_id, "max": n_slices} if n_slices > 1 else None,
        max_retries=opts.max_retries,
        backoff_s=opts.backoff_s,
    )
    if opts.cursor == "search_after":
        return iter_pages_search_after(
            client,
            index,
            pit=opts.pit,
            keep_alive=opts.scroll,  # same TTL knob as scroll mode
            **kw,
        )
    return iter_pages_scroll(client, index, scroll=opts.scroll, **kw)


def expand_pattern(client, pattern: str, opts: ScanOptions) -> list[str]:
    """Index pattern → concrete names (reference get_indices,
    ``:341-350``)."""
    settings = with_retry(
        lambda: client.get_settings(pattern),
        max_retries=opts.max_retries,
        backoff_s=opts.backoff_s,
    )
    return sorted(settings.keys())


def fetch_schema(client, index: str, opts: ScanOptions):
    mapping = with_retry(
        lambda: client.get_mapping(index),
        max_retries=opts.max_retries,
        backoff_s=opts.backoff_s,
    )
    return mapping_response_to_struct(
        mapping,
        flatten=opts.flatten,
        unhandled=opts.unhandled,
        multivalue=opts.multivalue,
    )


def read_index_raw(
    spark: SparkSession,
    client_factory: Callable[[], object],
    index: str,
    opts: ScanOptions | None = None,
) -> DataFrame:
    """Schemaless scan → ``DataFrame[value: string]`` of raw ``_source``
    JSON (the reference's ``build_df=False`` raw path, ``:244-253``).

    One Spark partition per server-side slice; per-partition imperative
    IO is the one place RDD usage is warranted (SURVEY.md §7).
    """
    opts = opts or ScanOptions()
    n = effective_slices(opts)

    def read_slices(slice_ids: Iterator[int]) -> Iterator[str]:
        client = client_factory()
        for sid in slice_ids:
            for hits in iter_slice(client, index, opts, sid, n):
                for hit in hits:
                    # only _source is read; ES metadata is discarded
                    # (reference :243, 247, 252)
                    yield json.dumps(hit["_source"])

    rdd = spark.sparkContext.parallelize(range(n), n).mapPartitions(read_slices)
    return spark.createDataFrame(rdd.map(lambda v: (v,)), "value string")


def read_index(
    spark: SparkSession,
    client_factory: Callable[[], object],
    index: str,
    opts: ScanOptions | None = None,
) -> DataFrame:
    """Typed scan: mapping-derived schema + full coercion pipeline
    (reference entry point 1, ``:214-310``)."""
    opts = opts or ScanOptions()
    schema = fetch_schema(client_factory(), index, opts)
    raw = read_index_raw(spark, client_factory, index, opts)
    df = parse_and_coerce(
        raw, schema, flatten=opts.flatten, multivalue=opts.multivalue
    )
    if opts.order == "global" and opts.sort:
        df = df.orderBy(*_sort_columns(opts.sort, df.columns))
    return df


def _sort_columns(sort: str, columns: list[str]):
    cols = []
    for part in sort.split(","):
        fld, _, direction = part.partition(":")
        fld = fld.strip()
        if fld not in columns:
            continue  # e.g. default @timestamp absent from this index
        cols.append(F.col(fld).desc() if direction.strip() == "desc" else F.col(fld).asc())
    return cols or [F.lit(1)]


def read_pattern_unioned(
    spark: SparkSession,
    client_factory: Callable[[], object],
    pattern: str,
    opts: ScanOptions | None = None,
) -> DataFrame:
    """All matching indices as ONE frame with an ``_index`` column
    (SURVEY op #19 union/append across indices): ``unionByName`` with
    missing-column tolerance — dynamically-mapped indices rarely share
    exact schemas (reference README.md:95-97 pairs with DuckDB's
    ``union_by_name=true`` for the same reason)."""
    dfs = read_pattern(spark, client_factory, pattern, opts, add_index_column=True)
    if not dfs:
        raise ValueError(f"no indices match pattern {pattern!r}")
    out = None
    for df in dfs.values():
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


def read_pattern(
    spark: SparkSession,
    client_factory: Callable[[], object],
    pattern: str,
    opts: ScanOptions | None = None,
    *,
    add_index_column: bool = False,
) -> dict[str, DataFrame]:
    """Pattern fan-out: one typed DataFrame per matching index
    (reference ``process``, ``:87-95``). Callers union with
    ``unionByName(allowMissingColumns=True)`` when a single frame is
    wanted; per-index isolation is the pipeline layer's job."""
    opts = opts or ScanOptions()
    out: dict[str, DataFrame] = {}
    for idx in expand_pattern(client_factory(), pattern, opts):
        df = read_index(spark, client_factory, idx, replace(opts))
        if add_index_column:
            df = df.withColumn("_index", F.lit(idx))
        out[idx] = df
    return out
