"""Property-based tests (SURVEY.md §5 item 4, hypothesis):

1. documents conforming to a random mapping ROUND-TRIP: dump →
   parquet → read back equals the coerced frame.
2. NON-conforming documents never crash the DF path — worst case is
   dropped values/fields (reference :115-119 semantics).
3. the pure-Python and expression coercion paths agree on arbitrary
   JSON-ish documents.
"""

from __future__ import annotations

import datetime as dtm
import json
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dump_es_parquet_spark.coerce import parse_and_coerce
from dump_es_parquet_spark.coerce_py import coerce_doc
from dump_es_parquet_spark.schema import properties_to_struct

FIELD_TYPES = ["long", "integer", "double", "keyword", "boolean", "date"]

mapping_st = st.dictionaries(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6),
    st.sampled_from(FIELD_TYPES).map(lambda t: {"type": t}),
    min_size=1,
    max_size=5,
)

json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**40), max_value=2**40),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=12),
)

doc_st = st.dictionaries(
    st.text(alphabet="abcdefghijkl", min_size=1, max_size=6),
    st.one_of(json_scalars, st.lists(json_scalars, max_size=3)),
    max_size=6,
)


def normalize(row):
    out = []
    for v in row:
        if isinstance(v, float):
            if math.isnan(v):
                out.append("nan")
                continue
            v = round(v, 6)
        elif isinstance(v, str):
            # numbers arriving in string-typed fields: the expression
            # path renders them Java-style ("1.0E-16"), the Python path
            # Python-style ("1e-16") — same value, known cosmetic
            # divergence (documented in coerce_py). Compare numerically.
            try:
                v = ("~float", round(float(v), 6))
            except ValueError:
                pass
        out.append(v)
    return tuple(out)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(mapping=mapping_st, docs=st.lists(doc_st, min_size=1, max_size=6))
def test_nonconforming_docs_never_crash_and_paths_agree(spark, mapping, docs):
    schema = properties_to_struct(mapping)
    df = spark.createDataFrame(
        [(json.dumps(d),) for d in docs], "value string"
    )
    rows = parse_and_coerce(df, schema).collect()  # must not raise
    assert len(rows) == len(docs)
    for r, d in zip(rows, docs):
        expr_t = normalize(tuple(r))
        py_t = normalize(coerce_doc(d, schema))
        assert expr_t == py_t, f"mapping={mapping} doc={d}"


# --- dedicated timestamp-chain property (VERDICT r05 #6) -------------------
# Wire values a date-typed ES field can carry: bare ints spanning digit
# lengths 1-20 (both signs), ISO strings including year-0 / year-10000
# edges, fractional seconds, timezone offsets, and garbage.

_digit_ints = st.integers(min_value=1, max_value=20).flatmap(
    lambda n: st.integers(min_value=10 ** (n - 1) if n > 1 else 0, max_value=10**n - 1)
)
date_wire_st = st.one_of(
    _digit_ints,
    _digit_ints.map(lambda i: -i),
    _digit_ints.map(str),
    _digit_ints.map(lambda i: str(-i)),
    st.sampled_from(
        [
            "0000-01-01",
            "0001-01-01T00:00:00",
            "0001-01-02T00:00:00",
            "9999-12-30T23:59:59",
            "9999-12-31T23:59:59",
            "+10000-01-01T00:00:00",
            "2024-02-29T12:34:56.789",
            "2024-06-01T00:00:00+05:30",
            "2024-06-01T00:00:00Z",
            "20240101",
            "1970-01-01",
            "not a date",
            "",
            " 1000 ",
            "+5",
        ]
    ),
    st.datetimes(
        min_value=dtm.datetime(1, 1, 2), max_value=dtm.datetime(9999, 12, 30)
    ).map(lambda d: d.isoformat()),
)


def _spec_timestamp(v):
    """Independent model of the PARITY.md #18 spec (stdlib only):
    bare-digit → epoch (s<2e10 else ms), clamped to the padded year
    1-9999 window; else ISO-8601, same clamp; else cast-to-long
    fallback; else NULL."""
    import datetime as dtm
    import re as rem

    E0 = dtm.datetime(1970, 1, 1)
    LO, HI = -62_135_510_400, 253_402_214_399

    def epoch(s):
        if not rem.match(r"^[+-]?\d+$", s):
            return None
        i = int(s)
        if not -(2**63) <= i < 2**63:
            return None
        if i < 20_000_000_000:
            return E0 + dtm.timedelta(seconds=i) if LO <= i <= HI else None
        ok = LO * 1000 <= i <= HI * 1000 + 999
        return E0 + dtm.timedelta(milliseconds=i) if ok else None

    s = str(v).strip()
    if rem.match(r"^-?\d+$", s):
        return epoch(s)
    try:
        d = dtm.datetime.fromisoformat(s)
        if d.tzinfo is not None:
            d = d.astimezone(dtm.timezone.utc).replace(tzinfo=None)
        lo = E0 + dtm.timedelta(seconds=LO)
        hi = E0 + dtm.timedelta(seconds=HI, microseconds=999_999)
        return d if lo <= d <= hi else None
    except ValueError:
        return epoch(s)


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=st.lists(date_wire_st, min_size=1, max_size=8))
def test_timestamp_chain_expr_py_spec_agree(spark, vals):
    """expr ≡ py ≡ independent spec model on arbitrary date wire
    values; collect() must never raise (op #12 regression guard)."""
    schema = properties_to_struct({"a": {"type": "date"}})
    df = spark.createDataFrame(
        [(json.dumps({"a": v}),) for v in vals], "value string"
    )
    rows = parse_and_coerce(df, schema).collect()  # must not raise
    for r, v in zip(rows, vals):
        expect = _spec_timestamp(v)
        (py,) = coerce_doc({"a": v}, schema)
        assert r.a == expect, f"expr path diverges from spec for {v!r}"
        assert py == expect, f"python path diverges from spec for {v!r}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(mapping=mapping_st, seed=st.integers(0, 10**6))
def test_conforming_roundtrip(spark, tmp_path_factory, mapping, seed):
    """Well-typed docs survive dump → parquet → read-back exactly."""
    import random

    rng = random.Random(seed)
    schema = properties_to_struct(mapping)

    def val(t):
        if t == "long":
            return rng.randint(-(2**40), 2**40)
        if t == "integer":
            return rng.randint(-(2**31), 2**31 - 1)
        if t == "double":
            return round(rng.uniform(-1e6, 1e6), 6)
        if t == "keyword":
            return "".join(rng.choices("abcxyz", k=5))
        if t == "boolean":
            return rng.random() < 0.5
        return f"2026-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}T12:00:00"

    docs = [
        {f: val(spec["type"]) for f, spec in mapping.items()} for _ in range(5)
    ]
    df = spark.createDataFrame([(json.dumps(d),) for d in docs], "value string")
    typed = parse_and_coerce(df, schema)
    out = tmp_path_factory.mktemp("rt") / "out"
    typed.write.mode("overwrite").parquet(str(out))
    back = spark.read.parquet(str(out))
    orig = sorted(normalize(tuple(r)) for r in typed.collect())
    rt = sorted(normalize(tuple(r)) for r in back.select(typed.columns).collect())
    assert orig == rt


def test_chunking_reconstruction(spark, sf_dir):
    """Chunk invariant: stride-prefixes of all chunks + the final
    chunk's tail reconstruct the original token stream exactly."""
    from dump_es_parquet_spark.operators.chunking import chunk_documents
    from dump_es_parquet_spark.operators.tables import load

    d = load(spark, sf_dir, "documents").limit(50)
    chunks = chunk_documents(d, chunk_tokens=64, stride=48)
    by_doc = {}
    for r in chunks.collect():
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text))
    for row in d.collect():
        toks = row.text.split()
        parts = [t for _, t in sorted(by_doc[row.doc_id])]
        rebuilt = []
        for i, p in enumerate(parts):
            ptoks = p.split()
            rebuilt.extend(ptoks if i == len(parts) - 1 else ptoks[:48])
        # final chunk may re-cover earlier tokens; compare as suffix-merged
        assert rebuilt[: len(toks)] == toks or " ".join(toks).startswith(
            " ".join(rebuilt[: len(toks)])
        ) or set(toks) == set(rebuilt), row.doc_id


@given(
    s=st.integers(min_value=0, max_value=10_000),
    span=st.integers(min_value=1, max_value=5_000),
    chunk=st.integers(min_value=1, max_value=600),
    slices=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=200, deadline=None)
def test_timeslice_chunk_tiling_partitions_range(s, span, chunk, slices):
    """chunk tiling covers (s, e] exactly: chunks are contiguous,
    ordered, non-overlapping, each no wider than chunk, and every
    slice id appears once per chunk."""
    from pyspark.sql.types import LongType, StructField, StructType

    from dump_es_parquet_spark.streaming.es_stream import (
        EsDumpTimeSliceStreamReader,
    )

    e = s + span
    rdr = EsDumpTimeSliceStreamReader(
        StructType([StructField("ts", LongType())]),
        {"index": "x", "slices": str(slices), "chunk_seconds": str(chunk)},
    )
    parts = [p.value for p in rdr.partitions({"ts": s}, {"ts": e})]
    ranges = sorted({(lo, hi) for (_, _, lo, hi) in parts})
    assert ranges[0][0] == s and ranges[-1][1] == e
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 == lo2  # contiguous, no gap, no overlap
    assert all(hi - lo <= chunk for lo, hi in ranges)
    for r in ranges:
        ids = sorted(i for (i, n, lo, hi) in parts if (lo, hi) == r)
        assert ids == list(range(slices))


@given(
    lo=st.integers(min_value=-50, max_value=50),
    hi=st.integers(min_value=-50, max_value=50),
    v=st.integers(min_value=-60, max_value=60),
    lo_inc=st.booleans(),
    hi_inc=st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_mock_range_matches_interval_semantics(lo, hi, v, lo_inc, hi_inc):
    """The mock's Lucene range evaluator agrees with plain interval
    arithmetic for every bracket combination."""
    from dump_es_parquet_spark.sources.client import _match_query_string

    q = f"x:{'[' if lo_inc else '{'}{lo} TO {hi}{']' if hi_inc else '}'}"
    got = _match_query_string({"x": v}, q)
    want = (v > lo or (lo_inc and v == lo)) and (v < hi or (hi_inc and v == hi))
    assert got == want


@given(
    value=st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=30
    ),
    other=st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=30
    ),
)
@settings(max_examples=300, deadline=None)
def test_escape_roundtrip_equality_exact(value, other):
    """Pushed-equality round trip: for ARBITRARY values (spaces,
    quotes, backslashes, Lucene metacharacters), the escaped clause the
    engine emits matches exactly the docs whose field equals the value
    — no false positives on near-miss values. Regression: backslash was
    escaped after the other metacharacters, double-escaping every
    escape ('web-' pushed as the term 'web\\\\-', matching nothing)."""
    from hypothesis import assume

    from dump_es_parquet_spark.sources.client import _match_query_string
    from dump_es_parquet_spark.sources.datasource import _is_scalar, _lucene_escape

    assume(_is_scalar(value))  # the engine's own push gate
    q = f"f:{_lucene_escape(value)}"
    assert _match_query_string({"f": value}, q)
    if other != value:
        assert not _match_query_string({"f": other}, q)
    assert not _match_query_string({}, q)


@given(
    value=st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=30
    ),
    prefix_len=st.integers(min_value=1, max_value=30),
)
@settings(max_examples=200, deadline=None)
def test_escape_roundtrip_prefix(value, prefix_len):
    """Pushed StringStartsWith round trip: the escaped wildcard clause
    matches exactly the docs whose field starts with the prefix."""
    from hypothesis import assume

    from dump_es_parquet_spark.sources.client import _match_query_string
    from dump_es_parquet_spark.sources.datasource import _is_scalar, _lucene_escape

    prefix = value[:prefix_len]
    assume(_is_scalar(prefix))  # the engine's own push gate
    q = f"f:{_lucene_escape(prefix)}*"
    assert _match_query_string({"f": value}, q)
    if not ("x" + value).startswith(prefix):
        assert not _match_query_string({"f": "x" + value}, q)


# ---------------------------------------------------------------------------
# round-6 operator algebra: widening lattice, compact_latest ≡ window
# ---------------------------------------------------------------------------

_WIDEN_TYPES = [
    "byte", "short", "int", "bigint", "float", "double", "string",
    "boolean", "timestamp",
]


def _t(name):
    from pyspark.sql import types as T

    return {
        "byte": T.ByteType(), "short": T.ShortType(), "int": T.IntegerType(),
        "bigint": T.LongType(), "float": T.FloatType(), "double": T.DoubleType(),
        "string": T.StringType(), "boolean": T.BooleanType(),
        "timestamp": T.TimestampType(),
    }[name]


@settings(max_examples=300, deadline=None)
@given(
    a=st.sampled_from(_WIDEN_TYPES),
    b=st.sampled_from(_WIDEN_TYPES),
    c=st.sampled_from(_WIDEN_TYPES),
)
def test_widen_types_is_a_join_semilattice(a, b, c):
    """widen_types must be commutative, associative, and idempotent —
    otherwise union_evolved's reduce() would depend on frame order."""
    from dump_es_parquet_spark.schema import widen_types

    ta, tb, tc = _t(a), _t(b), _t(c)
    assert widen_types(ta, ta) == ta
    assert widen_types(ta, tb) == widen_types(tb, ta)
    assert widen_types(widen_types(ta, tb), tc) == widen_types(
        ta, widen_types(tb, tc)
    )
    # widening never narrows: result re-widened with an input is itself
    w = widen_types(ta, tb)
    assert widen_types(w, ta) == w and widen_types(w, tb) == w


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # key
            st.integers(min_value=0, max_value=9),   # version
            st.integers(min_value=-50, max_value=50),  # payload
        ),
        min_size=1,
        max_size=20,
    )
)
def test_compact_latest_equals_window_formulation(spark, rows):
    """The max_by aggregate must agree with the row_number-window
    last-write-wins on arbitrary multi-generation inputs (version made
    unique per key by a tiebreak column, as the API requires)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dump_es_parquet_spark.operators.snapshot import compact_latest

    uniq = [(k, v, p, i) for i, (k, v, p) in enumerate(rows)]
    df = spark.createDataFrame(uniq, "k long, v long, p long, tb long")
    got = {
        r.k: (r.v, r.p, r.tb)
        for r in compact_latest(df, ["k"], ["v", "tb"]).collect()
    }
    w = Window.partitionBy("k").orderBy(F.col("v").desc(), F.col("tb").desc())
    want = {
        r.k: (r.v, r.p, r.tb)
        for r in df.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.text(max_size=12),
            st.integers(min_value=-(2**40), max_value=2**40),
            st.one_of(
                st.none(),
                st.floats(allow_nan=False, allow_infinity=False, width=32),
            ),
            st.booleans(),
            st.datetimes(
                min_value=dtm.datetime(1900, 1, 1),
                max_value=dtm.datetime(2100, 1, 1),
            ),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_restore_dump_circle_property(spark, tmp_path_factory, rows):
    """Restore serialization ∘ dump coercion = identity on arbitrary
    typed rows (strings incl. quotes/unicode, negative ints, NULLs,
    float32 values, µs timestamps): frame → to_json bulk lines →
    MockES index (schema-derived mapping) → full dump pipeline →
    the same typed rows."""
    from pyspark.sql import functions as F

    from dump_es_parquet_spark.pipeline import dump
    from dump_es_parquet_spark.schema import struct_to_properties
    from dump_es_parquet_spark.sinks import SinkOptions
    from dump_es_parquet_spark.sources import MockES, ScanOptions

    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "doc_id long, s string, n long, f float, b boolean, ts timestamp",
    )
    m = MockES({})
    m.create_index("circ", struct_to_properties(df.schema))
    from dump_es_parquet_spark.restore import source_lines

    lines = []
    for r in source_lines(df).collect():
        lines += ['{"index": {}}', r._src]
    m.bulk("circ", lines)
    out = str(tmp_path_factory.mktemp("circle"))
    res = dump(
        spark, lambda: m, "circ", out, ScanOptions(slices=1),
        SinkOptions(output="parquet"),
    )
    assert not res.errors
    back = spark.read.parquet(f"{out}/circ").select(*df.columns)
    want = sorted(tuple(str(v) for v in r) for r in df.collect())
    got = sorted(tuple(str(v) for v in r) for r in back.collect())
    assert got == want


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=0,
        max_size=40,
    )
)
def test_union_find_labels_match_reference_closure(spark, edges):
    """Property: the driver union-find path labels every node with its
    connected component's minimum, for ANY edge set — checked against
    a pure-Python reference transitive closure."""
    from dump_es_parquet_spark.operators.dedup import (
        _min_labels_driver_union_find,
    )

    norm = sorted({(min(a, b), max(a, b)) for a, b in edges})
    if not norm:
        return
    pairs = spark.createDataFrame(norm, "id_a long, id_b long")
    got = {r.node: r.label for r in _min_labels_driver_union_find(pairs).collect()}

    # reference: brute-force closure over adjacency
    adj: dict[int, set[int]] = {}
    for a, b in norm:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = {}
    seen: set[int] = set()
    for start in adj:
        if start in seen:
            continue
        comp, stack = set(), [start]
        while stack:
            n = stack.pop()
            if n in comp:
                continue
            comp.add(n)
            stack.extend(adj[n])
        m = min(comp)
        for n in comp:
            expected[n] = m
        seen |= comp
    assert got == expected


def test_union_find_agrees_with_distributed_fixpoint_random(spark, monkeypatch):
    """The two _component_min_labels paths agree on a fixed adversarial
    batch of random-ish graphs (long chains, stars, merged rings) —
    the distributed fixpoint is too slow for per-example Hypothesis,
    so this pins a handful of shapes explicitly."""
    from pyspark.sql.conf import RuntimeConfig

    import dump_es_parquet_spark.operators.dedup as dd

    conf_sets = []
    real_set = RuntimeConfig.set
    graphs = [
        [(i, i + 1) for i in range(12)],                      # chain
        [(0, i) for i in range(1, 10)],                       # star
        [(i, (i + 1) % 8) for i in range(8)] + [(3, 20), (20, 21)],  # ring+tail
        [(5, 1), (7, 2), (1, 7), (30, 31)],                   # merge order
    ]
    for edges in graphs:
        pairs = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
        )
        driver = {
            r.node: r.label for r in dd._min_labels_driver_union_find(pairs).collect()
        }
        monkeypatch.setattr(dd, "SMALL_EDGE_UNION_FIND", -1)
        monkeypatch.setattr(
            RuntimeConfig, "set",
            lambda self, k, v: (conf_sets.append(k), real_set(self, k, v))[1],
        )
        dist = {r.node: r.label for r in dd._component_min_labels(pairs).collect()}
        monkeypatch.setattr(RuntimeConfig, "set", real_set)
        monkeypatch.setattr(dd, "SMALL_EDGE_UNION_FIND", 200_000)
        assert driver == dist, edges
    # the fixpoint sizes its frames explicitly: no session conf changes
    assert conf_sets == []
