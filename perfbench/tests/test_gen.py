"""The generator is deterministic per seed, and its expected rows and
warning counts are what a real dump through the stub writes."""

from __future__ import annotations

import functools
import threading

import pytest

import dumps
import esstub
import gen
import harness


def test_same_seed_same_inputs():
    a, b = gen.bulk_index(7, n_docs=500), gen.bulk_index(7, n_docs=500)
    assert (a.sources, a.rows, a.warnings, a.throttled_pages) == (
        b.sources, b.rows, b.warnings, b.throttled_pages)
    c = gen.bulk_index(8, n_docs=500)
    assert c.sources != a.sources


def test_digest_ignores_row_order():
    rows = gen.bulk_index(3, n_docs=50).rows
    assert gen.digest(rows) == gen.digest(list(reversed(rows)))
    assert gen.digest(rows) != gen.digest(rows[:-1])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run = harness.Run("test", 0, 0, False, work=str(tmp_path_factory.mktemp("work")))
    s, _ = harness.start_spark(run)
    yield s
    harness.stop_spark(s)


def test_expected_rows_and_warnings_match_a_real_dump(spark, tmp_path):
    from dump_es_parquet_spark import pipeline
    from dump_es_parquet_spark.sources.client import RestES
    from dump_es_parquet_spark.sources.scan import ScanOptions

    ix = gen.bulk_index(11, n_docs=1500)
    assert ix.warnings["status_cast_failures"] > 0
    assert ix.warnings["unknown_field_values"] > 0
    assert ix.warnings["multivalue_collapsed"] > 0
    server = esstub.serve([ix])
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}"
        result = pipeline.dump(spark, functools.partial(RestES, url), ix.name,
                               str(tmp_path), ScanOptions(slices=4, backoff_s=0.0))
    finally:
        server.shutdown()
        server.server_close()
        t.join(timeout=10)
    run = harness.Run("dump_bulk", 11, 0, False)
    assert dumps.check_index(run, ix, result), run.failures
