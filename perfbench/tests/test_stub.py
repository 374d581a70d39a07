"""The stub serves every generated document exactly once, across slices
and pages, to both cursor loops of ``RestES`` — 429s included."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

import esstub
import gen
from dump_es_parquet_spark.sources.client import RestES, iter_hits, iter_hits_search_after


@pytest.fixture()
def served():
    ix = gen.bulk_index(seed=5, n_docs=1234, slices=3, size=100)
    server = esstub.serve([ix])
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield ix, f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()
    server.server_close()
    t.join(timeout=10)
    assert not t.is_alive()


def _stats(url: str) -> dict:
    with urllib.request.urlopen(url + "/_stub/stats") as r:
        return json.loads(r.read())


def _ids(hits) -> list[int]:
    return [h["_source"]["doc_id"] for h in hits]


@pytest.mark.parametrize("cursor", ["search_after", "scroll"])
def test_every_doc_once_across_slices_and_pages(served, cursor):
    ix, url = served
    client = RestES(url)
    seen: list[int] = []
    for sid in range(3):
        kw = dict(q=None, _source=None, size=100, slice_spec={"id": sid, "max": 3},
                  max_retries=1, backoff_s=0.0)
        if cursor == "search_after":
            hits = iter_hits_search_after(client, ix.name, sort="@timestamp:asc", pit=True, **kw)
        else:
            hits = iter_hits(client, ix.name, sort="@timestamp:asc", scroll="1m", **kw)
        seen += _ids(hits)
    assert sorted(seen) == list(range(len(ix.rows)))
    stats = _stats(url)
    # one 429 per slice, each retried once
    assert stats["throttled"] == len(ix.throttled_pages) == 3
    assert stats["search_pages_with_hits"] == sum(-(-len(range(s, 1234, 3)) // 100) for s in range(3))


def test_each_429_is_served_once(served):
    ix, url = served
    client = RestES(url)

    def scan():
        return sorted(_ids(
            h for sid in range(3) for h in iter_hits_search_after(
                client, ix.name, q=None, _source=None, sort=None, size=100,
                slice_spec={"id": sid, "max": 3}, max_retries=1, backoff_s=0.0, pit=True)
        ))

    assert scan() == scan() == list(range(len(ix.rows)))
    assert _stats(url)["throttled"] == 3


def test_metadata_and_sample_page(served):
    ix, url = served
    client = RestES(url)
    assert list(client.get_settings("weblogs-*")) == [ix.name]
    mapping = client.get_mapping(ix.name)
    assert mapping[ix.name]["mappings"]["properties"] == ix.mapping
    page = client.search(ix.name, size=100, scroll=None)
    assert len(page["hits"]["hits"]) == 100
    assert page["hits"]["total"]["value"] == len(ix.rows)
