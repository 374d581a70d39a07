"""Stdlib HTTP Elasticsearch stub for the dump benchmark.

Serves exactly the requests ``RestES`` sends: ``_settings``,
``_mapping``, ``_pit`` open and close, sliced PIT + ``search_after``
``_search``, the plain ``_search`` of the sample page, and scroll.
Every page is rendered before the server starts listening, so the
time it spends per request is small; that time is summed and reported
as ``busy_s`` with the request, byte and 429 counts at
``GET /_stub/stats``.

Run as its own process::

    python3 perfbench/esstub.py --seed 1

It prints ``PORT <n>`` once it listens on 127.0.0.1, and serves until
``POST /_stub/shutdown`` or SIGTERM.
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import signal
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import gen

#: Slice count and page size pages are rendered for up front; any
#: other combination is rendered on its first request.
PRERENDER = ((4, 500), (1, 500))


def _hit_bytes(index: str, ordinal: int, source: str, sort_ms: int) -> bytes:
    return (
        f'{{"_index":"{index}","_id":"{ordinal}","_score":null,'
        f'"_source":{source},"sort":[{sort_ms},{ordinal}]}}'
    ).encode()


class Corpus:
    """Rendered pages of every index, keyed by slicing and page size."""

    def __init__(self, indices: list[gen.Index]):
        self.indices = {ix.name: ix for ix in indices}
        self._pages: dict[tuple, list[bytes]] = {}
        self._positions: dict[tuple, dict[int, int]] = {}
        self._lock = threading.Lock()
        for ix in indices:
            for slices, size in PRERENDER:
                for sid in range(slices):
                    self.pages(ix.name, sid, slices, size)

    def pages(self, index: str, slice_id: int, slices: int, size: int) -> list[bytes]:
        """Hit arrays of one slice in ``@timestamp`` then ordinal order,
        ``size`` hits per page; a slice holds the ordinals congruent to
        its id modulo the slice count."""
        key = (index, slice_id, slices, size)
        with self._lock:
            got = self._pages.get(key)
        if got is not None:
            return got
        ix = self.indices[index]
        ords = sorted(range(slice_id, len(ix.sources), slices),
                      key=lambda o: (ix.sort_ms[o], o))
        hits = [_hit_bytes(index, o, ix.sources[o], ix.sort_ms[o]) for o in ords]
        pages = [b"[" + b",".join(hits[i:i + size]) + b"]"
                 for i in range(0, len(hits), size)] or [b"[]"]
        with self._lock:
            self._pages[key] = pages
            self._positions[(index, slice_id, slices)] = {o: p for p, o in enumerate(ords)}
        return pages

    def page_after(self, index: str, slice_id: int, slices: int, size: int,
                   cursor: list | None) -> int:
        """Page number that follows a ``search_after`` cursor; past the
        last page once the cursor is the slice's last hit."""
        pages = self.pages(index, slice_id, slices, size)
        if cursor is None:
            return 0
        positions = self._positions[(index, slice_id, slices)]
        start = positions[int(cursor[-1])] + 1
        if start >= len(positions):
            return len(pages)
        if start % size:
            raise ValueError("search_after cursor is not the last hit of a page")
        return start // size


class Stats:
    def __init__(self):
        self.lock = threading.Lock()
        self.requests = 0
        self.bytes_out = 0
        self.throttled = 0
        self.busy_s = 0.0
        self.search_requests = 0
        self.search_pages_with_hits = 0

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "requests": self.requests,
                "bytes": self.bytes_out,
                "throttled": self.throttled,
                "busy_s": self.busy_s,
                "search_requests": self.search_requests,
                "search_pages_with_hits": self.search_pages_with_hits,
            }


class State:
    def __init__(self, corpus: Corpus):
        self.corpus = corpus
        self.stats = Stats()
        self.lock = threading.Lock()
        self.pits: dict[str, str] = {}  # pit id → index
        self.scrolls: dict[str, tuple] = {}  # scroll session → (index, slice, slices, size)
        self.throttled_once: set[tuple] = set()
        self.counter = 0

    def next_id(self, prefix: str) -> str:
        with self.lock:
            self.counter += 1
            return f"{prefix}{self.counter}"

    def throttle(self, index: str, slice_id: int, page: int) -> bool:
        """True the first time a scheduled page is requested: each 429
        of the schedule is served once per server lifetime, so it costs
        the first pass over the index one retry."""
        key = (index, slice_id, page)
        if key[1:] not in self.corpus.indices[index].throttled_pages:
            return False
        with self.lock:
            if key in self.throttled_once:
                return False
            self.throttled_once.add(key)
            return True


def make_handler(state: State, server_ref: list):
    corpus = state.corpus

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _body(self):
            n = int(self.headers.get("Content-Length") or 0)
            return json.loads(self.rfile.read(n)) if n else None

        def _send(self, data: bytes, code: int = 200, count: bool = True) -> None:
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)
            if count:
                with state.stats.lock:
                    state.stats.bytes_out += len(data)

        def _json(self, obj, code: int = 200) -> None:
            self._send(json.dumps(obj).encode(), code)

        def _search_page(self, hits: bytes, total: int, scroll_id: str | None = None) -> None:
            head = b'{"_scroll_id":"%s",' % scroll_id.encode() if scroll_id else b"{"
            with state.stats.lock:
                state.stats.search_requests += 1
                state.stats.search_pages_with_hits += hits != b"[]"
            self._send(head + b'"hits":{"total":{"value":%d,"relation":"eq"},"hits":' % total
                       + hits + b"}}")

        def _throttled(self) -> None:
            with state.stats.lock:
                state.stats.throttled += 1
                state.stats.search_requests += 1
            self._json({"error": "too many requests", "status": 429}, 429)

        def _dispatch(self, method: str) -> None:
            t0 = time.perf_counter()
            parsed = urllib.parse.urlparse(self.path)
            params = dict(urllib.parse.parse_qsl(parsed.query))
            parts = [p for p in parsed.path.split("/") if p]
            body = self._body()
            if parts[:1] == ["_stub"]:  # control requests are not counted
                return self._control(method, parts[1:])
            try:
                self._route(method, parts, params, body)
            finally:
                with state.stats.lock:
                    state.stats.requests += 1
                    state.stats.busy_s += time.perf_counter() - t0

        def _control(self, method, parts):
            if parts == ["stats"]:
                return self._send(json.dumps(state.stats.snapshot()).encode(), count=False)
            if parts == ["shutdown"] and method == "POST":
                self._send(b'{"ok":true}', count=False)
                threading.Thread(target=server_ref[0].shutdown).start()
                return None
            return self._send(b'{"error":"unknown control request"}', 404, count=False)

        def _route(self, method, parts, params, body):
            path = "/" + "/".join(parts)
            if method == "GET" and len(parts) == 2 and parts[1] == "_settings":
                names = fnmatch.filter(sorted(corpus.indices), parts[0])
                return self._json({n: {"settings": {"index": {
                    "number_of_shards": "1", "provided_name": n}}} for n in names})
            if method == "GET" and len(parts) == 2 and parts[1] == "_mapping":
                ix = corpus.indices.get(parts[0])
                if ix is None:
                    return self._json({"error": "index_not_found_exception"}, 404)
                return self._json({ix.name: {"mappings": {"properties": ix.mapping}}})
            if method == "POST" and len(parts) == 2 and parts[1] == "_pit":
                if parts[0] not in corpus.indices:
                    return self._json({"error": "index_not_found_exception"}, 404)
                pid = state.next_id("pit-")
                with state.lock:
                    state.pits[pid] = parts[0]
                return self._json({"id": pid})
            if method == "DELETE" and parts == ["_pit"]:
                with state.lock:
                    found = state.pits.pop((body or {}).get("id"), None)
                return self._json({"succeeded": found is not None,
                                   "num_freed": int(found is not None)})
            if method == "POST" and parts == ["_search", "scroll"]:
                return self._scroll_next(body or {})
            if method == "POST" and parts[-1:] == ["_search"] and len(parts) <= 2:
                return self._search(parts[0] if len(parts) == 2 else None, params, body or {})
            return self._json({"error": f"unsupported {method} {path}"}, 400)

        def _search(self, index, params, body):
            if "q" in params or "_source" in body:
                return self._json({"error": "query/_source filters are not served"}, 400)
            size = int(params.get("size", "10"))
            sl = body.get("slice") or {"id": 0, "max": 1}
            sid, smax = int(sl["id"]), int(sl["max"])
            pit = body.get("pit")
            if pit is not None:
                with state.lock:
                    index = state.pits.get(pit["id"])
                if index is None:
                    return self._json({"error": "search_context_missing_exception"}, 404)
            if index not in corpus.indices:
                return self._json({"error": "index_not_found_exception"}, 404)
            total = len(range(sid, len(corpus.indices[index].sources), smax))
            if pit is not None:
                try:
                    page = corpus.page_after(index, sid, smax, size, body.get("search_after"))
                except (ValueError, KeyError) as e:
                    return self._json({"error": f"bad search_after cursor: {e}"}, 400)
                if state.throttle(index, sid, page):
                    return self._throttled()
                pages = corpus.pages(index, sid, smax, size)
                return self._search_page(pages[page] if page < len(pages) else b"[]", total)
            pages = corpus.pages(index, sid, smax, size)
            if "scroll" in params:
                if state.throttle(index, sid, 0):
                    return self._throttled()
                ctx = state.next_id("scroll-")
                with state.lock:
                    state.scrolls[ctx] = (index, sid, smax, size)
                return self._search_page(pages[0], total, f"{ctx}:0")
            # plain search (the sample page): first page, no sort values
            return self._search_page(pages[0], total)

        def _scroll_next(self, body):
            ctx, _, page = body.get("scroll_id", "").rpartition(":")
            with state.lock:
                spec = state.scrolls.get(ctx)
            if spec is None:
                return self._json({"error": "search_context_missing_exception"}, 404)
            index, sid, smax, size = spec
            page = int(page) + 1
            if state.throttle(index, sid, page):
                return self._throttled()
            pages = corpus.pages(index, sid, smax, size)
            total = len(range(sid, len(corpus.indices[index].sources), smax))
            hits = pages[page] if page < len(pages) else b"[]"
            return self._search_page(hits, total, f"{ctx}:{page}")

        def do_GET(self):
            self._dispatch("GET")

        def do_POST(self):
            self._dispatch("POST")

        def do_DELETE(self):
            self._dispatch("DELETE")

    return Handler


def serve(indices: list[gen.Index], port: int = 0) -> ThreadingHTTPServer:
    """Build the server (not yet serving) on 127.0.0.1."""
    server_ref: list = []
    server = ThreadingHTTPServer(("127.0.0.1", port), make_handler(State(Corpus(indices)), server_ref))
    server.daemon_threads = True
    server_ref.append(server)
    return server


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    args = p.parse_args()
    server = serve([gen.bulk_index(args.seed)])
    signal.signal(signal.SIGTERM, lambda *a: threading.Thread(target=server.shutdown).start())
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever()
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
