"""Long-lived serving daemon: `LocalSearcher` behind a small HTTP/JSON
endpoint with hot swap on manifest change.

Reference analogue: the plugin serves lookups from an always-on node —
a hot in-process cache (ip2geo/dao/Ip2GeoCachedDao.java:119-138) whose
contents are invalidated by a cluster-state change listener
(Ip2GeoCachedDao.java:194-243) rather than by restarting the node. Here
the "node" is this process, the cache is a warmed LocalSearcher, and
the change listener is a cheap manifest re-read (bounded by
`check_interval`): when a new manifest lands (delta build, force-merge,
re-pin), the daemon constructs a FRESH searcher over the new generation
set, warms it, and swaps the reference atomically — in-flight queries
finish on the old searcher, the next request sees the new index, and a
broken/mid-publish manifest keeps the current searcher serving.

Transport is stdlib http.server on localhost: the point is the serving
*process* model (always-on, no Spark job, p50 in the milliseconds), not
a production web stack. Endpoints:

    GET  /health        → manifest summary (state, n_docs, built_at)
                          plus swap counts and the last swap error
    POST /search        → {"type": ..., "q": ..., "k": ...} → hits
    POST /search_batch  → [req, ...] → [hits, ...]

All query types are served: match, phrase, phrase_scored, near,
bool (including pure-NOT via empty should/filter), facet, and the
expansion rewrites prefix / fuzzy / wildcard.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from geospatial_spark.plans import lifecycle as lc
from geospatial_spark.plans.serve import LocalSearcher

WARM_QUERY = "the"  # loads dictionary + readers before a swap publishes


def _plain(v):
    """JSON-safe scalar: numpy ints/floats → python, strings/bools/None
    pass through."""
    import numbers

    if isinstance(v, (str, bool)) or v is None:
        return v
    if isinstance(v, numbers.Integral):
        return int(v)
    if isinstance(v, numbers.Real):
        return float(v)
    return v


def dispatch(searcher: LocalSearcher, req: dict) -> list[tuple[str, float]]:
    """One request → one LocalSearcher call. Same request shape as
    IndexSearcher.search_many_mixed entries."""
    qtype = req.get("type", "match")
    k = int(req.get("k", 10))
    if qtype == "match":
        after = req.get("after")
        if after is not None:
            # cursor pagination: after = [score, doc_id] of the last
            # hit of the previous page (LocalSearcher.search_after)
            if (not isinstance(after, (list, tuple)) or len(after) != 2):
                raise ValueError("after must be [score, doc_id]")
            return searcher.search_after(
                req["q"], k, after=(float(after[0]), str(after[1])),
                quantized=bool(req.get("quantized", False)),
                meta=req.get("meta"))
        return searcher.search(req["q"], k,
                               quantized=bool(req.get("quantized", False)),
                               meta=req.get("meta"))
    if qtype == "prefix":
        return searcher.search_prefix(
            req["q"], k, int(req.get("max_expansions", 64)),
            meta=req.get("meta"))
    if qtype == "fuzzy":
        return searcher.search_fuzzy(
            req["q"], k, int(req.get("max_edits", 1)),
            int(req.get("prefix_length", 0)),
            int(req.get("max_expansions", 64)), meta=req.get("meta"))
    if qtype == "wildcard":
        return searcher.search_wildcard(
            req["q"], k, int(req.get("max_expansions", 64)),
            meta=req.get("meta"))
    if qtype == "regexp":
        return searcher.search_regexp(
            req["q"], k, int(req.get("max_expansions", 64)),
            meta=req.get("meta"))
    if qtype == "phrase_prefix":
        return searcher.search_phrase_prefix(
            req["q"], k, int(req.get("max_expansions", 64)))
    if qtype == "phrase":
        return searcher.search_phrase(req["q"], k)
    if qtype == "phrase_scored":
        return searcher.search_phrase_scored(req["q"], k)
    if qtype == "near":
        return searcher.search_near(req["q"], int(req.get("slop", 2)), k)
    if qtype == "bool":
        return searcher.search_bool(
            req.get("should", ""), req.get("filter", ""),
            req.get("must_not", ""), k, meta=req.get("meta"),
            min_should_match=int(req.get("minimum_should_match", 1)),
            boosts=req.get("boosts"))
    if qtype == "collapse":
        # field-collapsed top-k: hits are (field_value, doc_id, score)
        return searcher.search_collapsed(
            req.get("should", ""), req.get("filter", ""),
            req.get("must_not", ""), k, meta=req.get("meta"),
            field=req.get("field", "role"))
    if qtype == "highlight":
        # (doc_id, score, snippet, n_hit) — requires the service to be
        # constructed with a docstore (text is not stored in the index)
        return searcher.highlight(
            req["q"], k, int(req.get("window", 12)),
            quantized=bool(req.get("quantized", False)),
            meta=req.get("meta"))
    if qtype == "percolate":
        # reverse search: which of the request's stored queries match
        # this one doc text (AND semantics over the query's term set)
        from geospatial_spark.operators.percolate import percolate_doc

        qs = req.get("queries")
        if not isinstance(qs, list) or not all(
                isinstance(q, (list, tuple)) and len(q) == 2 for q in qs):
            raise ValueError("percolate needs queries=[[id, text], ...]")
        return [[qid] for qid in percolate_doc(
            [(str(a), str(b)) for a, b in qs], req["text"])]
    if qtype == "rescore":
        return searcher.search_rescored(
            req["q"], req["rescore_q"], k,
            int(req.get("window", 50)),
            float(req.get("query_weight", 1.0)),
            float(req.get("rescore_weight", 1.0)))
    if qtype == "match_stats":
        st = searcher.match_stats(
            req.get("should", ""), req.get("filter", ""),
            req.get("must_not", ""), meta=req.get("meta"))
        return [[st["n_matched"], st["sum_dl"], st["min_ts_us"],
                 st["max_ts_us"]]]
    if qtype == "complete":
        # prefix autocomplete rows (term, df), most-frequent first
        return [list(s) for s in searcher.complete(
            req["q"], int(req.get("size", 10)))]
    if qtype == "suggest":
        # did-you-mean rows (term, df, distance), distance-first ranked
        return [list(s) for s in searcher.suggest(
            req["q"], int(req.get("size", 5)),
            int(req.get("max_edits", 2)))]
    if qtype == "decay":
        # recency-decayed match (function_score exponential decay);
        # origin_us is required — a serving client passes "now"
        return searcher.search_decayed(
            req["q"], k, float(req.get("half_life_s", 604_800.0)),
            int(req["origin_us"]))
    if qtype == "more_like_this":
        # requires the service to be constructed with a docstore (the
        # source doc's text is fetched, then its top tf·idf terms are
        # scored as a should-OR) — no docstore raises ValueError (400)
        return searcher.more_like_this(
            req["doc_id"], k,
            int(req.get("max_query_terms", 25)),
            int(req.get("min_term_freq", 1)),
            int(req.get("min_doc_freq", 2)),
            include=bool(req.get("include", False)))
    if qtype == "explain":
        # per-term score decomposition rows (term, tf, dl, df, idf,
        # contribution) — Σ contribution is the doc's search() score;
        # an unindexed doc is a client error (400)
        ex = searcher.explain(req["q"], req["doc_id"],
                              quantized=bool(req.get("quantized", False)))
        if ex is None:
            raise ValueError(f"doc not indexed: {req['doc_id']!r}")
        return [[e["term"], e["tf"], e["dl"], e["df"], e["idf"],
                 e["contribution"]] for e in ex["entries"]]
    if qtype == "facet":
        counts = searcher.facet_counts(req.get("should", ""),
                                       req.get("filter", ""),
                                       req.get("must_not", ""),
                                       meta=req.get("meta"),
                                       field=req.get("field", "role"))
        return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    raise ValueError(f"unknown query type: {qtype!r}")


class IndexService:
    """Holds the live searcher; re-reads the manifest at most every
    `check_interval` seconds and swaps in a freshly-warmed searcher when
    `built_at_unix` moved (every publish — delta build, merge, re-pin —
    bumps it). Queries are serialized by a lock: LocalSearcher's lazy
    caches (dictionary, readers, docmaps) are built on first touch and
    are not safe under concurrent *construction*; the swap path warms
    the new searcher BEFORE publishing the reference so the lock is
    never held across cold I/O."""

    def __init__(self, index_root: str, check_interval: float = 0.25,
                 preload_docmaps: bool = True,
                 request_cache_size: int = 256,
                 docstore: str | None = None):
        self.root = index_root
        self.docstore = docstore
        self.check_interval = check_interval
        self.preload = preload_docmaps
        self.query_lock = threading.Lock()
        self._swap_lock = threading.Lock()
        self._searcher = self._fresh()
        self._built_at = self._searcher.manifest.get("built_at_unix")
        self._last_check = time.monotonic()
        self.swaps = 0
        # failed swap attempts (unreadable manifest, or a new index that
        # would not open): the current index keeps serving, and /health
        # reports the count and the last error instead of hiding them
        self.swap_failures = 0
        self.last_swap_error: str | None = None
        # request result cache (the shard-request-cache analogue —
        # OpenSearch caches whole query results per shard keyed by
        # request + index state; Ip2GeoCachedDao.java:119-138 is the
        # same idea for lookups). Keyed by the canonical request JSON +
        # the manifest's built_at, so a hot swap invalidates every
        # entry implicitly. Bounded LRU; 0 disables.
        from collections import OrderedDict

        self.request_cache_size = request_cache_size
        self._req_cache: "OrderedDict[str, list]" = OrderedDict()
        self.cache_hits = 0
        self.cache_misses = 0

    def _fresh(self) -> LocalSearcher:
        s = LocalSearcher(self.root, preload_docmaps=self.preload,
                          docstore=self.docstore)
        s.search(WARM_QUERY, 1)  # populate lazy caches off the hot path
        s.warm_hot_terms()  # saturated terms' light rows pre-read, so a
        # first query never pays their parquet read (swap-time warm-up)
        return s

    def searcher(self) -> LocalSearcher:
        now = time.monotonic()
        if now - self._last_check >= self.check_interval:
            with self._swap_lock:
                if now - self._last_check >= self.check_interval:
                    self._last_check = now
                    self._maybe_swap()
        return self._searcher

    def _maybe_swap(self) -> None:
        try:
            m = lc.read_manifest(self.root)
        except Exception as e:
            self._swap_failed(e)
            return  # unreadable mid-publish: keep serving
        if not m or m.get("state") != lc.STATE_AVAILABLE:
            return  # building / failed: keep serving the current index
        if m.get("built_at_unix") == self._built_at:
            return
        try:
            fresh = self._fresh()
        except Exception as e:
            self._swap_failed(e)
            return  # partially landed: retry at the next interval
        self._searcher = fresh  # atomic ref swap
        self._built_at = fresh.manifest.get("built_at_unix")
        self.swaps += 1

    def _swap_failed(self, e: Exception) -> None:
        self.swap_failures += 1
        self.last_swap_error = f"{type(e).__name__}: {e}"

    def handle(self, req: dict) -> list[list]:
        s = self.searcher()
        key = None
        if self.request_cache_size > 0:
            key = json.dumps(req, sort_keys=True) + "@" + str(
                s.manifest.get("built_at_unix"))
            hit = self._req_cache.get(key)
            if hit is not None:
                self._req_cache.move_to_end(key)
                self.cache_hits += 1
                return hit
            self.cache_misses += 1
        with self.query_lock:
            # rows vary in width by query type: (doc, score) matches,
            # (value, doc, score) collapse, (doc, score, snippet, n_hit)
            # highlight — serialize generically (numpy scalars → plain)
            out = [[_plain(v) for v in row] for row in dispatch(s, req)]
        if key is not None:
            self._req_cache[key] = out
            while len(self._req_cache) > self.request_cache_size:
                self._req_cache.popitem(last=False)
        return out

    def health(self) -> dict:
        s = self._searcher
        return {
            "state": s.manifest.get("state"),
            "n_docs": s.n_docs,
            "built_at_unix": s.manifest.get("built_at_unix"),
            "generations": [g["id"] for g in s.gens],
            "swaps": self.swaps,
            "swap_failures": self.swap_failures,
            "last_swap_error": self.last_swap_error,
            "request_cache": {"hits": self.cache_hits,
                              "misses": self.cache_misses,
                              "size": len(self._req_cache)},
        }


class _Handler(BaseHTTPRequestHandler):
    service: IndexService  # set by make_server
    protocol_version = "HTTP/1.1"  # keep-alive for clients that reuse
    # Nagle + delayed-ACK adds ~25 ms to every small request/response
    # pair — for a millisecond-budget serving tier it IS the latency
    disable_nagle_algorithm = True

    def log_message(self, *a):  # quiet
        pass

    def _reply(self, code: int, obj) -> None:
        body = json.dumps(obj).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        if self.path == "/health":
            self._reply(200, self.service.health())
        else:
            self._reply(404, {"error": f"no such path: {self.path}"})

    def do_POST(self):
        n = int(self.headers.get("Content-Length", 0))
        try:
            req = json.loads(self.rfile.read(n) or b"{}")
        except json.JSONDecodeError as e:
            return self._reply(400, {"error": f"bad json: {e}"})
        try:
            if self.path == "/search":
                if not isinstance(req, dict):
                    return self._reply(
                        400, {"error": "/search body must be a JSON object"})
                self._reply(200, {"hits": self.service.handle(req)})
            elif self.path == "/search_batch":
                # shape-validate BEFORE dispatch: an object body would
                # iterate its keys and 500 out of the handler thread
                if not isinstance(req, list) or not all(
                        isinstance(r, dict) for r in req):
                    return self._reply(
                        400, {"error": "/search_batch body must be a JSON "
                                       "array of request objects"})
                self._reply(200, {"results": [self.service.handle(r)
                                              for r in req]})
            else:
                self._reply(404, {"error": f"no such path: {self.path}"})
        except (KeyError, ValueError) as e:
            # validated client input only — a kernel regression raising
            # TypeError/AttributeError must surface as a 500 so
            # monitoring sees a server fault, not a client error
            self._reply(400, {"error": str(e)})
        except (TypeError, AttributeError) as e:
            self._reply(500, {"error": f"internal: {e}"})


def make_server(index_root: str, host: str = "127.0.0.1", port: int = 0,
                check_interval: float = 0.25,
                docstore: str | None = None) -> ThreadingHTTPServer:
    """Bound server (port=0 → ephemeral, read server.server_address).
    Caller runs serve_forever(), typically in a thread."""
    service = IndexService(index_root, check_interval=check_interval,
                           docstore=docstore)
    handler = type("Handler", (_Handler,), {"service": service})
    srv = ThreadingHTTPServer((host, port), handler)
    srv.service = service  # for tests / introspection
    return srv


def start_daemon(index_root: str, host: str = "127.0.0.1", port: int = 0,
                 check_interval: float = 0.25):
    """Start serving in a daemon thread; returns (server, port)."""
    srv = make_server(index_root, host, port, check_interval)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]
