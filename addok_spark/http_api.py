"""Minimal HTTP search API (reference §3.1 surface parity).

The reference serves ``GET /search/?q=...&limit=..&autocomplete=..``
via Falcon (``/root/reference/addok/http/base.py:171-209``, wiring
``addok/http/wsgi.py:8-18``) returning GeoJSON FeatureCollections.
Transcripts have no geometry, so results render as a JSON envelope
with the same contract shape: query echo, limit clamping 1..100,
multi-value filters (``role=a&role=b`` → OR, different params → AND,
``addok/http/base.py:88-122``), 413 on over-long queries
(EntityTooLarge, ``addok/helpers/text.py:225-233``).

stdlib http.server on purpose (any WSGI/ASGI frontend works): one
process answering through the warm serving tier's
``LocalSearchEngine``. Batch evaluation (``SearchEngine.search`` with
many queries, spread over Spark tasks) is the high-throughput path.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .config import EngineConfig
from .query.engine import Query

def _handle_health(engine) -> tuple[int, dict]:
    """≙ reference /health (``addok/http/base.py:225-237``): the
    endpoint every load balancer probes first. Answers from the
    serving index's metadata and in-RAM dictionary only — never a
    posting read."""
    idx = engine.index
    return 200, {
        "status": "ok",
        "n_docs": int(idx.meta.get("n_docs", -1)),
        "avgdl": idx.meta.get("avgdl"),
        "snapshot_version": idx.paths.version,
        "n_tokens": len(idx.df),
    }


def _match_filters(
    cfg: EngineConfig, params: dict[str, list[str]]
) -> dict[str, list[str]]:
    """Filter parsing ≙ reference ``View.match_filters``
    (``addok/http/base.py:88-122``): repeated parameters of one field
    OR together; when ``filters_multi_value_separator`` is set
    (default space, ≙ FILTERS_MULTI_VALUE_SEPARATOR default.py:24)
    each parameter value is additionally split on it; values are
    whitespace-stripped and empties dropped. Different fields AND."""
    filters: dict[str, list[str]] = {}
    sep = cfg.filters_multi_value_separator
    for name in cfg.filter_fields:
        values = params.get(name)
        if not values:
            continue
        if sep:
            expanded = []
            for value in values:
                if sep in value:
                    expanded.extend(
                        v.strip() for v in value.split(sep) if v.strip()
                    )
                else:
                    expanded.append(value.strip())
            vals = [v for v in expanded if v]
        else:
            vals = [v.strip() for v in values if v.strip()]
        if vals:
            filters[name] = vals
    return filters


class QueryLogs:
    """Query / notfound / slow-query logs (≙ reference
    ``addok/http/base.py:18-74``): tab-separated lines, midnight-
    rotated files named ``queries.log`` / ``notfound.log`` /
    ``slow_queries.log`` under ``cfg.log_dir``. All off by default,
    matching the reference's config defaults."""

    def __init__(self, cfg: EngineConfig):
        self.cfg = cfg
        self._loggers: dict[str, object] = {}

    def _get(self, name: str):
        logger = self._loggers.get(name)
        if logger is None:
            import logging
            import logging.handlers
            from pathlib import Path

            # a detached Logger (NOT logging.getLogger): two servers
            # in one process must not steal each other's handlers or
            # cross-write, and registered loggers live forever in
            # Logger.manager — per-instance registered names would
            # leak a logger + open fd per QueryLogs for the life of
            # the process. Detached ones are GC'd with this object.
            logger = logging.Logger(f"addok_spark.{name}")
            logger.setLevel(logging.DEBUG)
            logger.propagate = False
            filename = Path(self.cfg.log_dir or ".") / f"{name}.log"
            handler = logging.handlers.TimedRotatingFileHandler(
                str(filename), when="midnight"
            )
            handler.setFormatter(logging.Formatter("%(message)s"))
            logger.handlers = [handler]
            self._loggers[name] = logger
        return logger

    def log(self, q: str, hits: list[dict], elapsed_ms: float) -> None:
        first = hits[0] if hits else None
        result = (
            f"{first['conv_id']}#{first['turn_idx']}" if first else "-"
        )
        score = str(round(first["score"], 2)) if first else "-"
        if self.cfg.log_not_found and not hits:
            self._get("notfound").debug(q)
        if self.cfg.log_queries:
            self._get("queries").debug("\t".join([q, result, score]))
        # float compare: 5.9 ms IS slower than a 5 ms threshold
        if self.cfg.slow_queries and elapsed_ms > float(self.cfg.slow_queries):
            self._get("slow_queries").debug(
                "\t".join([str(int(round(elapsed_ms))), q, result, score])
            )


def _handle_search(
    engine,
    params: dict[str, list[str]],
    qlogs: QueryLogs | None = None,
) -> tuple[int, dict]:
    q = (params.get("q") or [""])[0]
    if not q:
        return 400, {"error": "missing q"}
    if len(q) > engine.cfg.query_max_length:
        return 413, {"error": "query too long"}  # ≙ EntityTooLarge
    try:
        limit = int((params.get("limit") or ["10"])[0])
    except ValueError:
        return 400, {"error": "bad limit"}
    limit = max(1, min(100, limit))  # http/base.py:176-178
    autocomplete = (params.get("autocomplete") or ["0"])[0] in ("1", "true")
    phrase = (params.get("phrase") or ["0"])[0] in ("1", "true")
    filters = _match_filters(engine.cfg, params)
    import time as _time

    t0 = _time.perf_counter()
    res = engine.search(
        [Query(qid="http", q=q, k=limit, autocomplete=autocomplete,
               filters=filters, phrase=phrase)]
    ).to_dict("records")
    hits = [
        {
            "rank": int(r["rank"]),
            "conv_id": r["conv_id"],
            "turn_idx": int(r["turn_idx"]),
            "role": r["role"],
            "tool": r["tool"],
            "text": r["text"],
            "score": float(r["score"]),
        }
        for r in res
    ]
    if qlogs is not None:
        qlogs.log(q, hits, (_time.perf_counter() - t0) * 1000)
    return 200, {"query": q, "limit": limit, "hits": hits}


def make_server(engine, host: str = "127.0.0.1", port: int = 0):
    qlogs = QueryLogs(engine.cfg) if (
        engine.cfg.log_queries
        or engine.cfg.log_not_found
        or engine.cfg.slow_queries
    ) else None

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def do_GET(self):
            u = urlparse(self.path)
            route = u.path.rstrip("/")
            if route not in ("/search", "/health"):
                self.send_response(404)
                self.end_headers()
                return
            try:
                if route == "/health":
                    code, body = _handle_health(engine)
                else:
                    code, body = _handle_search(
                        engine, parse_qs(u.query), qlogs
                    )
            except Exception as e:  # engine failure → 500 with reason
                code, body = 500, {"error": str(e)[:200]}
            payload = json.dumps(body).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            # CORS parity with reference http/base.py (cors plugin)
            self.send_header("Access-Control-Allow-Origin", "*")
            self.send_header("Access-Control-Allow-Headers", "X-Requested-With")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    return ThreadingHTTPServer((host, port), Handler)


def serve_background(engine, port: int = 0):
    """Start the server on a daemon thread; returns (server, port)."""
    srv = make_server(engine, port=port)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]
