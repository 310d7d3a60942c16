#!/usr/bin/env python
"""Q9: HTTP query entry point over a built warehouse (SURVEY.md §2.5).

The reference serves queries over HTTP from its in-memory index
(engine/server/LinuxTinyServer.cpp:441-520 accept/parse loop,
RootPlugin.h:87-214 /search plugin rendering results).  The Spark-native
equivalent keeps one long-lived SparkSession + PackedQueryEngine warm and
serves JSON from a stdlib ThreadingHTTPServer — queries reuse the
session, so per-request latency is the engine's job latency, not session
startup.

  spark-submit --master 'local[8]' jobs/serve.py --warehouse /tmp/se_wh \
      --port 8080

  GET /search?q=search+engine&k=10[&synonyms=1][&mode=bm25|static|dynamic]
      → {"query": ..., "results": [{doc_id, score, url, title}, ...]}
      Browsers (Accept: text/html) — or format=html — get the reference's
      rendered results page instead (RootPlugin.h:124-214 BuildSearchHTML:
      h1 + logo + back-link + one <li><a> per result); format=json forces
      JSON.  Unlike the reference, url/title are HTML-escaped
      (RootPlugin.h:208 concatenates them raw — an injection bug we do not
      reproduce; scores and ranking are unaffected).
  GET /         → the search form page (reference index.html analogue)
  GET /logo.svg → the logo (MagicPath parity, RootPlugin.h:41-43)
  GET /healthz  → {"status": "ok", "n_docs": N}

Input limits: a ``q`` longer than MAX_QUERY_CHARS answers 400 {"error":
"query too long"}, and one whose compiled tree (synonyms expanded) has
more than MAX_QUERY_LEAVES leaves answers 400 {"error": "query too
complex"}.  An engine error answers 500 with the fixed body {"error":
"internal error"}; the exception is logged on the server ("serve" logger).
"""

from __future__ import annotations

import argparse
import html as _html
import json
import logging
import sys
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

log = logging.getLogger("serve")

# Input limits, far above every benchmark and reference query (those have
# at most 39 characters, and a synonym-expanded word compiles to at most
# 65 leaves).  The character limit also bounds a tree's depth, so every
# accepted query compiles and ships to the kernels without deep recursion.
MAX_QUERY_CHARS = 256
MAX_QUERY_LEAVES = 256

# Page styling shared by the home and results pages, condensed from the
# reference's inline CSS (index.html / RootPlugin.h:126-195): centered
# .container on #f7f7f7, white result cards, #007BFF links, fixed logo.
_CSS = (
    "body{margin:0;font-family:'Segoe UI',Tahoma,Geneva,Verdana,sans-serif;"
    "background-color:#f7f7f7;display:flex;justify-content:center;"
    "padding:40px}.container{text-align:center;max-width:800px;width:100%}"
    "h1{font-size:2.5rem;margin-bottom:2rem}ul{list-style-type:none;"
    "padding:0}li{margin:15px 0;font-size:1.1rem;background:white;"
    "padding:15px 20px;border-radius:8px;"
    "box-shadow:0 2px 5px rgba(0,0,0,0.05)}"
    "a{text-decoration:none;color:#007BFF;display:block}"
    "a:hover{text-decoration:underline}"
    ".back-link{display:inline-block;margin-top:2rem;font-size:1rem;"
    "color:#007BFF;text-decoration:none}"
    "input[type=text]{padding:1rem 1.5rem;font-size:1.1rem;"
    "border:1px solid #ccc;border-radius:999px;outline:none;flex:1}"
    "form{display:flex;justify-content:center;gap:1rem;max-width:600px;"
    "margin:0 auto}button{padding:1rem 2rem;font-size:1rem;"
    "background-color:#007BFF;color:white;border:none;border-radius:999px;"
    "cursor:pointer}"
    ".logo{position:fixed;top:0;left:75px;width:200px;height:200px}"
)

LOGO_SVG = (
    '<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 100 100">'
    '<circle cx="42" cy="42" r="26" fill="none" stroke="#007BFF"'
    ' stroke-width="9"/>'
    '<line x1="61" y1="61" x2="86" y2="86" stroke="#007BFF"'
    ' stroke-width="11" stroke-linecap="round"/></svg>'
)


def _page(title: str, body: str) -> str:
    return (
        '<!DOCTYPE html><html lang="en"><head><meta charset="UTF-8" />'
        '<meta name="viewport" content="width=device-width,'
        ' initial-scale=1.0" />'
        f"<title>{title}</title><style>{_CSS}</style></head>"
        f'<body><div class="container">{body}</div></body></html>'
    )


def render_home_html() -> str:
    """Search form page — the reference's index.html:77-87 analogue."""
    return _page(
        "Search Engine",
        '<h1>Search Engine</h1>'
        '<img src="/logo.svg" alt="Logo" class="logo">'
        '<form action="/search" method="GET">'
        '<input type="text" name="q" placeholder="Search..." required />'
        "<button type=\"submit\">Search</button></form>",
    )


def render_results_html(results: list[dict]) -> str:
    """BuildSearchHTML parity (RootPlugin.h:124-214): a results page with
    one ``<li><a href=url target=_blank>title</a></li>`` per hit, in rank
    order, plus the logo and Back-to-Home link.  Escaping added (see
    module docstring)."""
    items = "".join(
        f'<li><a href="{_html.escape(r["url"], quote=True)}"'
        f' target="_blank">{_html.escape(r["title"] or r["url"])}</a></li>'
        for r in results
    )
    return _page(
        "Search Results",
        '<h1>Search Results</h1>'
        '<img src="/logo.svg" alt="Logo" class="logo">'
        '<a class="back-link" href="/">Back to Home</a><br>'
        f"<ul>{items}</ul>",
    )


def query_leaves(ast) -> int:
    """Leaves (words, phrases, prefixes) of a compiled query tree."""
    from search_engine_spark.plans.query_ast import And, Not, Or, OrSyn

    if isinstance(ast, (And, Or)):
        return query_leaves(ast.left) + query_leaves(ast.right)
    if isinstance(ast, Not):
        return query_leaves(ast.child)
    if isinstance(ast, OrSyn):
        return query_leaves(ast.original) + sum(
            query_leaves(s) for s in ast.synonyms)
    return 0 if ast is None else 1


def make_handler(engine, n_docs: int):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet
            pass

        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _send_raw(self, code: int, ctype: str, text: str) -> None:
            body = text.encode()
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _wants_html(self, qs: dict) -> bool:
            fmt = qs.get("format", [""])[0]
            if fmt:
                return fmt == "html"
            return "text/html" in self.headers.get("Accept", "")

        def do_GET(self):
            parsed = urllib.parse.urlparse(self.path)
            if parsed.path == "/healthz":
                self._send(200, {"status": "ok", "n_docs": n_docs})
                return
            if parsed.path == "/":
                self._send_raw(200, "text/html", render_home_html())
                return
            if parsed.path == "/logo.svg":
                self._send_raw(200, "image/svg+xml", LOGO_SVG)
                return
            if parsed.path != "/search":
                self._send(404, {"error": "unknown path"})
                return
            qs = urllib.parse.parse_qs(parsed.query)
            query = qs.get("q", [""])[0]
            if not query:
                self._send(400, {"error": "missing q"})
                return
            if len(query) > MAX_QUERY_CHARS:
                self._send(400, {"error": "query too long"})
                return
            try:
                k = max(1, min(100, int(qs.get("k", ["10"])[0])))
            except ValueError:
                self._send(400, {"error": "k must be an integer"})
                return
            try:
                from search_engine_spark.plans.query_ast import compile_query

                synonyms = qs.get("synonyms", ["0"])[0] in ("1", "true")
                if query_leaves(compile_query(query, synonyms=synonyms)) \
                        > MAX_QUERY_LEAVES:
                    self._send(400, {"error": "query too complex"})
                    return
                mode = qs.get("mode", ["bm25"])[0]
                kwargs = {}
                if mode == "static":
                    kwargs["static_mode"] = True
                elif mode == "dynamic":
                    kwargs["dynamic_mode"] = True
                elif mode != "bm25":
                    self._send(400, {"error": f"unknown mode {mode!r}"})
                    return
                site = qs.get("site", [""])[0]
                if site:
                    # site-scoped search (Lucene-filter semantics; see
                    # plans/wand.py _site_scoped)
                    kwargs["site"] = site
                rows = engine.search(query, k=k, synonyms=synonyms,
                                     **kwargs).collect()
                results = [
                    {"doc_id": r["doc_id"], "score": r["score"],
                     "url": r["url"], "title": r["title"]}
                    for r in rows
                ]
                if self._wants_html(qs):
                    self._send_raw(200, "text/html",
                                   render_results_html(results))
                else:
                    self._send(200, {"query": query, "results": results})
            except Exception:
                # engine errors → a generic 500; the exception text (plans,
                # paths, internals) goes to the server log, never the client
                log.exception("search failed: %r", query)
                self._send(500, {"error": "internal error"})

    return Handler


def serve(warehouse: str, port: int = 8080, master: str | None = None):
    """Build the engine once, return a ready-to-run HTTPServer (caller
    calls serve_forever(); tests drive it in a thread)."""
    from search_engine_spark.plans.wand import PackedQueryEngine
    from search_engine_spark.session import get_spark, ship_package
    from search_engine_spark.sources.catalog import IndexCatalog

    spark = get_spark("serve", master=master)
    ship_package(spark)
    spark.sparkContext.setLogLevel("WARN")
    cat = IndexCatalog(spark, warehouse)
    engine = PackedQueryEngine.from_catalog(cat)
    n_docs = engine.n_docs
    httpd = ThreadingHTTPServer(("127.0.0.1", port), make_handler(engine, n_docs))
    return httpd


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--port", type=int, default=8080)
    args = ap.parse_args()
    logging.basicConfig(
        format="%(asctime)s %(name)s %(levelname)s %(message)s")
    httpd = serve(args.warehouse, args.port)
    print(json.dumps({"job": "serve", "port": args.port, "status": "ready"}),
          flush=True)
    httpd.serve_forever()


if __name__ == "__main__":
    main()
