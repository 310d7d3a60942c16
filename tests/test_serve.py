"""Q9 HTTP entry: the serving job must answer /search with the same
results as a direct engine call (LinuxTinyServer/RootPlugin analogue)."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest


@pytest.fixture(scope="module")
def server(catalog):
    from http.server import ThreadingHTTPServer

    from jobs.serve import make_handler
    from search_engine_spark.plans.wand import PackedQueryEngine

    engine = PackedQueryEngine.from_catalog(catalog)
    httpd = ThreadingHTTPServer(
        ("127.0.0.1", 0), make_handler(engine, engine.n_docs)
    )
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}", engine
    httpd.shutdown()


def _get(url: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(url, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_healthz(server):
    base, engine = server
    code, body = _get(f"{base}/healthz")
    assert code == 200 and body["n_docs"] == engine.n_docs


def test_search_matches_engine(server):
    base, engine = server
    code, body = _get(f"{base}/search?q=search+engine&k=5")
    assert code == 200
    want = [
        (r["doc_id"], round(r["score"], 9), r["url"])
        for r in engine.search("search engine", k=5).collect()
    ]
    got = [(r["doc_id"], round(r["score"], 9), r["url"])
           for r in body["results"]]
    assert got == want


def test_search_site_scoped(server):
    """?site= restricts results to matching urls with unchanged scores
    (plans/wand.py _site_scoped, Lucene-filter semantics)."""
    base, engine = server
    full = [(r["url"], round(r["score"], 9))
            for r in engine.search("search engine",
                                   k=engine.n_docs).collect()]
    # pick the host of the top result as the site filter
    import urllib.parse as up

    host = up.urlparse(full[0][0]).netloc
    code, body = _get(f"{base}/search?q=search+engine&k=5&site={host}")
    assert code == 200
    want = [x for x in full if host in x[0]][:5]
    got = [(r["url"], round(r["score"], 9)) for r in body["results"]]
    assert got == want and got


def test_search_phrase_and_modes(server, oracle):
    base, _engine = server
    code, body = _get(f"{base}/search?q=%22search+engine%22&k=3")
    assert code == 200 and len(body["results"]) <= 3
    code, body = _get(f"{base}/search?q=search&k=3&mode=dynamic")
    assert code == 200
    want = [d for d, _s, _u, _t in oracle.topk_dynamic("search", k=3)]
    assert [r["doc_id"] for r in body["results"]] == want


def test_errors(server):
    base, _ = server
    assert _get(f"{base}/search")[0] == 400
    assert _get(f"{base}/search?q=x&mode=wat")[0] == 400
    assert _get(f"{base}/search?q=x&k=abc") == (
        400, {"error": "k must be an integer"})
    assert _get(f"{base}/nope")[0] == 404


def test_query_too_long(server):
    from jobs.serve import MAX_QUERY_CHARS

    base, _ = server
    q = "search" + " w" * (MAX_QUERY_CHARS // 2)
    assert len(q) > MAX_QUERY_CHARS
    assert _get(f"{base}/search?q={q.replace(' ', '+')}") == (
        400, {"error": "query too long"})


def test_query_too_complex(server):
    """A short query whose synonym expansion exceeds the leaf limit."""
    from jobs.serve import MAX_QUERY_CHARS, MAX_QUERY_LEAVES, query_leaves
    from search_engine_spark.plans.query_ast import compile_query

    base, _ = server
    per_word = query_leaves(compile_query("lin", synonyms=True))
    q = " ".join(["lin"] * (MAX_QUERY_LEAVES // per_word + 1))
    assert len(q) <= MAX_QUERY_CHARS
    url = f"{base}/search?q={q.replace(' ', '+')}"
    assert _get(url + "&synonyms=1") == (400, {"error": "query too complex"})
    # the same words without synonyms are a plain AND query
    assert _get(url)[0] == 200


def _get_raw(url: str, accept: str = "*/*") -> tuple[int, str, str]:
    req = urllib.request.Request(url, headers={"Accept": accept})
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status, r.headers.get("Content-Type", ""), r.read().decode()


def test_home_and_logo(server):
    """MagicPath parity (RootPlugin.h:41-43): '/', '/search?', '/logo.svg'."""
    base, _ = server
    code, ctype, body = _get_raw(f"{base}/")
    assert code == 200 and ctype == "text/html"
    assert 'action="/search"' in body and 'name="q"' in body
    code, ctype, body = _get_raw(f"{base}/logo.svg")
    assert code == 200 and ctype == "image/svg+xml" and "<svg" in body


def test_search_html_rendering(server):
    """BuildSearchHTML parity: rank-ordered <li><a href=url>title</a>."""
    base, engine = server
    want = engine.search("search engine", k=5).collect()
    # explicit format=html
    code, ctype, body = _get_raw(f"{base}/search?q=search+engine&k=5"
                                 "&format=html")
    assert code == 200 and ctype == "text/html"
    assert "<h1>Search Results</h1>" in body and "Back to Home" in body
    for r in want:
        assert f'href="{r["url"]}"' in body
    # rank order preserved in the markup
    posns = [body.index(f'href="{r["url"]}"') for r in want]
    assert posns == sorted(posns)
    # browser-style Accept negotiates HTML; format=json forces JSON back
    code, ctype, _ = _get_raw(f"{base}/search?q=search",
                              accept="text/html,application/xhtml+xml")
    assert code == 200 and ctype == "text/html"
    code, ctype, _ = _get_raw(f"{base}/search?q=search&format=json",
                              accept="text/html")
    assert code == 200 and ctype == "application/json"


def test_html_escaping():
    """Unlike RootPlugin.h:208 (raw concatenation), url/title are escaped."""
    from jobs.serve import render_results_html

    html = render_results_html([
        {"doc_id": 1, "score": 1.0,
         "url": 'http://x/?a=1&b="<script>',
         "title": "<script>alert(1)</script> & co"},
    ])
    assert "<script>" not in html
    assert "&lt;script&gt;alert(1)&lt;/script&gt; &amp; co" in html
    assert 'href="http://x/?a=1&amp;b=&quot;&lt;script&gt;"' in html


def test_engine_error_body_is_generic(caplog):
    """A failing engine answers 500 with a fixed body: the exception text
    is logged on the server and never reaches the client."""
    from http.server import ThreadingHTTPServer

    from jobs.serve import make_handler

    class Broken:
        def search(self, query, **kw):
            raise RuntimeError("secret: /warehouse/postings_packed broke")

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(Broken(), 0))
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with caplog.at_level("ERROR", logger="serve"):
            code, body = _get(
                f"http://127.0.0.1:{httpd.server_address[1]}/search?q=x")
    finally:
        httpd.shutdown()
        httpd.server_close()
    assert code == 500 and body == {"error": "internal error"}
    assert any(r.exc_info and "secret" in str(r.exc_info[1])
               for r in caplog.records)
