"""Runnable HTTP façade over the library API (O17).

The reference is a Flask app (``/root/reference/app.py:267-441``:
``GET /`` web UI, ``GET /health``, ``GET /config``, ``POST /search``).
This module frames the same four routes over :mod:`.api` with only the
standard library — the validation matrix, error strings, defaults and
status codes all live in ``api.search_request`` and are shared with
any other framing a deployment prefers.

Server-in-a-library shape: :func:`serve` binds and returns a
``ThreadingHTTPServer``; the caller decides the lifecycle (a CLI would
``serve_forever()``, tests run it on a background thread and shut it
down). The Spark driver hosting the engine is the natural process to
host this server — queries fan out to the cluster from here.
"""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from . import api

#: Functional counterpart of the reference's web UI
#: (``templates/index.html:244-470``): embedding/query input-mode
#: toggle, k (1..100) and index_tree_search_top_size (1..1000) knobs,
#: ranked results table (Rank/Score/ID/Title/Vendor/Description),
#: search-time readout, error banner, /health badge. Same request
#: body and the same field names; styling is deliberately plain.
INDEX_HTML = """<!doctype html>
<html><head><meta charset="utf-8"><title>Vector Search</title>
<style>
 body{font-family:sans-serif;max-width:900px;margin:2em auto;padding:0 1em}
 .row{display:flex;gap:20px} .hidden{display:none}
 label{display:block;margin:.6em 0 .2em;font-weight:bold}
 textarea,input[type=text]{width:100%} table{border-collapse:collapse;width:100%;margin-top:1em}
 th,td{border:1px solid #ccc;padding:4px 8px;text-align:left}
 #errorMessage{color:#b00;margin-top:1em} #healthBadge{float:right;font-weight:normal}
</style></head>
<body>
<h1>Vector Search <span id="healthBadge">...</span></h1>
<form id="searchForm">
  <label>Input Mode</label>
  <label><input type="radio" name="inputMode" value="embedding" checked> Embedding Vector</label>
  <label><input type="radio" name="inputMode" value="query"> Text Query</label>
  <div id="embeddingGroup">
    <label for="embedding">Embedding (JSON array of numbers)</label>
    <textarea id="embedding" rows="4" placeholder="[0.1, 0.2, 0.3, ...]"></textarea>
  </div>
  <div id="queryGroup" class="hidden">
    <label for="query">Query Text (converted to embedding via API)</label>
    <input type="text" id="query" placeholder="Enter search query...">
  </div>
  <div class="row">
    <div><label for="k">Number of Results (k)</label>
      <input type="number" id="k" value="10" min="1" max="100"></div>
    <div><label for="indexTreeSearchTopSize">Index Tree Search Top Size</label>
      <input type="number" id="indexTreeSearchTopSize" value="10" min="1" max="1000"></div>
  </div>
  <button type="submit">Search</button>
</form>
<div id="errorMessage" class="hidden"></div>
<p><span id="searchTime"></span> <span id="resultsCount"></span></p>
<div id="noResults" class="hidden">No results found</div>
<table id="resultsTable" class="hidden">
  <thead><tr><th>Rank</th><th>Score</th><th>ID</th><th>Title</th>
    <th>Vendor</th><th>Description</th></tr></thead>
  <tbody id="resultsBody"></tbody>
</table>
<script>
const $ = (id) => document.getElementById(id);
fetch('/health').then(r => r.json())
  .then(h => $('healthBadge').textContent = h.status === 'ok' ? '\\u2713' : '\\u2717')
  .catch(() => $('healthBadge').textContent = '\\u2717');
document.querySelectorAll('input[name=inputMode]').forEach(el =>
  el.addEventListener('change', (e) => {
    $('embeddingGroup').classList.toggle('hidden', e.target.value !== 'embedding');
    $('queryGroup').classList.toggle('hidden', e.target.value !== 'query');
  }));
$('searchForm').onsubmit = async (e) => {
  e.preventDefault();
  $('errorMessage').classList.add('hidden');
  const body = {k: parseInt($('k').value || '10'),
    index_tree_search_top_size: parseInt($('indexTreeSearchTopSize').value || '10')};
  try {
    const mode = document.querySelector('input[name=inputMode]:checked').value;
    if (mode === 'embedding') body.embedding = JSON.parse($('embedding').value);
    else body.query = $('query').value;
    const r = await fetch('/search', {method: 'POST',
      headers: {'Content-Type': 'application/json'}, body: JSON.stringify(body)});
    const data = await r.json();
    if (!r.ok) throw new Error(data.error || ('HTTP ' + r.status));
    $('searchTime').textContent = 'Search time: ' + data.search_time_ms.toFixed(1) + ' ms';
    $('resultsCount').textContent = data.count + ' results';
    $('noResults').classList.toggle('hidden', data.count > 0);
    $('resultsTable').classList.toggle('hidden', data.count === 0);
    $('resultsBody').innerHTML = '';
    data.results.forEach((row, i) => {
      const tr = document.createElement('tr');
      [i + 1, Number(row.score).toFixed(6), row.id, row.title, row.vendor,
       row.description].forEach(v => {
        const td = document.createElement('td');
        td.textContent = v === null || v === undefined ? '' : String(v);
        tr.appendChild(td);
      });
      $('resultsBody').appendChild(tr);
    });
  } catch (err) {
    $('errorMessage').textContent = err.message;
    $('errorMessage').classList.remove('hidden');
  }
};
</script>
</body></html>
"""


#: OpenAPI description of the four routes — the counterpart of the
#: flasgger docs page the reference's stack exposes (its
#: ``requirements.txt:4`` pulls flasgger, whose default UI lives at
#: ``/apidocs``). Served as JSON at /apispec.json and rendered by the
#: dependency-free HTML page at /apidocs.
API_SPEC: dict = {
    "openapi": "3.0.0",
    "info": {
        "title": "Vector Search API",
        "description": (
            "Vector similarity search over the 5-column store "
            "(id/title/vendor/description/embedding). Same routes, "
            "defaults, and error matrix as the reference service."
        ),
        "version": "1.0.0",
    },
    "paths": {
        "/health": {
            "get": {
                "summary": "Liveness probe",
                "responses": {"200": {"description": '{"status": "ok"}'}},
            }
        },
        "/config": {
            "get": {
                "summary": "Engine configuration echo",
                "responses": {
                    "200": {
                        "description": (
                            "source, table, search_strategy, index_enabled, "
                            "search_top_size, column mapping"
                        )
                    }
                },
            }
        },
        "/": {
            "get": {
                "summary": "Interactive search UI",
                "responses": {"200": {"description": "HTML page"}},
            }
        },
        "/stats": {
            "get": {
                "summary": "EXTENSION: dataset-card corpus summary",
                "responses": {
                    "200": {
                        "description": (
                            "n_docs, n_tokens, n_langs, n_sources, "
                            "dup_rate, mean_quality"
                        )
                    }
                },
            }
        },
        "/search": {
            "post": {
                "summary": "Vector similarity search",
                "requestBody": {
                    "required": True,
                    "content": {
                        "application/json": {
                            "schema": {
                                "type": "object",
                                "properties": {
                                    "embedding": {
                                        "type": "array",
                                        "items": {"type": "number"},
                                        "description": (
                                            "query vector (mutually exclusive "
                                            "with 'query')"
                                        ),
                                    },
                                    "query": {
                                        "type": "string",
                                        "description": (
                                            "text to embed via the external "
                                            "embedding API (mutually exclusive "
                                            "with 'embedding')"
                                        ),
                                    },
                                    "k": {
                                        "type": "integer",
                                        "default": 4,
                                        "minimum": 1,
                                        "description": "number of results",
                                    },
                                    "index_tree_search_top_size": {
                                        "type": "integer",
                                        "default": 10,
                                        "minimum": 1,
                                        "description": (
                                            "ANN search width (clusters/leaves "
                                            "read; ignored without an index)"
                                        ),
                                    },
                                    "filter": {
                                        "type": "object",
                                        "description": (
                                            "conjunctive equality filter on "
                                            "title/vendor/description; other "
                                            "keys are ignored"
                                        ),
                                    },
                                    "hybrid_terms": {
                                        "type": "array",
                                        "items": {"type": "string"},
                                        "description": (
                                            "EXTENSION: non-empty => BM25 + "
                                            "vector reciprocal-rank fusion; "
                                            "score becomes the RRF score "
                                            "(mutually exclusive with filter)"
                                        ),
                                    },
                                },
                            }
                        }
                    },
                },
                "responses": {
                    "200": {
                        "description": "results, count, search_time_ms"
                    },
                    "400": {"description": "validation error"},
                    "500": {
                        "description": (
                            "engine error (including filter with enabled "
                            "vector index in strict mode)"
                        )
                    },
                    "501": {"description": "embedding API URL not configured"},
                    "502": {"description": "embedding API request failed"},
                },
            }
        },
        "/search_batch": {
            "post": {
                "summary": (
                    "EXTENSION: batch vector search — many query embeddings "
                    "served by one batch ANN join (corpus scanned once per "
                    "request, not once per query)"
                ),
                "requestBody": {
                    "required": True,
                    "content": {
                        "application/json": {
                            "schema": {
                                "type": "object",
                                "properties": {
                                    "embeddings": {
                                        "type": "array",
                                        "items": {
                                            "type": "array",
                                            "items": {"type": "number"},
                                        },
                                        "description": (
                                            "1..256 query vectors; results "
                                            "align with input order"
                                        ),
                                    },
                                    "k": {
                                        "type": "integer",
                                        "default": 4,
                                        "minimum": 1,
                                    },
                                    "index_tree_search_top_size": {
                                        "type": "integer",
                                        "default": 10,
                                        "minimum": 1,
                                    },
                                },
                                "required": ["embeddings"],
                            }
                        }
                    },
                },
                "responses": {
                    "200": {
                        "description": (
                            "results (list of per-query result lists), "
                            "count, search_time_ms"
                        )
                    },
                    "400": {"description": "validation error"},
                    "500": {"description": "engine error"},
                },
            }
        },
    },
}

#: Minimal docs renderer: fetches /apispec.json and lays the routes
#: out as sections — no external assets (the container has no CDN).
APIDOCS_HTML = """<!doctype html>
<html><head><meta charset="utf-8"><title>API docs</title>
<style>
 body{font-family:sans-serif;max-width:900px;margin:2em auto;padding:0 1em}
 .route{border:1px solid #ccc;border-radius:4px;margin:1em 0;padding:.5em 1em}
 .method{font-weight:bold;text-transform:uppercase;margin-right:.5em}
 pre{background:#f6f6f6;padding:.5em;overflow-x:auto}
</style></head>
<body><h1>Vector Search API</h1><div id="routes">loading...</div>
<script>
fetch('/apispec.json').then(r => r.json()).then(spec => {
  const el = document.getElementById('routes');
  el.innerHTML = '';
  for (const [path, methods] of Object.entries(spec.paths)) {
    for (const [method, op] of Object.entries(methods)) {
      const div = document.createElement('div');
      div.className = 'route';
      const codes = Object.entries(op.responses || {})
        .map(([c, r]) => c + ': ' + r.description).join('\\n');
      const body = op.requestBody
        ? '\\nbody: ' + JSON.stringify(
            op.requestBody.content['application/json'].schema.properties,
            null, 2)
        : '';
      div.innerHTML = '<p><span class="method">' + method + '</span><code>'
        + path + '</code> — ' + (op.summary || '') + '</p><pre>'
        + codes + body + '</pre>';
      el.appendChild(div);
    }
  }
});
</script></body></html>
"""


#: the largest request body read, in bytes: a full /search_batch of
#: 4,096-d vectors at 24 bytes per JSON number. A longer body is
#: refused with 413 before it is read.
MAX_BODY_BYTES = api.MAX_BATCH_QUERIES * 4096 * 24


def make_handler(engine: api.VectorSearchEngine) -> type[BaseHTTPRequestHandler]:
    class Handler(BaseHTTPRequestHandler):
        # keep pytest output clean; real deployments override
        def log_message(self, fmt, *args):  # noqa: A002
            pass

        def _send_json(self, payload: dict, status: int) -> None:
            body = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 (stdlib naming)
            if self.path == "/health":
                self._send_json(*api.health())
            elif self.path == "/config":
                self._send_json(*api.config_echo(engine))
            elif self.path == "/apispec.json":
                self._send_json(API_SPEC, 200)
            elif self.path == "/stats":
                self._send_json(*api.corpus_stats(engine))
            elif self.path in ("/", "/index.html", "/apidocs"):
                html = APIDOCS_HTML if self.path == "/apidocs" else INDEX_HTML
                body = html.encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self._send_json({"error": "Not found"}, 404)

        def do_POST(self) -> None:  # noqa: N802
            if self.path not in ("/search", "/search_batch"):
                self._send_json({"error": "Not found"}, 404)
                return
            try:
                length = int(self.headers.get("Content-Length") or 0)
            except ValueError:
                length = -1
            if not 0 <= length <= MAX_BODY_BYTES:
                # the body stays unread, so the connection cannot be reused
                self.close_connection = True
                if length < 0:
                    self._send_json({"error": "Invalid Content-Length"}, 400)
                else:
                    self._send_json(
                        {"error": f"Request body exceeds {MAX_BODY_BYTES} bytes"}, 413
                    )
                return
            raw = self.rfile.read(length) if length else b""
            if not raw:
                data = None
            else:
                try:
                    data = json.loads(raw)
                except json.JSONDecodeError:
                    # Flask's get_json() failure path -> 400
                    self._send_json({"error": "Request body must be valid JSON"}, 400)
                    return
            if self.path == "/search_batch":
                self._send_json(*api.search_batch_request(engine, data))
            else:
                self._send_json(*api.search_request(engine, data))

    return Handler


def serve(
    engine: api.VectorSearchEngine, host: str = "127.0.0.1", port: int = 8080
) -> ThreadingHTTPServer:
    """Bind and return the server (port=0 picks a free port; see
    ``server.server_address``). Caller owns the lifecycle."""
    return ThreadingHTTPServer((host, port), make_handler(engine))


def main() -> None:
    """``python -m ydb_vector_search_simple_api_spark.http_server``
    [sf_dir] [port] — stand up the reference's HTTP surface over a
    local engine (the reference's startup flow, app.py:408-441:
    log config, probe connectivity, then serve)."""
    import sys

    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    port = int(sys.argv[2]) if len(sys.argv) > 2 else 8080
    spark = (
        SparkSession.builder.master("local[*]")
        .appName("svs-http")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    engine = api.VectorSearchEngine(spark=spark, sf_dir=sf_dir)
    if not engine.healthy():  # SELECT 1 probe, reference app.py:421-430
        print("connectivity probe failed", file=sys.stderr)
        raise SystemExit(1)
    server = serve(engine, host="127.0.0.1", port=port)
    print(f"serving on http://127.0.0.1:{server.server_address[1]} (sf_dir={sf_dir})")
    server.serve_forever()


if __name__ == "__main__":
    main()
