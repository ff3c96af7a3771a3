"""API façade: the reference's HTTP surface re-expressed as an
engine-backed library (O13/O14/O15/O16/O17/O18).

``search_request`` reproduces the validation matrix and response shape
of ``POST /search`` (``/root/reference/app.py:281-390``) — same error
messages, same status codes, same defaults — over the Spark engine
instead of YDB. HTTP framing itself is deliberately out of the core
(SURVEY.md §7.0: library-first; any web framework can wrap these
functions in a dozen lines).

Status mapping (app.py:330-338, 349-354, 368-375, 388-390):
  400 validation, 501 embedding URL unset, 502 embedding API failure,
  500 anything else (including the filter x index rejection of
  app.py:170-172 in strict compat mode).
"""

from __future__ import annotations

import copy
import json
import os
import threading
import time
import urllib.error
import urllib.request
from collections import OrderedDict
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_SEARCH_TOP_SIZE, SearchConfig
from .operators import bq as bq_mod
from .operators import graphann as gann_mod
from .operators import opq as opq_mod
from .operators import sq as sq_mod
from .operators import index as ivf_mod
from .operators import tree as tree_mod
from .operators.search import (
    exact_topk,
    filtered_doc_ids,
    knn_join_blocked_arrays,
    shortlist_search,
)
from .sources.store import doc_metadata, load_embeddings


def get_query_embedding(
    query: str, api_url: str | None = None, timeout: float = 30.0
) -> list[float]:
    """Text -> embedding via external HTTP API (O13; app.py:105-154).

    Same contract: POST ``{"TextSegments": {"query": q}}``, expect
    ``{"Embedding": [...]}``; ValueError if the URL is unconfigured,
    RuntimeError on transport/response failures.
    """
    url = api_url or os.environ.get("EMBEDDING_API_URL", "")
    if not url:
        raise ValueError(
            "EMBEDDING_API_URL is not configured. "
            "Please set it in .env file or provide 'embedding' parameter directly."
        )
    payload = json.dumps({"TextSegments": {"query": query}}).encode()
    req = urllib.request.Request(
        url, data=payload, headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            data = json.loads(resp.read())
    except (urllib.error.URLError, OSError, json.JSONDecodeError) as e:
        raise RuntimeError(f"Embedding API request failed: {e}") from e
    embedding = data.get("Embedding")
    if embedding is None:
        raise RuntimeError("API response does not contain 'Embedding' key")
    if not isinstance(embedding, list):
        raise RuntimeError(f"Expected embedding to be a list, got {type(embedding)}")
    return embedding


@dataclass
class VectorSearchEngine:
    """The engine behind the API: exact search by default, index-pruned
    when ``config.index_enabled`` and an index is attached. Both index
    shapes serve: the flat IVF (``operators.index.IvfIndex``) and the
    YDB-shaped two-level k-means tree
    (``operators.tree.KmeansTreeIndex``, the hierarchy the reference's
    ``vector_kmeans_tree`` secondary index has — app.py:193-196) —
    plus the compressed-code tables — sign-bit BQ
    (``operators.bq.BqIndex``) and int8 SQ
    (``operators.sq.SqIndex``) and learned-rotation OPQ
    (``operators.opq.OpqIndex``) — whose width knob is the rerank
    shortlist size (documented divergence: not a cluster count) — and
    the graph-ANN k-NN-graph (``operators.graphann.GraphAnnIndex``),
    whose width knob is the beam width."""

    spark: SparkSession
    sf_dir: str
    config: SearchConfig = field(default_factory=SearchConfig)
    index: (
        ivf_mod.IvfIndex
        | tree_mod.KmeansTreeIndex
        | bq_mod.BqIndex
        | sq_mod.SqIndex
        | opq_mod.OpqIndex
        | gann_mod.GraphAnnIndex
        | None
    ) = None
    #: pluggable text embedder (tests inject a fake; prod uses O13)
    embed_fn: Callable[[str], list[float]] | None = None
    #: persisted BM25 postings/stats for the hybrid path; when set,
    #: POST /search with hybrid_terms reads the index instead of
    #: recomputing corpus statistics per request
    #: (operators.ranking.build_lexical_index)
    lexical_index: object | None = None
    #: >0 enables an LRU memo of (embedding, k, filter, width) ->
    #: results for repeated hot queries (the store is immutable per
    #: engine instance by contract; call clear_result_cache() after
    #: upserts/deletes or build a fresh engine)
    result_cache_size: int = 0
    _result_cache: OrderedDict = field(
        default_factory=OrderedDict, init=False, repr=False
    )
    #: guards every read-modify-write of ``_result_cache``: the HTTP
    #: server runs requests on concurrent threads
    _cache_lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    def embed(self, query: str) -> list[float]:
        fn = self.embed_fn or get_query_embedding
        return fn(query)

    def search(
        self,
        embedding: list[float],
        k: int,
        filter: dict | None = None,
        search_top_size: int | None = None,
    ):
        """Returns (results: list[dict], seconds). Mirrors
        execute_search (app.py:230-264) incl. the strict-mode
        filter x index rejection (app.py:170-172)."""
        t0 = time.perf_counter()
        key = None
        if self.result_cache_size > 0:
            key = (
                tuple(float(x) for x in embedding),
                k,
                tuple(sorted((filter or {}).items())),
                search_top_size,
            )
            with self._cache_lock:
                hit = self._result_cache.get(key)
                if hit is not None:
                    self._result_cache.move_to_end(key)
            if hit is not None:
                # deep copy: callers may mutate the result dicts (the
                # cached list itself is never mutated, so no lock)
                return copy.deepcopy(hit), time.perf_counter() - t0
        df = self.search_df(embedding, k, filter, search_top_size)
        # at most k rows on every shape, also when an id has two
        # documents rows
        results = self._with_metadata(df.collect())[:k]
        if key is not None:
            cached = copy.deepcopy(results)
            with self._cache_lock:
                self._result_cache[key] = cached
                while len(self._result_cache) > self.result_cache_size:
                    self._result_cache.popitem(last=False)
        return results, time.perf_counter() - t0

    def clear_result_cache(self) -> None:
        """Drop the memoized results — call after upserts/deletes
        change what a query should return."""
        with self._cache_lock:
            self._result_cache.clear()

    def search_df(
        self,
        embedding: list[float],
        k: int,
        filter: dict | None = None,
        search_top_size: int | None = None,
    ):
        """The un-collected ranked (id, score) top-k behind
        :meth:`search`, ordered by score in the strategy's direction and
        then by id. :meth:`search` collects it and attaches each id's
        ``documents`` metadata on the driver (``store.doc_metadata``),
        so an unfiltered plan reads no ``documents`` file and a filtered
        one reads ``documents`` only for the filter's id set."""
        if self._indexed:
            if filter and self.config.strict_filter_index_exclusion:
                raise ValueError("Unable to use filter with enabled vector index.")
            # non-strict mode (config.py strict_filter_index_exclusion=
            # False): the filter IS honored — applied to the pruned
            # candidate set before scoring, as documented. The filtered
            # id set semi-joins into the index scan (same pattern as
            # exact_search's filtered path).
            flt_ids = (
                filtered_doc_ids(
                    self.spark, self.sf_dir, filter, self.config.columns
                )
                if filter
                else None
            )
            width = search_top_size or self.config.search_top_size
            if hasattr(self.index, "shortlist"):
                # for the code layouts (BQ sign bits, SQ int8,
                # rotated-ADC OPQ) the search width IS the rerank
                # shortlist (>= corpus => exact); candidates rerank
                # against the full-precision store vectors
                return shortlist_search(
                    self.spark,
                    self.index,
                    load_embeddings(self.spark, self.sf_dir).selectExpr(
                        "vec_id AS id", "embedding"
                    ),
                    embedding,
                    k=k,
                    strategy=self.config.strategy,
                    shortlist=width,
                    filter_ids=flt_ids,
                )
            if isinstance(self.index, gann_mod.GraphAnnIndex):
                # graph shape: the width knob is the BEAM (>= corpus
                # => exact, the shared O3 contract); candidates
                # re-rank exactly against the store vectors
                src = load_embeddings(self.spark, self.sf_dir).selectExpr(
                    "vec_id AS id", "embedding"
                )
                return gann_mod.graphann_search(
                    self.spark,
                    self.index,
                    src,
                    embedding,
                    k=k,
                    strategy=self.config.strategy,
                    beam=width,
                    filter_ids=flt_ids,
                )
            if isinstance(self.index, tree_mod.KmeansTreeIndex):
                return tree_mod.tree_search(
                    self.spark,
                    self.index,
                    embedding,
                    k=k,
                    strategy=self.config.strategy,
                    search_top_size=width,
                    filter_ids=flt_ids,
                )
            return ivf_mod.ivf_search(
                self.spark,
                self.index,
                embedding,
                k=k,
                strategy=self.config.strategy,
                search_top_size=width,
                filter_ids=flt_ids,
            )
        return exact_topk(
            self.spark,
            self.sf_dir,
            embedding,
            k=k,
            strategy=self.config.strategy,
            filter=filter,
            columns=self.config.columns,
        )

    def search_hybrid(
        self,
        embedding: list[float],
        terms: list[str],
        k: int,
        pool: int = 50,
        kk: int = 60,
    ):
        """EXTENSION (not in the reference's surface): hybrid retrieval
        — reciprocal-rank fusion of BM25 over the documents' text and
        the engine's vector top-k (operators/ranking.py). Returns the
        reference's 5-column rows with ``score`` = the RRF score.
        Exact search only (index knobs don't apply to the lexical
        half); strict/non-strict filter semantics are unchanged — the
        hybrid path takes no filter."""
        t0 = time.perf_counter()
        df = self.search_hybrid_df(embedding, terms, k, pool=pool, kk=kk)
        return self._with_metadata(df.collect()), time.perf_counter() - t0

    def search_hybrid_df(
        self,
        embedding: list[float],
        terms: list[str],
        k: int,
        pool: int = 50,
        kk: int = 60,
    ):
        """The un-collected (id, score) fusion behind
        :meth:`search_hybrid`, ``score`` = the RRF score, best first."""
        from .operators import ranking as ranking_mod

        fused = ranking_mod.hybrid_rrf_topk(
            self.spark,
            self.sf_dir,
            embedding,
            terms=terms,
            k=k,
            pool=pool,
            kk=kk,
            strategy=self.config.strategy,
            lexical_index=self.lexical_index,
        )
        return fused.selectExpr("doc_id AS id", "rrf AS score").orderBy(
            F.desc("score"), F.asc("id")
        )

    def search_batch(
        self,
        embeddings: list[list[float]],
        k: int,
        search_top_size: int | None = None,
    ):
        """EXTENSION: one request, many query vectors — routed through
        the BATCH ANN machinery instead of N sequential top-k scans
        (the corpus is read once for the whole batch). Returns
        (results: list[list[dict]] aligned with the input order,
        seconds). No filter on the batch surface; the library layer
        has the filtered batch join (index.ivf_knn_join_filtered)."""
        t0 = time.perf_counter()
        df = self.search_batch_df(embeddings, k, search_top_size)
        by_q: dict[int, list[dict]] = {i: [] for i in range(len(embeddings))}
        for r in self._with_metadata(df.collect(), "query_id", "rank"):
            by_q[r.pop("query_id")].append(r)
        results = [
            sorted(by_q[i], key=lambda d: d["rank"])
            for i in range(len(embeddings))
        ]
        return results, time.perf_counter() - t0

    def search_batch_df(
        self,
        embeddings: list[list[float]],
        k: int,
        search_top_size: int | None = None,
    ):
        """The un-collected (query_id, id, score, rank) relation behind
        :meth:`search_batch`, before any metadata. IVF- and tree-indexed
        engines hand the batch, as one matrix, to the pruned
        routed-blocked join; otherwise the exact BLAS-blocked join
        (``search.knn_join_blocked_arrays``) scores it against the whole
        corpus. Either way the vectors go from the request to the join
        without a Spark round trip."""
        from pyspark.sql import types as T

        index = self.index if self.config.index_enabled else None
        if isinstance(index, (ivf_mod.IvfIndex, tree_mod.KmeansTreeIndex)):
            # a vector of another dimension than the index's gets no rows
            pos, Q = ivf_mod.query_matrix(embeddings, index.dim)
            join = (
                ivf_mod.ivf_knn_join_routed_blocked_arrays
                if isinstance(index, ivf_mod.IvfIndex)
                else tree_mod.tree_knn_join_routed_blocked_arrays
            )
            return join(
                self.spark,
                index,
                pos,
                Q,
                k=k,
                strategy=self.config.strategy,
                search_top_size=search_top_size or self.config.search_top_size,
                query_id_type=T.LongType(),
            )
        return knn_join_blocked_arrays(
            self.spark,
            list(range(len(embeddings))),
            embeddings,
            load_embeddings(self.spark, self.sf_dir).selectExpr(
                "vec_id AS id", "embedding"
            ),
            k=k,
            strategy=self.config.strategy,
            query_id_type=T.LongType(),
        )

    @property
    def _indexed(self) -> bool:
        return self.config.index_enabled and self.index is not None

    def _with_metadata(self, rows: list, *extra: str) -> list[dict]:
        """Result dicts for ranked rows with ``id`` and ``score`` (and
        the ``extra`` fields): each row once per ``documents`` row of its
        id, in the order of ``rows``, so an id without a row drops out.
        The metadata is one driver-side point read of the rows' ids."""
        meta = doc_metadata(
            self.spark, self.sf_dir, self.config.columns, [r.id for r in rows]
        )
        return [
            {
                "id": r.id,
                "title": title,
                "vendor": vendor,
                "description": description,
                "score": r.score,
                **{c: r[c] for c in extra},
            }
            for r in rows
            for title, vendor, description in meta.get(r.id, ())
        ]

    def healthy(self) -> bool:
        """Connectivity probe: SELECT 1 (O16; app.py:89-102)."""
        try:
            return self.spark.sql("SELECT 1 AS test").collect()[0].test == 1
        except Exception:
            return False


def health() -> tuple[dict, int]:
    """GET /health (app.py:274-278) — static, does not re-probe."""
    return {"status": "ok"}, 200


def config_echo(engine: VectorSearchEngine) -> tuple[dict, int]:
    """GET /config (app.py:393-405)."""
    c = engine.config
    return (
        {
            "source": engine.sf_dir,
            "table": "documents+embeddings",
            "search_strategy": c.strategy,
            "index_enabled": c.index_enabled,
            "search_top_size": c.search_top_size,
            "columns": c.columns.__dict__,
        },
        200,
    )


def search_request(engine: VectorSearchEngine, data: dict | None) -> tuple[dict, int]:
    """POST /search semantics, exactly as app.py:314-390."""
    try:
        if not data:
            return {"error": "Request body is required"}, 400

        has_embedding = "embedding" in data
        has_query = "query" in data
        if not has_embedding and not has_query:
            return {"error": "Either 'embedding' or 'query' field is required"}, 400
        if has_embedding and has_query:
            return {"error": "Provide either 'embedding' or 'query', not both"}, 400

        if has_query:
            query_text = data["query"]
            if not isinstance(query_text, str) or not query_text.strip():
                return {"error": "query must be a non-empty string"}, 400
            try:
                embedding = engine.embed(query_text)
            except ValueError as e:
                return {"error": str(e)}, 501
            except RuntimeError as e:
                return {"error": str(e)}, 502
        else:
            embedding = data["embedding"]
            if not isinstance(embedding, list):
                return {"error": "embedding must be a list of floats"}, 400

        k = data.get("k", 4)
        top_size = data.get("index_tree_search_top_size", DEFAULT_SEARCH_TOP_SIZE)
        filter_params = data.get("filter", None)
        if filter_params and data.get("hybrid_terms") is not None:
            # the extension combination is rejected BEFORE the strict
            # filter×index check: the hybrid path never touches the
            # index, so the reference's 500 would be wrong here
            return {"error": "hybrid_terms cannot be combined with filter"}, 400
        if filter_params:
            # strict rejection happens on the RAW filter dict: the
            # reference raises (-> 500) for ANY truthy filter when the
            # index is enabled, even one holding only unknown keys
            # (app.py:170-172 runs before the key read at 176-181)
            if (
                engine.config.index_enabled
                and engine.index is not None
                and engine.config.strict_filter_index_exclusion
            ):
                return {"error": "Unable to use filter with enabled vector index."}, 500
            # the reference reads only these three keys and silently
            # ignores the rest (app.py:176-181); the engine itself is
            # strict, so mirror the lenient HTTP semantics here
            filter_params = {
                key: v
                for key, v in filter_params.items()
                if key in ("title", "vendor", "description")
            } or None

        if not isinstance(k, int) or isinstance(k, bool) or k <= 0:
            return {"error": "k must be a positive integer"}, 400
        if not isinstance(top_size, int) or isinstance(top_size, bool) or top_size <= 0:
            return {"error": "index_tree_search_top_size must be a positive integer"}, 400

        # EXTENSION field (absent from the reference; ignored-if-absent
        # so the reference's whole request surface is unchanged):
        # "hybrid_terms": [str, ...] switches to BM25⊕vector RRF.
        hybrid_terms = data.get("hybrid_terms")
        if hybrid_terms is not None:
            if (
                not isinstance(hybrid_terms, list)
                or not hybrid_terms
                or not all(isinstance(t, str) and t.strip() for t in hybrid_terms)
            ):
                return {
                    "error": "hybrid_terms must be a non-empty list of non-empty strings"
                }, 400
            if filter_params:
                return {"error": "hybrid_terms cannot be combined with filter"}, 400
            results, seconds = engine.search_hybrid(embedding, hybrid_terms, k)
            return (
                {
                    "results": results,
                    "count": len(results),
                    "search_time_ms": seconds * 1000,
                },
                200,
            )

        results, seconds = engine.search(embedding, k, filter_params, top_size)
        return (
            {
                "results": results,
                "count": len(results),
                "search_time_ms": seconds * 1000,
            },
            200,
        )
    except Exception as e:  # catch-all -> 500 (app.py:388-390)
        return {"error": str(e)}, 500


MAX_BATCH_QUERIES = 256


def search_batch_request(
    engine: VectorSearchEngine, data: dict | None
) -> tuple[dict, int]:
    """POST /search_batch (EXTENSION — not a reference route): many
    query embeddings in one request, served by the batch ANN join so
    the corpus is scanned once per request, not once per query.
    Validation mirrors /search's style; the batch surface takes no
    filter and no text queries (embedding-only)."""
    try:
        if not data:
            return {"error": "Request body is required"}, 400
        embs = data.get("embeddings")
        if not isinstance(embs, list) or not embs:
            return {"error": "embeddings must be a non-empty list of vectors"}, 400
        if len(embs) > MAX_BATCH_QUERIES:
            return {
                "error": f"at most {MAX_BATCH_QUERIES} embeddings per request"
            }, 400
        if not all(isinstance(v, list) and v for v in embs):
            return {"error": "each embedding must be a non-empty list"}, 400
        if "filter" in data and data["filter"]:
            return {"error": "filter is not supported on the batch surface"}, 400
        k = data.get("k", 4)
        if not isinstance(k, int) or isinstance(k, bool) or k <= 0:
            return {"error": "k must be a positive integer"}, 400
        top_size = data.get("index_tree_search_top_size", DEFAULT_SEARCH_TOP_SIZE)
        if not isinstance(top_size, int) or isinstance(top_size, bool) or top_size <= 0:
            return {"error": "index_tree_search_top_size must be a positive integer"}, 400
        results, seconds = engine.search_batch(embs, k, top_size)
        return (
            {
                "results": results,
                "count": len(results),
                "search_time_ms": seconds * 1000,
            },
            200,
        )
    except Exception as e:  # same catch-all contract as /search
        return {"error": str(e)}, 500


def corpus_stats(engine: VectorSearchEngine) -> tuple[dict, int]:
    """GET /stats (EXTENSION — not a reference route): the dataset-card
    summary of the corpus behind the engine
    (``operators.curation.dataset_card``)."""
    from .operators.curation import dataset_card

    try:
        row = dataset_card(engine.spark, engine.sf_dir).collect()[0]
        return row.asDict(), 200
    except Exception as e:  # mirror the catch-all contract
        return {"error": str(e)}, 500
