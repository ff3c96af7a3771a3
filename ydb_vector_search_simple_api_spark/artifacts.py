"""Persisted artifacts and session memos, keyed by what they are built from.

Every index, store and cached table the package keeps on disk goes
through :func:`persisted`; every per-session result it memoizes goes
through :func:`session_memo`. Both key an artifact by four things:

- its ``kind``;
- its ``params`` (JSON-able);
- the source bytes of the module that defines the builder callable
  (a ``functools.partial`` counts as the function it wraps);
- the listing of the input directory ``sf_dir``: relative name, size
  and ``mtime_ns`` of every file under it.

So a corpus rewritten in place, a new parameter or an edited builder
module gets a new artifact instead of a stale one. Code the builder
imports from other modules is not part of the key; an artifact built
from another artifact names that one's path in its ``params``.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import stat
import tempfile
import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

_LOCKS: dict[object, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()
#: (kind, sf_dir, params) -> (full key, value): one live entry per slot
_MEMO: dict[tuple[str, str, str], tuple[tuple[str, str], Any]] = {}


@functools.cache
def _source_digest(filename: str) -> str:
    with open(filename, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def listing(path: str) -> list[tuple[str, int, int]]:
    """(relative name, size, ``mtime_ns``) of every file under
    ``path``; a file lists itself, at the cost of one ``stat``."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return []
    if not stat.S_ISDIR(st.st_mode):
        return [(os.path.basename(path), st.st_size, st.st_mtime_ns)]
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            st = os.stat(p)
            out.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return out


def _key(kind: str, sf_dir: str, params: dict, builder: Callable) -> str:
    source = getattr(builder, "func", builder).__code__.co_filename
    blob = json.dumps(
        [kind, params, _source_digest(source), listing(sf_dir)],
        sort_keys=True,
        default=str,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _lock(key: object) -> threading.Lock:
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(key, threading.Lock())


def persisted(
    kind: str,
    sf_dir: str,
    params: dict,
    build: Callable[[str], Any],
    load: Callable[[str], Any],
) -> Any:
    """``load(path)`` of the artifact at
    ``tempfile.gettempdir()/svs_<kind>_<key>``, built first if absent.

    ``build(out)`` writes the artifact into the directory ``out``,
    which does not exist yet; it sits beside the final path and is
    renamed onto it only once ``build`` returns, so an existing
    directory is a complete artifact and a failed build publishes
    nothing. Threads asking for one key build it once."""
    path = os.path.join(
        tempfile.gettempdir(), f"svs_{kind}_{_key(kind, sf_dir, params, build)}"
    )
    if not os.path.isdir(path):
        with _lock(path):
            if not os.path.isdir(path):
                staging = tempfile.mkdtemp(
                    prefix=f"svs_building_{kind}_", dir=os.path.dirname(path)
                )
                try:
                    out = os.path.join(staging, "artifact")
                    build(out)
                    try:
                        os.replace(out, path)
                    except OSError:  # another process published it first
                        if not os.path.isdir(path):
                            raise
                finally:
                    shutil.rmtree(staging, ignore_errors=True)
    return load(path)


def session_memo(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    params: dict,
    fn: Callable[[], Any],
) -> Any:
    """``fn()``, computed once per Spark application and key (the
    :func:`persisted` key, held in memory). The application id keeps a
    restarted session from seeing a dead one's checkpoints.

    One entry is kept per (``kind``, ``sf_dir``, ``params``): a key
    that differs only in the input listing, the builder source or the
    application replaces the entry it supersedes, so a directory
    rewritten between calls does not pile up stale values."""
    key = (spark.sparkContext.applicationId, _key(kind, sf_dir, params, fn))
    slot = (kind, sf_dir, json.dumps(params, sort_keys=True, default=str))
    hit = _MEMO.get(slot)
    if hit is None or hit[0] != key:
        with _lock(slot):
            hit = _MEMO.get(slot)
            if hit is None or hit[0] != key:
                hit = _MEMO[slot] = (key, fn())
    return hit[1]
