"""The artifact module: persisted indexes/stores and session memos are
keyed by their input files, params and builder module."""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile
import threading
import time
import types
import uuid
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from ydb_vector_search_simple_api_spark import artifacts
from ydb_vector_search_simple_api_spark.operators import index as ivf
from ydb_vector_search_simple_api_spark.sources import store

from conftest import SF_SMALL

ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    """A private ``tempfile.gettempdir()`` for the artifacts a test builds."""
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


@pytest.fixture
def corpus(tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "rows.txt").write_text("a\nb\n")
    return str(d)


def _write_marker(out: str) -> None:
    os.makedirs(out)
    Path(out, "x").write_text("built")


def test_rewritten_input_rebuilds_the_index(spark, tmp_path, tmp_root):
    import __spark_entry__ as E

    sf = tmp_path / "sf"
    sf.mkdir()
    for name in os.listdir(SF_SMALL):
        shutil.copyfile(os.path.join(SF_SMALL, name), sf / name)
    first = E._ivf_index(spark, str(sf))
    assert ivf._read_clusters(spark, first).count() == 500

    table = pq.read_table(sf / "embeddings.parquet")
    pq.write_table(table.slice(0, 200), sf / "embeddings.parquet")
    second = E._ivf_index(spark, str(sf))
    assert ivf._read_clusters(spark, second).count() == 200
    assert second.path != first.path
    assert E._ivf_index(spark, str(sf)).path == second.path


def test_table_grown_in_place_gets_a_fresh_scan(spark, tmp_path):
    """The session's scan of a table is keyed by the file's size and
    mtime, not only its path: a stale scan reads just the old file
    length of the grown file, so it misses the later row groups."""
    sf = tmp_path / "sf"
    sf.mkdir()
    table = pq.read_table(os.path.join(SF_SMALL, "embeddings.parquet"))
    pq.write_table(table.slice(0, 100), sf / "embeddings.parquet")
    assert store.load_embeddings(spark, str(sf)).count() == 100
    pq.write_table(table, sf / "embeddings.parquet", row_group_size=50)
    assert store.load_embeddings(spark, str(sf)).count() == 500


def _session(app):
    return types.SimpleNamespace(sparkContext=types.SimpleNamespace(applicationId=app))


def test_threads_asking_for_one_key_build_it_once(tmp_root, corpus):
    """8 threads (more than the test's cores) on one key, with a 1 µs
    switch interval: one build, one memo computation, one answer."""
    builds, memos, results = [], [], []
    barrier = threading.Barrier(8)
    spark = _session(f"app-{uuid.uuid4().hex}")

    def build(out):
        builds.append(out)
        time.sleep(0.2)
        _write_marker(out)

    def memo():
        memos.append(1)
        time.sleep(0.2)
        return object()

    def ask():
        barrier.wait()
        results.append((
            artifacts.persisted("stub", corpus, {}, build, lambda p: p),
            artifacts.session_memo(spark, "stub", corpus, {}, memo),
        ))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=ask) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1 and len(memos) == 1
    assert len(set(results)) == 1
    assert Path(results[0][0], "x").read_text() == "built"


def test_failed_build_publishes_nothing(tmp_root, corpus):
    def broken(out):
        _write_marker(out)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        artifacts.persisted("stub", corpus, {}, broken, lambda p: p)
    assert os.listdir(tmp_root) == []

    path = artifacts.persisted("stub", corpus, {}, _write_marker, lambda p: p)
    assert Path(path, "x").read_text() == "built"


def test_path_follows_tempdir_at_call_time(tmp_path, monkeypatch, corpus):
    paths = []
    for name in ("a", "b"):
        root = tmp_path / name
        root.mkdir()
        monkeypatch.setattr(tempfile, "tempdir", str(root))
        paths.append(artifacts.persisted("stub", corpus, {}, _write_marker, lambda p: p))
        assert os.path.dirname(paths[-1]) == str(root)
    assert all(os.path.isdir(p) for p in paths)


def test_key_covers_params_and_input_files(tmp_root, corpus):
    def ask(params):
        return artifacts.persisted("stub", corpus, params, _write_marker, lambda p: p)

    one = ask({"n": 1})
    assert ask({"n": 2}) != one
    Path(corpus, "rows.txt").write_text("a\nb\nc\n")
    assert ask({"n": 1}) != one


def test_vocab_memos_are_per_session(monkeypatch):
    """A restarted session must not get the dead one's checkpoint."""
    import __spark_entry__ as E

    class Trained:
        def __init__(self, app):
            self.app = app

        def localCheckpoint(self, eager):
            return self.app

    def train(spark, sf_dir, **kw):
        return Trained(spark.sparkContext.applicationId)

    monkeypatch.setattr(E.sp_unigram_mod, "unigram_lm_train", train)
    monkeypatch.setattr(E.wordpiece_mod, "wordpiece_vocab", train)

    a, b = (f"app-{uuid.uuid4().hex}" for _ in range(2))
    for helper in (E._unigram_vocab, E._wordpiece_vocab):
        assert helper(_session(a), SF_SMALL) == a
        assert helper(_session(b), SF_SMALL) == b
        assert helper(_session(a), SF_SMALL) == a


def test_artifact_paths_are_keyed_only_in_the_artifacts_module():
    """No module but ``artifacts.py`` names an artifact by hashing
    ``sf_dir``: the keying policy lives in one place."""
    by_sf_dir = re.compile(r"hashlib\.md5\(\s*(f?[\"'][^\"']*\{sf_dir\b|sf_dir\b)")
    package = ROOT / "ydb_vector_search_simple_api_spark"
    files = [ROOT / "__spark_entry__.py", *package.rglob("*.py")]
    offenders = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in files
        if p.name != "artifacts.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if by_sf_dir.search(line)
    ]
    assert offenders == []
