from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = (
        repo_root + os.pathsep + os.environ.get("PYTHONPATH", "")
    )
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("visigoth-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        .config("spark.io.compression.codec", "lz4")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def tiny_corpus():
    from visigoth_spark.corpus import generate_corpus

    return generate_corpus(64)


@pytest.fixture(scope="session")
def small_corpus():
    from visigoth_spark.corpus import generate_corpus

    return generate_corpus(1000)


@pytest.fixture(scope="session")
def tiny_corpus_path(tmp_path_factory):
    from visigoth_spark.corpus import write_corpus_parquet

    p = tmp_path_factory.mktemp("corpus") / "tiny.parquet"
    return write_corpus_parquet(str(p), 64)


class Crash(RuntimeError):
    """The injected failure of a CrashStore."""


def _crash_store_class():
    from visigoth_spark import storage as vstore

    class CrashStore(vstore.Store):
        """A Store with object-store semantics over a real one:
        ``write_atomic`` is one atomic PUT and ``rename`` is
        copy-then-delete. It raises :class:`Crash` once — at the ``k``-th
        mutating call, or at the first mutating call whose path contains
        ``match`` — with a crash point between a rename's copy and its
        delete. ``state["calls"]`` counts the mutating calls."""

        def __init__(self, inner, state):
            self.inner, self.state = inner, state

        def _step(self, path: str) -> None:
            st = self.state
            st["calls"] += 1
            if st["fired"]:
                return
            if (st["k"] is not None and st["calls"] == st["k"]) or (
                    st["match"] is not None and st["match"] in path):
                st["fired"] = True
                raise Crash(f"injected crash at call {st['calls']}: {path}")

        def exists(self, path):
            return self.inner.exists(path)

        def isdir(self, path):
            return self.inner.isdir(path)

        def listdir(self, path):
            return self.inner.listdir(path)

        def read_bytes(self, path):
            return self.inner.read_bytes(path)

        def getsize(self, path):
            return self.inner.getsize(path)

        def open_seekable(self, path):
            return self.inner.open_seekable(path)

        def local_path(self, path):
            return self.inner.local_path(path)

        def makedirs(self, path):
            self._step(path)
            self.inner.makedirs(path)

        def write_atomic(self, path, data):
            self._step(path)
            self.inner.write_atomic(path, data)

        def create_exclusive(self, path, data):
            self._step(path)
            return self.inner.create_exclusive(path, data)

        def remove(self, path):
            self._step(path)
            self.inner.remove(path)

        def rmtree(self, path):
            self._step(path)
            self.inner.rmtree(path)

        def _copy(self, src, dst):
            if self.inner.isdir(src):
                self.inner.makedirs(dst)
                for name in self.inner.listdir(src):
                    self._copy(vstore.join(src, name), vstore.join(dst, name))
            else:
                self.inner.write_atomic(dst, self.inner.read_bytes(src))

        def rename(self, src, dst):
            self.state["renames"] += 1
            self._step(dst)
            self.inner.rmtree(dst)
            self._copy(src, dst)
            self._step(src)
            if self.inner.isdir(src):
                self.inner.rmtree(src)
            else:
                self.inner.remove(src)

    return CrashStore


@pytest.fixture()
def crash_store(monkeypatch):
    """``with crash_store(k=3): op(...)`` runs ``op`` with every Store
    (``storage.get_store``) swapped for a CrashStore that crashes once at
    the 3rd mutating call (``match="snapshot-"``: at the first mutating
    call on such a path). The crash ends the ``with`` body like a killed
    writer and is swallowed there. Yields the state dict;
    ``state["calls"]`` is the number of mutating calls made,
    ``state["fired"]`` whether the crash happened."""
    import contextlib

    from visigoth_spark import storage as vstore

    cls = _crash_store_class()
    real = vstore.get_store

    @contextlib.contextmanager
    def patch(k=None, match=None):
        state = {"calls": 0, "renames": 0, "fired": False, "k": k,
                 "match": match}
        monkeypatch.setattr(
            vstore, "get_store",
            lambda path, spark=None: cls(real(path, spark), state))
        try:
            yield state
        except Crash:
            pass
        finally:
            monkeypatch.setattr(vstore, "get_store", real)

    return patch
