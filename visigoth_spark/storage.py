"""Index-storage abstraction: the same index layout on POSIX paths AND on
any filesystem Spark's Hadoop layer can reach (hdfs://, s3a://, gs://,
abfs://, file://, ...).

Why this exists: the data planes (corpus scan, segment/docmap parquet,
termdict) always go through Spark readers/writers, which already speak
every Hadoop scheme. What does NOT are the control-plane pieces — snapshot
commits, GC of unreferenced batch dirs and sidecar versions, parquet-footer
sweeps for the per-file ranges, the writer lock. Those were POSIX-only
(`os.makedirs` / `os.replace` / `open()`), so an index at
``s3a://bucket/idx/main`` (the CLI's own example) could be *read* as corpus
input but never *written*. Every such call now routes through a ``Store``.

Two implementations:

- ``LocalStore`` — plain-path indexes; byte-identical to the previous
  direct os/shutil behavior (os.replace manifest commits stay POSIX-atomic).
- ``HadoopStore`` — URI indexes, via the live Spark JVM's
  ``org.apache.hadoop.fs.FileSystem`` (py4j). No extra Python deps; the
  cluster's own connector jars (s3a committers, hdfs, abfs) do the I/O.
  Used for ``file://`` URIs too, so the whole non-POSIX code path is
  exercisable (and tested) without an object store in the loop.

A commit is ONE new file (``_manifests/snapshot-<n>.json``, build.py) whose
name no earlier commit used: it replaces nothing, so no store needs an
atomic rename or a pre-delete for it, and readers never observe a window
where the current snapshot is absent. Per scheme, ``write_atomic`` makes
that one file appear complete:

- LocalStore: tmp file + ``os.replace`` (POSIX-atomic rename).
- HadoopStore on rename-atomic filesystems (hdfs, file): tmp file +
  ``FileSystem.rename`` — readers see no file or the complete one, never a
  partial one. (Replacing an EXISTING destination pre-deletes it, so a
  reader could observe absence; snapshot commits never replace.)
- HadoopStore on object stores (s3a/s3/gs/abfs/oss/wasb): ONE
  ``create(overwrite=true)`` PUT — a single-object PUT is atomic on S3/GCS/
  ABFS (readers see old or new, never partial), while tmp+rename would be a
  non-atomic server-side COPY+DELETE costing more and guaranteeing less.

``create_exclusive`` (the writer lock): O_EXCL locally, and
``FileSystem.create(path, overwrite=false)`` on Hadoop — atomic on HDFS,
best-effort on S3A (its create is check-then-act); single-writer
coordination on S3 should pair this with an external lease, which is why
the lock is advisory-with-clear-error rather than load-bearing for
correctness (manifest commits stay idempotent regardless).

Driver-local fast paths (pyarrow reads of termdict/segments/docmap in
query.py) need a locally readable path; ``Store.local_path`` returns one
for plain paths and ``file://`` URIs and ``None`` otherwise — callers fall
back to the distributed route, which is the right split anyway (the
driver-local route exists to dodge job-scheduling latency on small local
serving, not to stream an object store through the driver).
"""

from __future__ import annotations

import io
import json
import os
import re
import shutil
import uuid

# schemes where a single-object overwrite-PUT is atomic and rename is a
# non-atomic copy: commit via direct create(overwrite) instead of rename
_OBJECT_STORE_SCHEMES = frozenset(
    {"s3a", "s3", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss",
     "cos", "swift"}
)


_URI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]+:/")


def is_uri(path: str) -> bool:
    """True for scheme-qualified paths — BOTH the ``scheme://authority/…``
    form and Hadoop's normalized single-slash ``scheme:/path`` form
    (``org.apache.hadoop.fs.Path.toString()`` drops the empty authority, so
    ``file:///x`` comes back as ``file:/x``). Routing the single-slash form
    to LocalStore would make ``os.makedirs`` create a RELATIVE ``file:/…``
    directory under cwd — wrong store, litter, and a crash on read-only
    cwd. The scheme must be >= 2 chars: single letters are Windows drive
    designators, explicitly out of scope here (module docstring)."""
    return bool(_URI_RE.match(path))


def get_store(path: str, spark=None) -> "Store":
    """Pick the store for ``path``: plain paths -> LocalStore; URIs ->
    HadoopStore bound to the active Spark JVM (required — the Hadoop
    connector jars live there)."""
    if not is_uri(path):
        return LocalStore()
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"a SparkSession is required to access {path!r} "
                f"(Hadoop FileSystem lives in the Spark JVM)"
            )
    return HadoopStore(spark, path)


def join(base: str, *parts: str) -> str:
    """Path join that works for both plain paths and URIs (no drive-letter
    semantics in scope; '/' separators throughout)."""
    out = base.rstrip("/")
    for p in parts:
        out = f"{out}/{p.strip('/')}" if p else out
    return out


def relpath(path: str, root: str) -> str:
    """Prefix-strip relpath that is URI-safe (posixpath.relpath would run
    abspath over a URI and mangle it). ``path`` must live under ``root``."""
    root = root.rstrip("/") + "/"
    if not path.startswith(root):
        raise ValueError(f"{path!r} is not under {root!r}")
    return path[len(root):]


class Store:
    """Control-plane filesystem surface for one index root."""

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Child NAMES (not paths), sorted."""
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def write_atomic(self, path: str, data: bytes) -> None:
        """Commit primitive: after this returns, readers see the complete
        new content; before, the old content or (narrow window on
        rename-based stores when replacing) absence — never a partial."""
        raise NotImplementedError

    def remove(self, path: str) -> None:
        raise NotImplementedError

    def rmtree(self, path: str) -> None:
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        raise NotImplementedError

    def getsize(self, path: str) -> int:
        raise NotImplementedError

    def create_exclusive(self, path: str, data: bytes) -> bool:
        """Create iff absent. True on success, False when it already
        exists. Atomic on POSIX/HDFS; best-effort on S3-like stores."""
        raise NotImplementedError

    def open_seekable(self, path: str):
        """Seekable binary file-like (for pyarrow footer reads)."""
        raise NotImplementedError

    def local_path(self, path: str) -> str | None:
        """POSIX path when the bytes are directly readable by local
        libraries (pyarrow), else None."""
        raise NotImplementedError

    # ---- shared JSON helpers ------------------------------------------------
    def read_json(self, path: str) -> dict:
        return json.loads(self.read_bytes(path).decode("utf-8"))

    def write_json_atomic(self, path: str, obj: dict, indent=2) -> None:
        self.write_atomic(path, json.dumps(obj, indent=indent).encode())


class LocalStore(Store):
    """Plain-path store — the exact os/shutil semantics the index layout
    was built on (manifest commits via POSIX-atomic os.replace)."""

    def exists(self, path):
        return os.path.exists(path)

    def isdir(self, path):
        return os.path.isdir(path)

    def listdir(self, path):
        return sorted(os.listdir(path))

    def makedirs(self, path):
        os.makedirs(path, exist_ok=True)

    def read_bytes(self, path):
        with open(path, "rb") as f:
            return f.read()

    def write_atomic(self, path, data):
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def remove(self, path):
        os.remove(path)

    def rmtree(self, path):
        shutil.rmtree(path, ignore_errors=True)

    def rename(self, src, dst):
        # contract (matches HadoopStore): dst is REPLACED. os.replace is
        # atomic for files and empty-dir targets; a non-empty dir target
        # is pre-deleted (non-atomic, same as Hadoop's delete+rename —
        # every in-repo caller that needs atomicity clears dst itself)
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        os.replace(src, dst)

    def getsize(self, path):
        return os.path.getsize(path)

    def create_exclusive(self, path, data):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        return True

    def open_seekable(self, path):
        return open(path, "rb")

    def local_path(self, path):
        return path


class HadoopStore(Store):
    """URI store over the Spark JVM's Hadoop FileSystem (py4j). One
    FileSystem handle per (scheme, authority) — Hadoop caches them
    internally, so construction is cheap."""

    def __init__(self, spark, sample_path: str):
        self._jvm = spark._jvm
        self._jsc = spark._jsc
        self._conf = spark._jsc.hadoopConfiguration()
        uri = self._jvm.java.net.URI(sample_path)
        self.scheme = uri.getScheme() or "file"
        self._fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(
            uri, self._conf)
        self._object_store = self.scheme in _OBJECT_STORE_SCHEMES

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def exists(self, path):
        return bool(self._fs.exists(self._p(path)))

    def isdir(self, path):
        p = self._p(path)
        return bool(self._fs.exists(p)
                    and self._fs.getFileStatus(p).isDirectory())

    def listdir(self, path):
        if not self.exists(path):
            # match os.listdir semantics: callers catch
            # FileNotFoundError, not wrapped Java exceptions
            raise FileNotFoundError(path)
        sts = self._fs.listStatus(self._p(path))
        return sorted(st.getPath().getName() for st in sts)

    def makedirs(self, path):
        self._fs.mkdirs(self._p(path))

    def read_bytes(self, path):
        if not self.exists(path):
            raise FileNotFoundError(path)
        stream = self._fs.open(self._p(path))
        try:
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(
                stream)
            return bytes(data)
        finally:
            stream.close()

    def _write(self, path, data, overwrite):
        out = self._fs.create(self._p(path), overwrite)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def write_atomic(self, path, data):
        if self._object_store:
            # single-object PUT: atomic on S3/GCS/ABFS; rename there is a
            # non-atomic COPY+DELETE — strictly worse
            self._write(path, data, overwrite=True)
            return
        # rename-atomic filesystems (hdfs, file): tmp + rename. Hadoop
        # rename won't clobber, so pre-delete an existing destination —
        # readers can observe absence in that window, which every manifest
        # reader treats as "not committed", never a partial file.
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        self._write(tmp, data, overwrite=True)
        dst = self._p(path)
        if self._fs.exists(dst):
            self._fs.delete(dst, False)
        if not self._fs.rename(self._p(tmp), dst):
            raise OSError(f"rename {tmp} -> {path} failed")

    def remove(self, path):
        if not self._fs.delete(self._p(path), False):
            raise FileNotFoundError(path)

    def rmtree(self, path):
        self._fs.delete(self._p(path), True)

    def rename(self, src, dst):
        d = self._p(dst)
        if self._fs.exists(d):
            self._fs.delete(d, True)
        if not self._fs.rename(self._p(src), d):
            raise OSError(f"rename {src} -> {dst} failed")

    def getsize(self, path):
        return int(self._fs.getFileStatus(self._p(path)).getLen())

    def create_exclusive(self, path, data):
        try:
            out = self._fs.create(self._p(path), False)
        except Exception as e:  # py4j wraps FileAlreadyExistsException
            if "exists" in str(e).lower():
                return False
            raise
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        return True

    def open_seekable(self, path):
        return _HadoopSeekable(self, path)

    def local_path(self, path):
        if self.scheme == "file":
            from urllib.parse import urlparse

            return urlparse(path).path
        return None


class _HadoopSeekable(io.RawIOBase):
    """Minimal seekable read-only file over FSDataInputStream, enough for
    pyarrow's parquet footer reader (seek / tell / read / size). Ranged
    reads go through commons-io toByteArray(stream, len) — one py4j call
    per read, no per-byte marshalling."""

    def __init__(self, store: HadoopStore, path: str):
        super().__init__()
        self._store = store
        self._path = path
        self._size = store.getsize(path)
        self._stream = store._fs.open(store._p(path))
        self._pos = 0

    def readable(self):
        return True

    def seekable(self):
        return True

    def seek(self, offset, whence=io.SEEK_SET):
        if whence == io.SEEK_SET:
            self._pos = offset
        elif whence == io.SEEK_CUR:
            self._pos += offset
        elif whence == io.SEEK_END:
            self._pos = self._size + offset
        return self._pos

    def tell(self):
        return self._pos

    def size(self):
        return self._size

    def read(self, n=-1):
        if n is None or n < 0:
            n = self._size - self._pos
        n = max(0, min(n, self._size - self._pos))
        if n == 0:
            return b""
        self._stream.seek(self._pos)
        data = bytes(
            self._store._jvm.org.apache.commons.io.IOUtils.toByteArray(
                self._stream, n)
        )
        self._pos += len(data)
        return data

    def close(self):
        try:
            self._stream.close()
        finally:
            super().close()
