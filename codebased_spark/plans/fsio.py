"""Filesystem access for the index lifecycle.

The index directory may live on any Hadoop-visible store (local disk,
HDFS, S3A, ...). All listing / existence / rename / small-file IO for
manifests and shard discovery goes through this module:

- local paths (no scheme, or file://) use plain Python IO — zero JVM
  round-trips on the hot path, and the pyarrow shard fast-path stays
  available;
- any other URI routes through the JVM Hadoop FileSystem API
  (``spark._jvm.org.apache.hadoop.fs``), the same connector stack the
  executors use to read the parquet tables, so an index on s3a://...
  lists, loads, and compacts exactly like a local one (queries keep the
  pyarrow shard fast path too, opening shards through pyarrow.fs — see
  :func:`pyarrow_fs_path`; only stores pyarrow can't reach use the
  generic DataFrame scan).

This replaces the round-1 os.walk/os.rename calls that silently saw an
empty index on remote storage (ADVICE.md r01, engine.py:115).
"""

from __future__ import annotations

import json
import os
import re

_LOCAL_SCHEMES = ("", "file")

# URIs come in two spellings: the RFC form scheme://authority/path and
# Hadoop Path.toString()'s scheme:/path (no authority, single slash) —
# LocalFileSystem listings yield the latter ("file:/tmp/x").
_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*):/")


def _scheme(path: str) -> str:
    m = _SCHEME_RE.match(path)
    return m.group(1) if m else ""


def is_local(path: str) -> bool:
    return _scheme(path) in _LOCAL_SCHEMES


def local_path(path: str) -> str:
    """Strip a file: scheme (file:///x, or Hadoop's file:/x); identity
    for plain paths. A file:// URI with a non-empty authority other
    than localhost (file://host/p) names a REMOTE host — folding the
    host into the path would silently read the wrong local file
    (ADVICE r03), so it is rejected."""
    if _scheme(path) == "file":
        rest = path[len("file:"):]
        if rest.startswith("//"):
            authority, _, tail = rest[2:].partition("/")
            if authority not in ("", "localhost"):
                raise ValueError(
                    f"file URI names remote authority {authority!r}, "
                    f"not a local path: {path}"
                )
            return "/" + tail.lstrip("/")
        return "/" + rest.lstrip("/")
    return path


# Hadoop connector spellings pyarrow doesn't recognize -> the pyarrow
# scheme for the same store (same bucket/key namespace, different
# client): without this an s3a:// index would silently lose the
# pyarrow fast path (code-review r3).
_PYARROW_SCHEME_MAP = {"s3a": "s3", "s3n": "s3"}


def canonical_uri(path: str) -> str:
    """Normalize a URI for pyarrow.fs.FileSystem.from_uri: Hadoop's
    scheme:/path spelling becomes scheme:///path, and Hadoop-only
    scheme aliases (s3a/s3n) map to the pyarrow scheme for the same
    store; RFC-form URIs and plain paths otherwise pass through. This
    is the one rule for how pyarrow readers name a table inside an
    index (tombstones, presence, phrase-df): a scheme-less index keeps
    plain POSIX paths, any other gets canonical URIs."""
    scheme = _scheme(path)
    if not scheme:
        return path
    rest = path[len(scheme) + 1:]
    scheme = _PYARROW_SCHEME_MAP.get(scheme, scheme)
    if rest.startswith("//"):
        return f"{scheme}:{rest}"
    return f"{scheme}:///" + rest.lstrip("/")


def pyarrow_fs_path(path: str):
    """(filesystem, real_path) for pyarrow readers.

    Plain local paths pass through as (None, path) — pq.read_table
    opens them directly, zero FS-object overhead. Any scheme'd URI
    (file://, hdfs://, s3://, ...) resolves through
    pyarrow.fs.FileSystem.from_uri, the same connector code path an
    object-store deployment uses; raises for stores pyarrow can't
    reach (callers fall back to the generic Spark DataFrame scan)."""
    if _scheme(path) == "":
        return None, path
    from pyarrow import fs as pafs

    return pafs.FileSystem.from_uri(canonical_uri(path))


class IndexFS:
    """Minimal FS facade: exactly the operations the index needs."""

    def __init__(self, spark, base: str, force_jvm: bool = False):
        # force_jvm routes even local paths through the Hadoop FS API —
        # test hook: this sandbox has no HDFS/S3, so the remote branch
        # is exercised against Hadoop's LocalFileSystem.
        self.spark = spark
        self.base = base
        self._local = is_local(base) and not force_jvm
        if not self._local:
            jvm = spark._jvm
            self._jpath = jvm.org.apache.hadoop.fs.Path
            hconf = spark._jsc.hadoopConfiguration()
            self._jfs = self._jpath(base).getFileSystem(hconf)

    # -- predicates ---------------------------------------------------
    def exists(self, path: str) -> bool:
        if self._local:
            return os.path.exists(local_path(path))
        return self._jfs.exists(self._jpath(path))

    # -- listing ------------------------------------------------------
    def list_files(self, path: str) -> list[tuple[str, int]]:
        """Recursive (path, size) of regular files under ``path``;
        empty when it doesn't exist."""
        if self._local:
            p = local_path(path)
            out = []
            for root, _dirs, files in os.walk(p):
                for f in files:
                    full = os.path.join(root, f)
                    out.append((full, os.path.getsize(full)))
            return sorted(out)
        if not self.exists(path):
            return []
        it = self._jfs.listFiles(self._jpath(path), True)
        out = []
        while it.hasNext():
            st = it.next()
            out.append((st.getPath().toString(), int(st.getLen())))
        return sorted(out)

    def list_dir(self, path: str) -> list[str]:
        """Names of immediate children (files and dirs)."""
        if self._local:
            p = local_path(path)
            return sorted(os.listdir(p)) if os.path.isdir(p) else []
        if not self.exists(path):
            return []
        return sorted(
            st.getPath().getName()
            for st in self._jfs.listStatus(self._jpath(path))
        )

    # -- small-file IO (manifests) -------------------------------------
    def read_json(self, path: str) -> dict:
        if self._local:
            with open(local_path(path)) as f:
                return json.load(f)
        stream = self._jfs.open(self._jpath(path))
        try:
            body = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
            return json.loads(body)
        finally:
            stream.close()

    def write_json(self, path: str, payload: dict) -> None:
        body = json.dumps(payload, indent=2, sort_keys=True)
        if self._local:
            p = local_path(path)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            tmp = p + ".tmp"
            with open(tmp, "w") as f:
                f.write(body)
            os.replace(tmp, p)
            return
        # HDFS/S3A create() is already atomic-on-close (rename-on-commit
        # for object stores happens in the committer; a manifest is one
        # small object, visible only once fully written)
        stream = self._jfs.create(self._jpath(path), True)
        try:
            stream.write(bytearray(body.encode("utf-8")))
        finally:
            stream.close()

    # -- directory ops (compaction swap) -------------------------------
    def rename(self, src: str, dst: str) -> None:
        if self._local:
            os.rename(local_path(src), local_path(dst))
            return
        if not self._jfs.rename(self._jpath(src), self._jpath(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def delete(self, path: str) -> None:
        if self._local:
            import shutil

            p = local_path(path)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            elif os.path.exists(p):
                os.remove(p)
            return
        self._jfs.delete(self._jpath(path), True)
