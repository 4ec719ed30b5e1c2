"""Pipeline state store: the marker-object pattern the reference builds
on S3 (existence of staged parquet gates a phase — R2, py:156-184;
zero-byte ``<file>.checkpoint`` objects mark per-file sink completion —
R3, py:237-276), abstracted behind an interface so tests run on local
FS and production points at any object store / Hadoop-compatible FS.

Markers are tiny driver-side metadata — never Spark data — so the cost
is O(files), not O(rows), exactly like the reference's boto3 calls.
"""

from __future__ import annotations

import abc
import glob as globlib
import os
import re

# a URI scheme of two or more characters ("file:", "s3a:", "hdfs:");
# one letter followed by a colon is a drive, not a scheme
_URI_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.-]+:")


class StateStore(abc.ABC):
    """exists/put/list of zero-byte markers + data-file listing."""

    @abc.abstractmethod
    def exists(self, key: str) -> bool: ...

    @abc.abstractmethod
    def put_marker(self, key: str) -> None: ...

    @abc.abstractmethod
    def list(self, prefix: str, suffix: str = "") -> list[str]: ...

    @abc.abstractmethod
    def delete(self, key: str) -> None: ...

    def checkpoint_key(self, data_file: str) -> str:
        """Derive the marker key for a data file (reference py:330-331:
        `<staged file>.checkpoint`, file-level not job-level)."""
        return f"{data_file}.checkpoint"

    def output_committed(self, path: str) -> bool:
        """Whether a Spark output directory finished committing: Spark's
        file commit protocol writes ``_SUCCESS`` last, so its existence
        is the phase-done signal (reference R2 checks staged-parquet
        existence, py:156-184). Part of the interface — Pipeline gates
        phases 1+2 on it — with a default any marker store satisfies."""
        return self.exists(path.rstrip("/") + "/_SUCCESS")


class LocalFSStateStore(StateStore):
    """Local-filesystem markers; production analog is an S3/GCS client
    or the Hadoop FileSystem API with identical semantics."""

    def exists(self, key: str) -> bool:
        return os.path.exists(key)

    def put_marker(self, key: str) -> None:
        os.makedirs(os.path.dirname(key), exist_ok=True)
        with open(key, "w"):
            pass

    def list(self, prefix: str, suffix: str = "") -> list[str]:
        return sorted(
            p for p in globlib.glob(os.path.join(prefix, "**"), recursive=True)
            if os.path.isfile(p) and p.endswith(suffix)
        )

    def delete(self, key: str) -> None:
        if os.path.exists(key):
            os.remove(key)


class HadoopFSStateStore(StateStore):
    """Marker store over the Hadoop FileSystem API: one implementation
    for every scheme Spark itself can reach — ``file:/``, ``hdfs:/``,
    ``s3a:/``, ``gs:/``, ``abfs:/`` — resolved per-key from the active
    Hadoop configuration. This is the production default for pipelines
    whose staging/sink paths are object-store URIs (the reference's
    boto3 layer, generalized)."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._hconf = spark._jsc.hadoopConfiguration()

    def _fs(self, key: str):
        path = self._jvm.org.apache.hadoop.fs.Path(key)
        return path.getFileSystem(self._hconf), path

    def exists(self, key: str) -> bool:
        fs, path = self._fs(key)
        return fs.exists(path)

    def put_marker(self, key: str) -> None:
        fs, path = self._fs(key)
        fs.create(path, True).close()  # zero-byte object, overwrite

    def list(self, prefix: str, suffix: str = "") -> list[str]:
        fs, path = self._fs(prefix)
        if not fs.exists(path):
            return []
        out: list[str] = []
        it = fs.listFiles(path, True)
        while it.hasNext():
            p = it.next().getPath().toString()
            if p.endswith(suffix):
                out.append(p)
        return sorted(out)

    def delete(self, key: str) -> None:
        fs, path = self._fs(key)
        fs.delete(path, False)


def default_store(spark, path: str) -> StateStore:
    """The store used when a caller passes none: ``HadoopFSStateStore``
    for a scheme-qualified ``path`` (``file:``, ``hdfs:``, ``s3a:``),
    whose markers the local store cannot see, and ``LocalFSStateStore``
    for a plain local path."""
    if _URI_SCHEME.match(path):
        return HadoopFSStateStore(spark)
    return LocalFSStateStore()
