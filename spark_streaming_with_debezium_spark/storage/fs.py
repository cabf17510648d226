"""Filesystem abstraction and the one directory swap every state store
commits through.

The reference gets atomic MERGE commits from Delta's log on HDFS
(`StreamingJobExecutor.scala:47-61`). Our stand-in: each store writes
the new copy into a *staged* dir and :func:`swap_dirs` moves it over
the *live* one (the whole dir, or a list of its child dirs):

1. park: rename each live entry to the same name under ``parked``;
2. land: rename the staged entry to the live name (an entry with no
   staged copy — a bucket whose keys were all deleted — stays gone);
3. drop: delete ``parked``, then ``staged``.

Entries only appear or vanish by rename, so every crash state holds
one complete copy of each entry, and :func:`recover_swap` (run on open
and before the next swap) handles them all: a parked entry whose live
copy is missing is renamed back (crash between park and land), one
whose live copy exists is dropped (crash after land), and a staged
dir is dropped (crash before or during the write). A child-list swap
can thus come back partly new and partly old. That is correct under
Structured Streaming's recovery model (a foreachBatch micro-batch is
committed only after it returns, so the crashed batch replays with
the same id against the recovered state) because every writer is
idempotent or fenced on replay: last-write-wins merge, HLL union, the
CMS batch-id fence, the purge anti-join, compaction's same-rows
rewrite.

Recovery assumes one writer per store. A reader constructed in
another process while a writer is mid-swap also runs recovery and can
move a parked entry back under the writer; that is not supported.

:class:`LocalFS` (``os``/``shutil``, fsync'd atomic text writes) serves
bare local paths; :class:`HadoopFS` (Spark's JVM Hadoop ``FileSystem``
client) serves every scheme the Hadoop conf knows — ``hdfs://``,
``s3a://``, ``gs://``, ``abfss://``, and ``file://``, which is how the
tests exercise it without a cluster. :func:`fs_for_path` picks by URI
scheme. ``rename`` must be atomic per directory, as on POSIX and HDFS;
S3A renames a directory by copy+delete, so a crash inside a land can
leave a partial live entry that recovery keeps — use a table format
with a log (Delta/Iceberg) there. ``rename`` raises when ``dst`` exists
on both backends (Hadoop would otherwise move ``src`` into it).
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import SparkSession


class StateFS:
    """Minimal filesystem surface the state-store commit protocols use."""

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Child names (not paths) of a directory; [] if it doesn't exist."""
        raise NotImplementedError

    def mkdirs(self, path: str) -> None:
        raise NotImplementedError

    def delete(self, path: str) -> None:
        """Recursive delete; no-op if the path doesn't exist."""
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """Move ``src`` to ``dst``. ``dst`` must not exist (delete it
        first to replace); raises on failure on both backends."""
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def write_text_atomic(self, path: str, text: str) -> None:
        """Durably publish ``text`` at ``path``: readers see the old
        content or the new, never a torn file."""
        raise NotImplementedError


class LocalFS(StateFS):
    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return os.listdir(path)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def delete(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def rename(self, src: str, dst: str) -> None:
        if os.path.exists(dst):
            raise FileExistsError(f"rename target exists: {dst}")
        os.rename(src, dst)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, text: str) -> None:
        # write → fsync → rename → fsync(dir): the file is either absent
        # or complete at every instant, and the rename itself is durable.
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)


class HadoopFS(StateFS):
    """StateFS over the JVM Hadoop FileSystem client (works for every
    scheme the session's Hadoop configuration can resolve)."""

    def __init__(self, spark: SparkSession, base_path: str):
        self._jvm = spark._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(base_path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def _p(self, path: str):
        return self._Path(path)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def isdir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)) and bool(
            self._fs.getFileStatus(p).isDirectory()
        )

    def listdir(self, path: str) -> list[str]:
        if not self.exists(path):
            return []
        return [
            st.getPath().getName() for st in self._fs.listStatus(self._p(path))
        ]

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def delete(self, path: str) -> None:
        p = self._p(path)
        if self._fs.exists(p):
            self._fs.delete(p, True)

    def rename(self, src: str, dst: str) -> None:
        # Hadoop rename onto an existing DIRECTORY moves src INTO it
        # (mv semantics) — reject up front so both backends share the
        # strict "dst must not exist" contract the protocols rely on.
        if self.exists(dst):
            raise FileExistsError(f"rename target exists: {dst}")
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"hadoop rename failed: {src} -> {dst}")

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            baos = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                stream, baos, 4096, False
            )
            return baos.toString("UTF-8")
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        # tmp → hflush/close → delete old → rename. Atomic on HDFS
        # (rename); on S3A the create itself is an atomic PUT, so the
        # tmp+rename only adds an absent-window, never a torn file.
        tmp = path + ".tmp"
        out = self._fs.create(self._p(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
            out.hflush()
        finally:
            out.close()
        self.delete(path)
        self.rename(tmp, path)


def fs_for_path(spark: SparkSession, path: str) -> StateFS:
    """Backend by URI scheme: bare local paths → :class:`LocalFS`;
    any scheme (``file://``, ``hdfs://``, ``s3a://``, …) →
    :class:`HadoopFS`."""
    if urlparse(path).scheme:
        return HadoopFS(spark, path)
    return LocalFS()


def fragmented_partitions(
    fs: StateFS, path: str, col: str, min_files: int
) -> list[int]:
    """Values ``v`` whose ``<col>=<v>`` partition dir under ``path``
    holds ``min_files`` or more parquet files: the compaction targets
    of a store that leaves one file per touched partition per write."""
    prefix = col + "="
    out = []
    for d in fs.listdir(path):
        if d.startswith(prefix):
            files = fs.listdir(os.path.join(path, d))
            if sum(f.endswith(".parquet") for f in files) >= min_files:
                out.append(int(d[len(prefix):]))
    return out


def swap_dirs(
    fs: StateFS,
    staged: str,
    live: str,
    parked: str,
    names: list[str] | None = None,
) -> None:
    """Replace ``live`` with ``staged`` by park → land → drop (see the
    module docstring). ``names=None`` swaps the whole directory; a list
    swaps those child directories of ``live`` with the same-named
    children of ``staged``. A name with no staged copy drops its live
    one. ``staged`` and ``parked`` are gone afterwards. Run
    :func:`recover_swap` on the same paths before calling this."""
    if names is None:
        entries = [(staged, live, parked)]
    else:
        fs.mkdirs(parked)
        entries = [
            (os.path.join(staged, n), os.path.join(live, n), os.path.join(parked, n))
            for n in names
        ]
    for src, dst, old in entries:
        if fs.exists(dst):
            fs.rename(dst, old)
        if fs.exists(src):
            fs.rename(src, dst)
    fs.delete(parked)
    fs.delete(staged)


def recover_swap(
    fs: StateFS, staged: str, live: str, parked: str, by_name: bool = False
) -> None:
    """Undo the crash leftovers of a :func:`swap_dirs` on the same paths
    (``by_name`` when it swapped a list of children): drop each parked
    entry whose live copy exists, rename back each one whose live copy
    is missing, then drop ``parked`` and ``staged``. A no-op after a
    swap that finished."""
    if by_name:
        entries = [
            (os.path.join(live, n), os.path.join(parked, n))
            for n in fs.listdir(parked)
        ]
    else:
        entries = [(live, parked)] if fs.exists(parked) else []
    for dst, old in entries:
        if fs.exists(dst):
            fs.delete(old)
        else:
            fs.rename(old, dst)
    fs.delete(parked)
    fs.delete(staged)
