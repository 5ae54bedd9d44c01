"""One seam over Hadoop ``FileSystem`` for every chunk store and log.

Spark reads and writes table data through Hadoop, so a root may be any URI
it resolves (``file:``, ``viewfs:``, ``hdfs:``, an object store). The file
steps around those writes go through the same ``FileSystem``, by the JVM
gateway, each written once here: resolving a handle, listing, existence,
sizes, deletes, publishing and reading a small file, and a crash-safe
directory swap. Driver-local scratch (``plans/registry.py``) and the
executor-side ``sources/object_store.py`` (no gateway there) stay on ``os``.
"""

from __future__ import annotations

import functools
import os
import uuid

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

_NOT_FOUND = "java.io.FileNotFoundException"


def _jclass(spark: SparkSession, name: str) -> JavaClass:
    """JVM class ``name``; ``spark._jvm.a.b.C`` would spend a py4j round
    trip on each dotted part."""
    return JavaClass(name, spark._jvm._gateway_client)


def resolve(spark: SparkSession, uri: str):
    """``(FileSystem, Path)`` of ``uri`` through the JVM gateway."""
    path = _jclass(spark, "org.apache.hadoop.fs.Path")(uri)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def active_session() -> SparkSession:
    """The running session, or the engine's own when none runs yet."""
    from pyspark.errors import PySparkRuntimeError

    from server2_vector_search_server_spark.session import get_spark

    try:
        return SparkSession.active()
    except PySparkRuntimeError:
        return get_spark()


class Tree:
    """A directory on any Hadoop filesystem, its handle resolved once; each
    step names its target relative to the root (``""`` is the root)."""

    def __init__(self, spark: SparkSession, uri: str):
        self.spark = spark
        self.uri = uri

    @functools.cached_property
    def _root(self):
        return resolve(self.spark, self.uri)

    def uri_of(self, rel: str) -> str:
        """The URI string Spark's readers and writers take for ``rel``."""
        return os.path.join(self.uri, rel) if rel else self.uri

    def locate(self, name: str) -> str:
        """URI of ``name`` by Hadoop's ``Path(parent, child)`` rule: a
        relative name lands under the root, an absolute one stands."""
        return _jclass(self.spark, "org.apache.hadoop.fs.Path")(
            self._root[1], name).toString()

    def path(self, rel: str = ""):
        """``(FileSystem, Path)`` of ``rel``, in one py4j call."""
        fs, root = self._root
        return fs, (root.suffix(f"/{rel}") if rel else root)

    def glob(self, pattern: str):
        """``globStatus`` of ``pattern``: null or a status array."""
        fs, path = self.path(pattern)
        return fs.globStatus(path)

    def names(self, rel: str = "", pattern: str = "*") -> list[str]:
        """Names in directory ``rel`` (none if missing) that match glob
        ``pattern``: one ``listStatus``, the root never globbed."""
        fs, path = self.path(rel)
        glob = _jclass(self.spark, "org.apache.hadoop.fs.GlobFilter")(pattern)
        try:
            found = fs.listStatus(path, glob)
        except Py4JJavaError as exc:
            if _NOT_FOUND in str(exc):
                return []
            raise
        return [s.getPath().getName() for s in found]

    def exists(self, rel: str = "") -> bool:
        fs, path = self.path(rel)
        return fs.exists(path)

    def size(self, rel: str = "") -> int:
        fs, path = self.path(rel)
        return fs.getFileStatus(path).getLen()

    def delete(self, rel: str) -> bool:
        """Remove ``rel`` recursively; False when it was missing."""
        fs, path = self.path(rel)
        return fs.delete(path, True)

    def rename(self, src: str, dst: str) -> None:
        """Hadoop rename; it refuses an existing destination file, and a
        refusal raises."""
        fs, src_path = self.path(src)
        if not fs.rename(src_path, self.path(dst)[1]):
            raise FileExistsError(f"rename {src!r} -> {dst!r} refused")

    def parquet_rows(self, rel: str) -> int:
        """Row count from the parquet footer of file ``rel``."""
        parquet = "org.apache.parquet.hadoop."
        reader = _jclass(self.spark, parquet + "ParquetFileReader").open(
            _jclass(self.spark, parquet + "util.HadoopInputFile").fromPath(
                self.path(rel)[1], self.spark._jsc.hadoopConfiguration()))
        try:
            return reader.getRecordCount()
        finally:
            reader.close()

    def publish(self, rel: str, text: str, *, replace: bool = False) -> None:
        """Write file ``rel`` (and its directory) atomically: a hidden temp
        file beside it, then a rename. Without ``replace`` the rename
        refuses an existing ``rel`` and raises ``FileExistsError``: a
        commit's compare-and-swap point. With it ``rel`` is replaced,
        atomically where the filesystem's rename replaces (local POSIX),
        else by delete-then-rename. The temp file is written below any
        mount and a local filesystem's checksum layer, so no ``.crc``
        sidecar appears, and the ``FileSystem`` Spark's own writes share is
        never reconfigured."""
        fs, dst = self.path(rel)
        tmp = f".{dst.getName()}.{uuid.uuid4().hex[:8]}.tmp"
        fs.mkdirs(dst.getParent())
        home = fs.resolvePath(dst.getParent())
        plain = home.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if plain.getScheme() == "file":
            plain = plain.getRawFileSystem()
        plain_tmp, plain_dst = home.suffix(f"/{tmp}"), home.suffix(
            f"/{dst.getName()}")
        out = plain.create(plain_tmp, False)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        if replace:
            if not plain.rename(plain_tmp, plain_dst) and not (
                    plain.delete(plain_dst, False)
                    and plain.rename(plain_tmp, plain_dst)):
                raise OSError(f"could not replace {rel!r}")
        elif not fs.rename(dst.getParent().suffix(f"/{tmp}"), dst):
            plain.delete(plain_tmp, False)
            raise FileExistsError(f"{rel!r} already exists")

    def read_text(self, rel: str) -> str:
        """Small file ``rel``; ``FileNotFoundError`` when it is missing."""
        fs, path = self.path(rel)
        try:
            stream = fs.open(path)
        except Py4JJavaError as exc:
            if _NOT_FOUND in str(exc):
                raise FileNotFoundError(self.uri_of(rel)) from None
            raise
        try:
            return bytes(_jclass(self.spark, "org.apache.hadoop.io.IOUtils")
                         .readFullyToByteArray(stream)).decode("utf-8")
        finally:
            stream.close()

    def swap(self, live: str, new: str) -> None:
        """Replace directory ``live`` by ``new``: rename ``live`` aside to
        ``live.old``, rename ``new`` in, delete the aside copy. A crash
        leaves ``live`` whole, or at ``live.old`` with ``new`` not in yet,
        which :meth:`recover` (run here first, and by every reader) puts
        back: at no point is there nothing to read."""
        if self.recover(live):
            self.rename(live, f"{live}.old")
        self.rename(new, live)
        self.delete(f"{live}.old")

    def recover(self, live: str) -> bool:
        """Finish a :meth:`swap` a crash cut and say whether ``live``
        exists: an aside copy with no ``live`` is put back, one left next
        to a swapped-in ``live`` is deleted."""
        if self.exists(live):
            self.delete(f"{live}.old")
            return True
        if self.exists(f"{live}.old"):
            self.rename(f"{live}.old", live)
            return True
        return False
