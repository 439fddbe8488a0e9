"""One place that decides which filesystem a path lives on.

Every driver-side file operation in the engine — index sidecars
(centroids, codebooks, manifest segments, split-commit markers), the
streaming publish and its ledger, partition listing, view metadata —
goes through this module. A path is resolved ONCE to a filesystem the
way Hadoop would resolve it: an explicit scheme wins, and a bare path
follows `fs.defaultFS`. So the driver and the JVM readers
(`spark.read.parquet(...)`) always agree on where a sidecar lives.

Two backends implement the same primitives:

- `file` paths go to `LOCAL`: `os` calls and pyarrow on the driver.
- any other scheme goes to `HadoopFs`: Hadoop `FileSystem` calls
  through py4j, with file bytes crossing py4j as one `byte[]`.

Sidecars are metadata-sized by construction (nlist buckets, per-file
stats, m*ksub codebook rows), so `read_rows` / `write_rows` encode them
as parquet on the driver with pyarrow. Neither backend runs a Spark job.

`list` skips hidden names (`_` or `.` prefix), the same names every
Spark reader skips (`_SUCCESS`, `.crc` checksums, in-flight temp
files).
"""

from __future__ import annotations

import glob as _glob
import os
import re
import shutil
import uuid
from typing import NamedTuple

import pyarrow as pa
import pyarrow.parquet as papq
from pyspark import SparkContext

_SCHEME = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*):")

_ARROW_TYPES = {
    "int": pa.int32(),
    "long": pa.int64(),
    "bigint": pa.int64(),
    "double": pa.float64(),
    "string": pa.string(),
}


class Entry(NamedTuple):
    name: str
    size: int
    mtime: int  # whole milliseconds, as Hadoop's FileStatus reports it
    is_dir: bool


def _hidden(name: str) -> bool:
    return name.startswith(("_", "."))


def _tmp_name(path: str) -> str:
    """Hidden sibling of `path`: no reader picks up a write that a
    crash left unfinished."""
    parent, name = path.rsplit("/", 1)
    return f"{parent}/.{name}.tmp"


def _arrow_schema(ddl: str) -> pa.Schema:
    """pyarrow schema from a flat Spark DDL string such as
    'id long, cvec array<double>'."""
    fields = []
    for part in ddl.split(","):
        name, typ = part.split()
        typ = typ.lower()
        if typ.startswith("array<"):
            t = pa.list_(_ARROW_TYPES[typ[len("array<"):-1]])
        else:
            t = _ARROW_TYPES[typ]
        fields.append((name, t))
    return pa.schema(fields)


class _Filesystem:
    """Primitives shared by both backends. Subclasses supply the raw
    operations; parquet encoding lives here, once."""

    def write_rows(self, path: str, rows: list, ddl: str) -> None:
        """Write `rows` (tuples in `ddl` column order) as ONE parquet
        file at `path`: encoded with pyarrow, written under a hidden
        temp name and renamed into place, so a crash never leaves a
        torn file for a reader to trip on."""
        schema = _arrow_schema(ddl)
        cols = [list(c) for c in zip(*rows)] if rows else [[]] * len(schema)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )
        sink = pa.BufferOutputStream()
        papq.write_table(table, sink)
        tmp = _tmp_name(path)
        self.write_bytes(tmp, sink.getvalue().to_pybytes())
        self.rename(tmp, path)

    def read_rows(self, path: str, ddl: str) -> list[dict] | None:
        """Rows of the parquet file at `path`, or of every visible
        `.parquet` file under the directory `path` (in name order), as
        dicts keyed by exactly the `ddl` columns; a column a file lacks
        (an older layout) reads as None. None when `path` does not
        exist."""
        columns = _arrow_schema(ddl).names
        if not self.exists(path):
            return None
        files = [path]
        if self.is_dir(path):
            files = [
                f"{path}/{e.name}"
                for e in sorted(self.list(path))
                if not e.is_dir and e.name.endswith(".parquet")
            ]
        rows: list[dict] = []
        for f in files:
            pf = papq.ParquetFile(pa.BufferReader(self.read_bytes(f)))
            have = [c for c in columns if c in pf.schema_arrow.names]
            for r in pf.read(columns=have).to_pylist():
                rows.append({c: r.get(c) for c in columns})
        return rows


class _Local(_Filesystem):
    """`file:` paths: plain `os` calls on the driver."""

    @staticmethod
    def _os_path(path: str) -> str:
        # the path part of a file: URI, taken literally as Hadoop does
        # (file:/x, file:///x and file://host/x all name /x)
        if path.startswith("file:"):
            path = path[len("file:"):]
            if path.startswith("//"):
                path = "/" + path[2:].split("/", 1)[1]
        return path

    def exists(self, path: str) -> bool:
        return os.path.exists(self._os_path(path))

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(self._os_path(path))

    def delete(self, path: str) -> None:
        """Recursive; a missing path is a no-op."""
        p = self._os_path(path)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.lexists(p):
            os.remove(p)

    def rename(self, src: str, dst: str) -> None:
        """Checked rename: raises if `dst` exists or the move fails;
        creates `dst`'s parent directory."""
        s, d = self._os_path(src), self._os_path(dst)
        if os.path.lexists(d):
            raise IOError(f"rename target exists: {src} -> {dst}")
        os.makedirs(os.path.dirname(d) or ".", exist_ok=True)
        os.rename(s, d)

    def list(self, path: str) -> list[Entry]:
        """Visible entries of directory `path`; [] if it is missing."""
        p = self._os_path(path)
        if not os.path.isdir(p):
            return []
        out = []
        with os.scandir(p) as it:
            for e in it:
                if _hidden(e.name):
                    continue
                st = e.stat()
                # java.io.File.lastModified() is whole milliseconds;
                # integer ns floor-division reproduces it exactly
                out.append(
                    Entry(e.name, int(st.st_size), st.st_mtime_ns // 1_000_000,
                          e.is_dir())
                )
        return out

    def glob(self, pattern: str) -> list[str]:
        return sorted(_glob.glob(self._os_path(pattern)))

    def read_bytes(self, path: str) -> bytes | None:
        try:
            with open(self._os_path(path), "rb") as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def write_bytes(self, path: str, data: bytes) -> None:
        """Create or overwrite the file at `path` (parents created)."""
        p = self._os_path(path)
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        with open(p, "wb") as fh:
            fh.write(data)


class HadoopFs(_Filesystem):
    """Any non-`file` scheme: Hadoop `FileSystem` calls through py4j.
    The FileSystem handle is only obtained when an operation runs, so
    resolving a path never connects to anything."""

    def __init__(self, conf):
        self._conf = conf
        self._jvm = SparkContext._jvm

    def _fs(self, path: str):
        p = self._jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(self._conf)
        return fs, fs.makeQualified(p)

    def exists(self, path: str) -> bool:
        fs, p = self._fs(path)
        return bool(fs.exists(p))

    def is_dir(self, path: str) -> bool:
        fs, p = self._fs(path)
        return bool(fs.getFileStatus(p).isDirectory())

    def delete(self, path: str) -> None:
        fs, p = self._fs(path)
        fs.delete(p, True)

    def rename(self, src: str, dst: str) -> None:
        """Hadoop's rename signals failure by RETURNING FALSE (missing
        parent, cross-filesystem move) and moves a directory INTO an
        existing one — so the target must not exist, its parent is
        created, and a false return raises."""
        fs, s = self._fs(src)
        _, d = self._fs(dst)
        if fs.exists(d):
            raise IOError(f"rename target exists: {src} -> {dst}")
        fs.mkdirs(d.getParent())
        if not fs.rename(s, d):
            raise IOError(f"filesystem rename failed: {src} -> {dst}")

    def list(self, path: str) -> list[Entry]:
        fs, p = self._fs(path)
        if not fs.exists(p):
            return []
        out = []
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if not _hidden(name):
                out.append(
                    Entry(name, int(st.getLen()),
                          int(st.getModificationTime()),
                          bool(st.isDirectory()))
                )
        return out

    def glob(self, pattern: str) -> list[str]:
        fs, p = self._fs(pattern)
        statuses = fs.globStatus(p)
        if statuses is None:
            return []
        return sorted(st.getPath().toString() for st in statuses)

    def read_bytes(self, path: str) -> bytes | None:
        fs, p = self._fs(path)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    def write_bytes(self, path: str, data: bytes) -> None:
        fs, p = self._fs(path)
        out = fs.create(p, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()


LOCAL = _Local()


def resolve(conf, path: str) -> _Filesystem:
    """The filesystem `path` lives on under Hadoop configuration
    `conf`: its own scheme if it has one, else `fs.defaultFS`'s."""
    m = _SCHEME.match(path)
    if m:
        scheme = m.group(1)
    else:
        fs_cls = SparkContext._jvm.org.apache.hadoop.fs.FileSystem
        scheme = fs_cls.getDefaultUri(conf).getScheme()
    return LOCAL if scheme == "file" else HadoopFs(conf)


def of(spark, path: str) -> _Filesystem:
    """`resolve` under the session's Hadoop configuration."""
    return resolve(spark.sparkContext._jsc.hadoopConfiguration(), path)


def new_file_name(prefix: str) -> str:
    """A fresh, collision-free parquet file name for a sidecar write."""
    return f"{prefix}-{uuid.uuid4().hex}.parquet"
