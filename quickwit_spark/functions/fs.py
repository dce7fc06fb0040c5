"""URI-capable filesystem routing for all index I/O.

The reference's storage layer is object-store-first (quickwit-storage/
src/: the `Storage` trait with S3/local/RAM implementations behind
URIs). The Spark-first analog is a pyarrow ``FileSystem`` resolved from
the ``index_dir`` URI, threaded through every byte the engine reads or
writes — split parquet files, the JSON catalog, term stats, lineage,
RowBinary exports. Plain local paths keep using ``LocalFileSystem``
(the fast default); ``s3://`` / ``gs://`` / ``hdfs://`` / ``abfs://``
resolve via ``pyarrow.fs.FileSystem.from_uri``; unknown schemes fail
LOUDLY here instead of surfacing as a baffling ``FileNotFoundError``
deep inside a search kernel.

``mock://<abs-path>`` is the e2e test double: it routes through the
full FileSystem interface (so any stray ``open()``/``os.*`` call on a
URI blows up) while storing bytes in the local tree. resolve happens
per-process, so executors resolve the same URI independently — no
filesystem object is ever pickled into a Spark closure.

Spark-native reads (``spark.read.parquet`` over split files, used by
demux's doc re-shuffle and ``Index.lineage``) go through Hadoop's
filesystem layer instead — on a real cluster an ``s3a://`` index_dir
works natively there; ``mock://`` is pyarrow-only by design.
"""

from __future__ import annotations

import posixpath
import threading

from quickwit_spark.functions.lru import LRU

_SUPPORTED_HINT = (
    "supported: local paths, file://, mock://<abs-path> (tests), and any "
    "pyarrow-supported object store (s3://, gs://, hdfs://, abfs://)"
)


def resolve_fs(path: str):
    """(FileSystem, filesystem-local path) for a path or URI."""
    from pyarrow import fs as pafs

    scheme, sep, rest = path.partition("://")
    if not sep:
        return pafs.LocalFileSystem(), path
    if scheme == "file":
        return pafs.LocalFileSystem(), rest
    if scheme == "mock":
        # test-only object-store stand-in: full FileSystem routing,
        # local bytes
        return pafs.LocalFileSystem(), rest
    try:
        return pafs.FileSystem.from_uri(path)
    except Exception as exc:
        raise ValueError(
            f"unsupported index_dir scheme {scheme!r} in {path!r} "
            f"({exc}); {_SUPPORTED_HINT}"
        ) from None


def is_local(path: str) -> bool:
    return "://" not in path or path.startswith(("file://", "mock://"))


def join(base: str, *parts: str) -> str:
    """URI-safe path join (always '/', never os.sep)."""
    return posixpath.join(base, *parts)


def dirname(path: str) -> str:
    return posixpath.dirname(path)


def strip_local(path: str) -> str:
    """Local filesystem path for a local path/URI (file:// or mock://)."""
    _, sep, rest = path.partition("://")
    return rest if sep else path


def parquet_file(path: str):
    """Open a ``pq.ParquetFile`` through the resolved filesystem."""
    import pyarrow.parquet as pq

    fs, p = resolve_fs(path)
    return pq.ParquetFile(p, filesystem=fs)


# Footer cache for IMMUTABLE files only (split parquet files are never
# rewritten in place — merge/demux write NEW split dirs and GC deletes
# old ones; term-stats files are content-versioned by name). Saves the
# per-query open + footer parse in the search hot path; LRU-capped so
# file handles stay bounded. Per-process, so executors build their own.
# Cache entries are shared across threads (concurrent searches, e.g.
# the ThreadingHTTPServer in serve.py), so the dict is lock-guarded and
# each entry is a _SyncParquetFile that serializes I/O-performing reads
# per file — pyarrow ParquetFile reads are not thread-safe. Each handle
# weighs 1, so the LRU's budget counts open files.
_PF_CACHE_MAX = 128
_PF_CACHE = LRU(lambda: _PF_CACHE_MAX)


class _SyncParquetFile:
    """Thread-safe facade over a shared ``pq.ParquetFile``: footer-
    derived attributes (``metadata``, ``schema_arrow``, ...) are
    immutable after open and delegate directly; reads that perform I/O
    serialize on a per-file lock. Different files still read fully in
    parallel, so the lock only bites when two concurrent searches hit
    the same split."""

    __slots__ = ("_pf", "_lock", "_bounds", "_schema", "_row_starts")

    def __init__(self, pf, lock) -> None:
        self._pf = pf
        self._lock = lock
        self._bounds: dict = {}
        self._schema = None
        self._row_starts = None

    def __getattr__(self, name):
        return getattr(self._pf, name)

    def key_bounds(self, col: str) -> list:
        """Per row group, the footer ``(min, max)`` of ``col``, or None
        for a group without stats. Built once per column: the file is
        immutable, and walking every group's statistics in Python cost
        ~0.3 ms a read. A racing double build is harmless."""
        got = self._bounds.get(col)
        if got is None:
            md = self._pf.metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            got = []
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                has = st is not None and st.has_min_max
                got.append((st.min, st.max) if has else None)
            self._bounds[col] = got
        return got

    def row_starts(self):
        """The first row of each row group, then the file's row count
        (an int64 array, ``num_row_groups + 1`` long), built once like
        :meth:`key_bounds`: the root doc fetch maps docids to
        ``(row group, row)`` with one ``searchsorted`` over it."""
        got = self._row_starts
        if got is None:
            import numpy as np

            md = self._pf.metadata
            got = np.zeros(md.num_row_groups + 1, dtype=np.int64)
            np.cumsum(
                [md.row_group(g).num_rows for g in range(md.num_row_groups)],
                out=got[1:],
            )
            got.flags.writeable = False
            self._row_starts = got
        return got

    @property
    def schema_arrow(self):
        """The file's Arrow schema, built once: pyarrow rebuilds it from
        the footer on every access (~90 us), and the root doc fetch
        reads it once per winner split per query."""
        got = self._schema
        if got is None:
            got = self._schema = self._pf.schema_arrow
        return got

    def read_row_group(self, *args, **kwargs):
        with self._lock:
            return self._pf.read_row_group(*args, **kwargs)

    def read_row_groups(self, *args, **kwargs):
        with self._lock:
            return self._pf.read_row_groups(*args, **kwargs)

    def read(self, *args, **kwargs):
        with self._lock:
            return self._pf.read(*args, **kwargs)


def parquet_file_cached(path: str):
    """``parquet_file`` with a per-process LRU footer cache — ONLY for
    paths whose bytes never change under that name (split files,
    versioned stats files). Returns a :class:`_SyncParquetFile`."""
    got = _PF_CACHE.get(path)
    if got is None:
        # open OUTSIDE the cache lock (footer parse / object-store round
        # trip must not serialize unrelated paths); the first writer wins
        # a racing double-open of the same immutable file — harmless
        opened = _SyncParquetFile(parquet_file(path), threading.Lock())
        got = _PF_CACHE.put(path, opened, 1)
    return got


def read_table(path: str, **kwargs):
    import pyarrow.parquet as pq

    fs, p = resolve_fs(path)
    return pq.read_table(p, filesystem=fs, **kwargs)


def write_table(tbl, path: str, **kwargs) -> None:
    import pyarrow.parquet as pq

    fs, p = resolve_fs(path)
    pq.write_table(tbl, p, filesystem=fs, **kwargs)


def makedirs(path: str) -> None:
    fs, p = resolve_fs(path)
    fs.create_dir(p, recursive=True)


def getsize(path: str) -> int:
    fs, p = resolve_fs(path)
    return int(fs.get_file_info(p).size)


def listdir(path: str) -> list:
    """Base names of the direct children of ``path`` (non-recursive);
    empty list when the directory does not exist."""
    from pyarrow.fs import FileSelector

    fs, p = resolve_fs(path)
    try:
        infos = fs.get_file_info(FileSelector(p))
    except (FileNotFoundError, NotADirectoryError):
        # only the missing-dir cases map to []; transient I/O errors
        # must propagate (an empty listing is a VALID answer callers
        # act on — e.g. expire_history deciding there's no history)
        return []
    return [info.base_name for info in infos]


def exists(path: str) -> bool:
    from pyarrow.fs import FileType

    fs, p = resolve_fs(path)
    return fs.get_file_info(p).type != FileType.NotFound


def mtime_ns(path: str) -> int:
    """0 when missing — cheap staleness token component."""
    from pyarrow.fs import FileType

    fs, p = resolve_fs(path)
    info = fs.get_file_info(p)
    if info.type == FileType.NotFound:
        return 0
    mt = info.mtime_ns
    return int(mt) if mt is not None else 0


def open_input(path: str):
    fs, p = resolve_fs(path)
    return fs.open_input_file(p)


def open_output(path: str):
    fs, p = resolve_fs(path)
    return fs.open_output_stream(p)


def read_bytes(path: str) -> bytes:
    with open_input(path) as f:
        return f.read()


def write_bytes(path: str, data: bytes) -> None:
    with open_output(path) as f:
        f.write(data)


def delete(path: str) -> None:
    fs, p = resolve_fs(path)
    fs.delete_file(p)


def spark_read_path(path: str) -> str:
    """Path form for Spark's Hadoop-side readers (``spark.read.parquet``
    over split/lineage files). ``mock://`` unwraps to its local backing
    tree (Spark can't see the pyarrow test double); ``s3://`` maps to
    the Hadoop connector scheme ``s3a://``; everything else passes
    through (Hadoop understands file://, hdfs://, gs://, abfs://)."""
    if path.startswith("mock://"):
        return path[len("mock://"):]
    if path.startswith("s3://"):
        return "s3a://" + path[len("s3://"):]
    return path


def rmtree(path: str) -> None:
    """Remove ``path``, a directory tree or a file; no-op if missing."""
    from pyarrow.fs import FileType

    fs, p = resolve_fs(path)
    kind = fs.get_file_info(p).type
    if kind == FileType.Directory:
        fs.delete_dir(p)
    elif kind != FileType.NotFound:
        fs.delete_file(p)


def copy_file(src: str, dst: str) -> None:
    """Copy within ONE filesystem (src and dst share the index_dir)."""
    fs, s = resolve_fs(src)
    _, d = resolve_fs(dst)
    fs.copy_file(s, d)
