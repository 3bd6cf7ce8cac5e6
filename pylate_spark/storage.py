"""Object-store-safe filesystem layer for index state.

Every driver-side touch of index state (manifest, staging, segments,
term_stats, tombstones) goes through this module instead of raw
``os``/``shutil`` calls, so an index directory can live on any
filesystem PyArrow speaks (local, ``file://``, ``hdfs://``, ``s3://``)
— the only place a 100 TB index can actually live. Spark itself reads
and writes the same paths through Hadoop, which accepts the same URIs.

Who reads state: ``plans.build`` owns the table formats. Spark reads
the three large tables only through ``plans.build.read_state`` (declared
schemas, no inference job); the tombstone set is read on the driver
only, through :func:`read_column`, by ``plans.build._tombstones``.

Commit protocol notes (SURVEY §1.1):

- The **manifest is the single atomic commit point**: every state
  transition (batch committed, add staged, delete applied, compact
  done) becomes durable only when the manifest is replaced. On local
  FS / HDFS the replace is an atomic rename; on S3-class stores the
  final step is a single-object PUT (:func:`write_text` writes the
  temp object then copies over the target key), which S3 applies
  atomically per key — readers see either the old or the new manifest,
  never a torn one.
- Directory rewrites (segments/term_stats/staging/tombstones) never swap
  in place: the new data is written to a fresh *versioned* directory
  and the manifest's pointer flips inside the same atomic commit
  (``plans.build.active_dir``/``bump_dir``). There is no window where
  the live directory is gone; superseded versions are garbage-collected
  after the commit (``gc_stale_versions``) and a crash anywhere leaves
  either the old state live or the new state live, plus sweepable
  garbage.

Reference analog: the reference stores its index as plain files under
one root and commits chunks by file existence
(``/root/reference/pylate/indexes/stanford_nlp/indexing/index_saver.py:28-50``);
this module is that discipline made portable off POSIX.
"""

from __future__ import annotations

import posixpath

import numpy as np
import pyarrow.fs as pafs


def _split(path: str) -> tuple[pafs.FileSystem, str]:
    """Resolve a path or URI to (pyarrow FileSystem, fs-local path)."""
    if ":/" in path:
        return pafs.FileSystem.from_uri(path)
    import os

    return pafs.LocalFileSystem(), os.path.abspath(path)


def join(base: str, *parts: str) -> str:
    """URI-safe path join (pure string op; keeps the scheme intact)."""
    return posixpath.join(base, *parts)


def exists(path: str) -> bool:
    fs, p = _split(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def is_dir(path: str) -> bool:
    fs, p = _split(path)
    return fs.get_file_info(p).type == pafs.FileType.Directory


def makedirs(path: str) -> None:
    fs, p = _split(path)
    fs.create_dir(p, recursive=True)


def rmtree(path: str, missing_ok: bool = True) -> None:
    fs, p = _split(path)
    info = fs.get_file_info(p)
    if info.type == pafs.FileType.NotFound:
        if missing_ok:
            return
        raise FileNotFoundError(path)
    if info.type == pafs.FileType.Directory:
        fs.delete_dir(p)
    else:
        fs.delete_file(p)


def listdir(path: str) -> list[str]:
    """Base names of the direct children of ``path`` (empty if absent)."""
    fs, p = _split(path)
    if fs.get_file_info(p).type == pafs.FileType.NotFound:
        return []
    sel = pafs.FileSelector(p, recursive=False)
    return [posixpath.basename(fi.path) for fi in fs.get_file_info(sel)]


def read_column(path: str, column: str) -> np.ndarray:
    """One column of the Parquet files under ``path``, read on the
    driver without a Spark job (empty if the dataset is absent or has
    no such column). For small state tables such as tombstones."""
    import pyarrow.dataset as ds

    fs, p = _split(path)
    if fs.get_file_info(p).type == pafs.FileType.NotFound:
        return np.empty(0)
    d = ds.dataset(p, filesystem=fs, format="parquet")
    if column not in d.schema.names:
        return np.empty(0)
    return d.to_table(columns=[column]).column(column).to_numpy()


def column_type(path: str, column: str):
    """The Arrow type of one column of the (hive-partitioned) Parquet
    dataset under ``path``, from its file footers on the driver (None
    if the dataset is absent or has no such column)."""
    import pyarrow.dataset as ds

    fs, p = _split(path)
    if fs.get_file_info(p).type == pafs.FileType.NotFound:
        return None
    schema = ds.dataset(p, filesystem=fs, format="parquet", partitioning="hive").schema
    if column not in schema.names:
        return None
    return schema.field(column).type


def read_text(path: str) -> str:
    fs, p = _split(path)
    with fs.open_input_stream(p) as f:
        return f.read().decode("utf-8")


def write_text(path: str, data: str) -> None:
    """Durably replace ``path`` with ``data``: write a temp object,
    then move it over the target (atomic rename on local/HDFS; per-key
    atomic PUT-copy on object stores)."""
    fs, p = _split(path)
    tmp = p + ".tmp"
    with fs.open_output_stream(tmp) as f:
        f.write(data.encode("utf-8"))
    # file-over-file move is an atomic POSIX rename on local FS/HDFS
    # (verified: pyarrow LocalFileSystem.move overwrites files); on S3
    # it is a copy (atomic per-key PUT) + delete of the temp key
    fs.move(tmp, p)
