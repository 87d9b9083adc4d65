"""The persisted-store lifecycle: every store is built and compacted
by staging a complete new store and publishing it once.

The stores are the five ANN indexes, the BM25 index, the MinHash band
store, the gram store, the ingest corpus and the sketch stores. They
share one code path:

* :func:`staged_store` — every build and every compaction. It yields
  the directory the caller writes the COMPLETE new store to (data,
  bounded metadata tables, the occupancy side table, the
  ``_ingest_stream`` marker) and publishes it exactly once on a clean
  exit. An exception publishes nothing: the live store is untouched.
  A compaction is a build whose input is the current store.
* :func:`batch_dir` — every append. It resolves the current store and
  names the one ``ingest_batch_id`` partition the append writes; an
  append never publishes.
* :func:`resolve_root` — every read.

THE STORAGE CONTRACT. ``commit=`` is a deployment setting that picks
one of two on-disk layouts:

* ``"rename"`` (default): the new store is staged in the sibling
  ``{path}.building`` and swapped in whole by :func:`_swap_in` —
  atomic on HDFS and local filesystems, NOT on S3-style object stores,
  where a directory "rename" is a per-object copy+delete.
* ``"manifest"``: a GENERATION pointer. The new store is written
  under ``{root}/gen-{k}/`` (no directory renames) and the commit
  writes the small ``{root}/_current`` pointer LAST. A single-object
  PUT is atomic on every store Hadoop supports (S3 included), and on
  local and HDFS file systems the pointer is renamed into place, so
  readers resolve either the old generation or the new one — never a
  mix, and a crash mid-commit never tears the pointer.
  Compactions of a manifest store publish a new generation, so they
  are also safe under concurrent readers.

Generation protocol:

* ``begin_generation(spark, root)``  — returns the next staged
  generation dir (``{root}/gen-{k}``); nothing under it is visible.
* ``commit_generation(spark, root, gen_dir)`` — points ``_current``
  at ``gen_dir`` (the atomic commit), then best-effort
  deletes older generations (a crash before GC leaves garbage
  generations, never a broken store; the next commit retries the GC).
* ``resolve_root(spark, root)`` — follows ``_current`` when present,
  else returns ``root`` unchanged (the pointer's existence is what
  tells the two layouts apart).

Because the rename publish replaces ``path`` whole, a build refuses a
non-empty ``path`` that does not look like a store (see
:func:`_check_store_dir`): a mistyped path must not take unrelated
data with it.

In-flight readers vs GC: a query that resolved gen-{k} keeps listing
files from it; ``commit_generation`` deletes old generations
immediately, which can fail such a reader mid-scan (the standard
snapshot-GC trade-off). Pass ``keep`` > 1 to retain prior
generations for long-running readers.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

__all__ = [
    "begin_generation",
    "commit_generation",
    "resolve_root",
    "staged_store",
    "batch_dir",
]

_POINTER = "_current"
_MARKER = "_ingest_stream"
# the data tables a store nests below its root (BM25, band store, gram
# store, flat PQ); every other store keeps its partitions at the root
_TABLE_DIRS = frozenset(
    ("postings", "dft", "_bm25_stats", "bands", "counts", "grams", "codes")
)


def _fs(spark, path: str):
    """``(FileSystem, Path)`` for ``path`` — the one Hadoop accessor, so
    every store helper works on any scheme (local, HDFS, object
    stores), not just the driver's local disk."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


_DRIVER_CACHE: dict = {}


def _cached_driver_read(spark, path: str, sub: str, load, stamp=None):
    """Driver-side cache of what ``load()`` derives from the files at
    ``{path}/{sub}``, reused while that file generation is unchanged:
    the bounded metadata of an ANN index (codebooks, centroid tables,
    meta rows — a repeated probe skips their collect) and the inferred
    schema of a catalog table (``tpch.load_table`` — a repeated scan
    skips the inference job). ``stamp`` is folded into the generation:
    the session settings ``load()`` depends on.

    Staleness: the generation stamp is the mtime of ``{path}/{sub}``
    plus its recursive listing (paths, lengths and mtimes of every file
    under a directory, partition subdirectories at any depth included;
    the file itself for a file). Every store publish replaces the
    metadata directory — the rename layout stages to a sibling and swaps
    whole dirs, the manifest layout resolves to a fresh ``gen-{k}`` path
    — and a rewrite of a table replaces its file or its part files, so
    the stamp changes and a stale hit cannot survive. Directory mtimes
    are millisecond-granular and SYNTHETIC (often 0) on object stores
    like S3A, hence the listing: Spark part filenames embed the write's
    UUID, so a rewrite at the same path changes the listing even where
    the mtime does not. Appends never
    rewrite index metadata (codebooks/centroids are frozen by
    contract), so append-then-probe reuses the cache. If the path is
    unreadable ``load()`` runs uncached (a missing path keeps its loud
    error). One entry per (path, sub): a new generation evicts the
    prior one."""
    try:
        fs, hpath = _fs(spark, f"{path}/{sub}")
        st = fs.getFileStatus(hpath)
        gen = (st.getModificationTime(), _listing(fs, hpath), stamp)
    except Exception:
        return load()
    key = (path, sub)
    hit = _DRIVER_CACHE.get(key)
    if hit is not None and hit[0] == gen:
        return hit[1]
    val = load()
    _DRIVER_CACHE[key] = (gen, val)
    # manifest-layout eviction: a republish resolves to a NEW
    # ``{root}/gen-{k}`` path, so the same-key replacement above never
    # fires — drop the prior generations of the same root or a
    # long-lived serving driver leaks one centroid table/codebook set
    # per nightly republish
    root = re.sub(r"/gen-\d+$", "", path)
    if root != path:
        for stale in [
            k2
            for k2 in _DRIVER_CACHE
            if k2 != key
            and k2[1] == sub
            and re.sub(r"/gen-\d+$", "", k2[0]) == root
        ]:
            del _DRIVER_CACHE[stale]
    return val


def _listing(fs, hpath) -> tuple:
    """Sorted ``(path, length, mtime)`` of every file at or under
    ``hpath``, by recursive ``listStatus``. Not ``listFiles``: each
    ``LocatedFileStatus`` it returns copies its file's permission, which
    the local file system without Hadoop's native library reads by
    forking ``ls -ld``, once per file listed."""
    out, todo = [], [hpath]
    while todo:
        for f in fs.listStatus(todo.pop()):
            if f.isDirectory():
                todo.append(f.getPath())
            else:
                out.append(
                    (f.getPath().toString(), f.getLen(), f.getModificationTime())
                )
    return tuple(sorted(out))


def _exists(spark, path: str) -> bool:
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def _ls(spark, path: str) -> list[str]:
    """Names of the entries directly under ``path`` ([] if missing)."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [s.getPath().getName() for s in fs.listStatus(hpath)]


def _numbered(spark, path: str, prefix: str) -> list[int]:
    """Sorted ``n`` of the entries named ``{prefix}{n}`` directly under
    ``path`` ([] when missing or empty)."""
    ids = []
    for name in _ls(spark, path):
        if name.startswith(prefix):
            try:
                ids.append(int(name[len(prefix):]))
            except ValueError:
                continue
    return sorted(ids)


def _batch_ids(spark, path: str) -> list[int]:
    return _numbered(spark, path, "ingest_batch_id=")


def _rm_dir(spark, path: str) -> None:
    """Recursively delete ``path`` (no-op when missing)."""
    fs, hpath = _fs(spark, path)
    fs.delete(hpath, True)


def _rename(spark, src: str, dst: str) -> None:
    """Rename, creating the destination's parent (rename fails, not
    creates, without it)."""
    fs, dst_p = _fs(spark, dst)
    fs.mkdirs(dst_p.getParent())
    if not fs.rename(_fs(spark, src)[1], dst_p):
        raise IOError(f"rename {src} -> {dst} failed")


def _carry(spark, src_root: str, dst_root: str, *names: str) -> None:
    """Copy the named entries of a live store (bounded metadata tables,
    the stream marker) into its staged replacement; absent names are
    skipped. A byte copy — no Spark job."""
    fs, _ = _fs(spark, src_root)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    file_util = spark.sparkContext._jvm.org.apache.hadoop.fs.FileUtil
    for name in names:
        src = _fs(spark, f"{src_root}/{name}")[1]
        if fs.exists(src):
            dst = _fs(spark, f"{dst_root}/{name}")[1]
            if not file_util.copy(fs, src, fs, dst, False, conf):
                raise IOError(f"copy {src_root}/{name} -> {dst_root} failed")


def _swap_in(spark, staged: str, live: str, dst: str) -> None:
    """Crash-safe directory replacement, the rename-layout publish:
    rename the live dir ASIDE (``{live}.old``), rename the staged dir
    to ``dst`` (``live`` itself, or a path under it), and delete the
    old copy LAST. Every crash point leaves a recoverable state:

    * before the aside-rename: live untouched, staged is an orphan;
    * between the renames: live missing but the FULL old store sits in
      ``{live}.old`` (recover: rename it back) and the new one in the
      staged dir;
    * after the in-rename: live is correct; a leftover ``.old`` is
      swept by the next swap.

    Its atomicity rests on ``FileSystem.rename`` — on object stores
    use ``commit="manifest"``, which never reaches this function."""
    old = f"{live}.old"
    _rm_dir(spark, old)  # leftover from a crash after a completed swap
    _rename(spark, live, old)
    _rename(spark, staged, dst)
    _rm_dir(spark, old)


def _read_pointer(spark, root: str) -> str | None:
    fs, ppath = _fs(spark, f"{root}/{_POINTER}")
    if not fs.exists(ppath):
        return None
    jio = spark.sparkContext._jvm.java.io
    stream = fs.open(ppath)
    try:
        line = jio.BufferedReader(jio.InputStreamReader(stream, "UTF-8")).readLine()
        return line.strip() if line else None
    finally:
        stream.close()


def begin_generation(spark, root: str) -> str:
    """Next staged generation directory under ``root``. Nothing under
    it is reader-visible until :func:`commit_generation` flips the
    pointer. A leftover staged dir from a crashed build with the same
    number cannot exist: numbering is max(existing)+1 and crashed
    stages still occupy their number until GC'd."""
    gens = _numbered(spark, root, "gen-")
    nxt = (gens[-1] + 1) if gens else 0
    return f"{root}/gen-{nxt}"


def _write_pointer(spark, root: str, gen_name: str) -> None:
    """Point ``{root}/_current`` at ``gen_name`` in one atomic step.

    On local and HDFS file systems, where a rename is atomic, the
    pointer is written to ``._current.tmp`` and renamed over
    ``_current``: a crash mid-write leaves the old pointer whole, where
    a create-overwrite truncates it first. Object stores keep the
    single create-overwrite: a PUT is their atomic primitive and a
    rename is a copy.

    On a local disk the rename is one ``rename(2)`` through the raw
    file system: the checksummed one renames a file's ``.crc`` after
    the file, and the session's may refuse to replace a file. The
    pointer is left without a checksum; the old ``._current.crc`` is
    deleted first, because a pointer whose checksum no longer matches
    fails to read, and one without a checksum reads unchecked."""
    fs, ppath = _fs(spark, f"{root}/{_POINTER}")
    scheme = fs.getScheme()
    out = ppath
    if scheme in ("file", "hdfs"):
        out = _fs(spark, f"{root}/.{_POINTER}.tmp")[1]
    stream = fs.create(out, True)
    try:
        stream.write(bytearray(gen_name + "\n", "utf-8"))
    finally:
        stream.close()
    hadoop = spark.sparkContext._jvm.org.apache.hadoop
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if scheme == "file":
        raw = hadoop.fs.RawLocalFileSystem()
        raw.initialize(fs.getUri(), conf)
        # the old pointer's checksum, and the one the temporary's
        # checksummed write left
        for crc in (f".{_POINTER}.crc", f"..{_POINTER}.tmp.crc"):
            raw.delete(_fs(spark, f"{root}/{crc}")[1], False)
        if not raw.rename(out, ppath):
            raise IOError(f"rename {out} -> {ppath} failed")
    elif scheme == "hdfs":
        # FileSystem.rename refuses an existing target; FileContext
        # replaces it atomically
        opts = spark.sparkContext._gateway.new_array(hadoop.fs.Options.Rename, 1)
        opts[0] = hadoop.fs.Options.Rename.OVERWRITE
        hadoop.fs.FileContext.getFileContext(fs.getUri(), conf).rename(out, ppath, opts)


def commit_generation(spark, root: str, gen_dir: str, keep: int = 1) -> None:
    """Atomically publish ``gen_dir`` (write the ``_current`` pointer
    LAST, see :func:`_write_pointer`), then best-effort delete all but
    the newest ``keep`` generations at or below the committed one."""
    gen_name = gen_dir.rstrip("/").rsplit("/", 1)[-1]
    if not gen_name.startswith("gen-"):
        raise ValueError(f"{gen_dir!r} is not a generation dir")
    _write_pointer(spark, root, gen_name)
    committed = int(gen_name[4:])
    older = [g for g in _numbered(spark, root, "gen-") if g <= committed]
    survivors = set(older[-max(1, keep):]) | {committed}
    for g in older:
        if g not in survivors:
            _rm_dir(spark, f"{root}/gen-{g}")


def resolve_root(spark, root: str) -> str:
    """READ-side resolution: follow the ``_current`` pointer when the
    store is manifest-committed, else return ``root`` (rename
    layout). A pointer naming a missing generation raises — that is a
    corrupted store, and silently reading ``root`` would return an
    empty/garbage relation."""
    gen = _read_pointer(spark, root)
    if gen is None:
        return root
    if not _exists(spark, f"{root}/{gen}"):
        raise IOError(
            f"store at {root!r}: _current points at {gen!r} which does "
            "not exist — torn or corrupted manifest commit"
        )
    return f"{root}/{gen}"


def store_layout(spark, path: str) -> tuple[str, str]:
    """``(current data dir, commit)`` of an existing store: compactions
    republish in the layout the store already has."""
    cur = resolve_root(spark, path)
    return cur, ("rename" if cur == path else "manifest")


def _check_store_dir(spark, path: str) -> None:
    """Refuse to replace a directory that is not a store: ``path`` must
    be missing or empty, or hold an ``ingest_batch_id=*`` partition,
    the ``_current`` pointer or the ``_ingest_stream`` marker — at its
    root, or inside one of the data tables the layouts nest
    (:data:`_TABLE_DIRS`). Any other subdirectory does not count: the
    parent of a store (``root/{corpus,store,...}``) is not a store,
    and replacing it would take its siblings with it."""
    names = _ls(spark, path)

    def marked(entries) -> bool:
        return any(
            n.startswith("ingest_batch_id=") or n in (_POINTER, _MARKER)
            for n in entries
        )

    if not names or marked(names):
        return
    tables = [n for n in names if n in _TABLE_DIRS]
    if any(marked(_ls(spark, f"{path}/{n}")) for n in tables):
        return
    raise ValueError(
        f"{path!r} is not empty and holds no store (no ingest_batch_id=* "
        "partition, _current pointer or _ingest_stream marker in it or in "
        f"one of its {'/'.join(sorted(_TABLE_DIRS))} tables); refusing to "
        "replace it — check the path"
    )


@contextmanager
def staged_store(spark, path: str, commit: str):
    """Stage a complete new store for ``path`` and publish it once.

    Yields the directory to write the whole new store to: the next
    ``gen-{k}`` for ``commit="manifest"``, else the sibling
    ``{path}.building`` (cleared first). A clean exit publishes —
    :func:`commit_generation`, or :func:`_swap_in` (a single rename
    when no live store exists). An exception publishes nothing and
    leaves the live store untouched."""
    if commit not in ("rename", "manifest"):
        raise ValueError(f"commit must be 'rename' or 'manifest', got {commit!r}")
    path = path.rstrip("/") or path  # '/x/idx/' must stage beside, not in, it
    _check_store_dir(spark, path)
    if commit == "manifest":
        staged = begin_generation(spark, path)
    else:
        staged = f"{path}.building"
        _rm_dir(spark, staged)  # stale staging from a crashed build
    yield staged
    if commit == "manifest":
        commit_generation(spark, path, staged)
    elif _exists(spark, path):
        _swap_in(spark, staged, path, path)
    else:
        _rename(spark, staged, path)


def batch_dir(spark, path: str, batch_id: int | None) -> tuple[str, int, str]:
    """``(store_dir, part, mode)`` for one append: the current store
    (the pointer resolved), the partition id and the write mode. With
    ``batch_id`` the append overwrites its own ``ingest_batch_id``
    partition (idempotent — a streaming replay replaces its earlier
    partial write); without it rows append to the base partition
    ``-1`` (plain at-least-once)."""
    if batch_id is not None and batch_id < 0:
        raise ValueError(
            f"batch_id must be >= 0, got {batch_id}: negative ids are "
            "reserved (ingest_batch_id=-1 is the base partition the "
            "build wrote — overwriting it would replace the whole base "
            "store with one batch)"
        )
    if batch_id is None:
        return resolve_root(spark, path), -1, "append"
    return resolve_root(spark, path), batch_id, "overwrite"
