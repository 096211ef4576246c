"""Metadata I/O seam for index/snapshot control files.

Every persisted artifact in the engine (ANN indexes, snapshot logs)
stores its DATA as parquet — which Spark already reads/writes through
any Hadoop-compatible filesystem — but its tiny CONTROL files
(meta.json, _log.json) were written with raw ``os``/``json``/
``shutil`` calls scattered across operators. This module is the single
seam those calls now go through, so a real deployment swaps ONE module
for an object-store client (S3/GCS/ABFS via fsspec or dbutils) without
touching operator code. In-container it is the local filesystem.

Writes are ATOMIC: JSON lands in a temp file in the same directory and
is ``os.replace``d onto the target, so a crash or concurrent reader
mid-write sees either the old complete file or the new complete file,
never a truncated one. (POSIX rename atomicity; object stores give the
same guarantee via single-PUT visibility.)
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from typing import Any


def join(base: str, *parts: str) -> str:
    """Path join under the metadata base URI."""
    return os.path.join(base, *parts)


def artifacts_root() -> str:
    """THE repo-local artifact cache root (``.artifacts``). Review r7
    found four independent derivations of this directory across the
    registry modules (triple-dirname with and without abspath, an
    os.pardir variant) — paths that resolve to the same directory
    only by filesystem grace. Persisted-index sharing between modules
    (compare.py probing the index ann.py built) depends on the
    derivations agreeing, so there is exactly one now."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    return os.path.abspath(os.path.join(os.path.dirname(pkg), ".artifacts"))


def art_path(kind: str, sf_dir: str) -> str:
    """THE ``<root>/<kind>/<sf-basename>`` artifact-dir derivation
    (review r9-3). Every module that SHARES a persisted index keyed
    by (tier kind, dataset) must derive the path here — compare.py's
    ``_sign_art`` comment documented the failure mode (a divergent
    copy silently rebuilds its own index instead of reusing the one
    the registry built); this removes the copies instead of warning
    about them."""
    return os.path.join(
        artifacts_root(), kind, os.path.basename(sf_dir.rstrip("/")) or "default"
    )


def read_parquet_rows(
    path: str, order_by: tuple[str, ...] = (), columns: list[str] | None = None
) -> list[dict[str, Any]]:
    """Driver-side read of a SMALL parquet artifact (codebooks,
    centroids, quantizer stats, tombstones — relations that are
    bounded by construction and whose values become driver literals
    anyway). Collecting them through a full Spark read job pays
    ~0.3 s of scheduling to move a few hundred rows; a
    pyarrow read is ~5 ms and yields the identical values — parquet
    is the fidelity boundary, not the reader (optimization r12).
    ``order_by`` sorts rows by the named columns ascending (the
    artifacts carry no NULL keys), matching ``df.orderBy``."""
    import pyarrow.parquet as _pq

    table = _pq.ParquetDataset(path).read(columns=columns)
    rows = table.to_pylist()
    if order_by:
        rows.sort(key=lambda r: tuple(r[c] for c in order_by))
    return rows


def read_parquet_frame(paths: list[str], columns: list[str] | None = None):
    """Driver-side read of the parquet files ``paths`` into one pandas
    frame, columnar end to end: for driver-resident relations too
    large for ``read_parquet_rows``' per-row dicts (one 25,000-node
    HNSW graph partition reads in ~70 ms, against ~1.3 s as rows, on a
    4-vCPU host)."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    tables = [_pq.read_table(p, columns=columns) for p in paths]
    return _pa.concat_tables(tables).to_pandas()


def write_parquet(dir_path: str, table) -> str:
    """Driver-side write of the Arrow ``table`` as one new file under
    ``dir_path`` (created if absent); returns the file's path. The name
    is unique, so appends never collide, and the file is written under
    a dot-prefixed name that every reader skips and then renamed, so a
    reader listing the directory sees the whole file or none of it.

    Only the graph's neighbor ids and level are dictionary-encoded:
    pyarrow's default also dictionary-encodes float vectors, which
    made one HNSW graph partition (1,354 nodes, 64-dim) 893,854 B
    against Spark's 717,792 B, while these settings make it 715,419 B
    and need no ``.crc`` beside it. No column statistics and no Arrow
    schema blob: no reader of these relations uses either."""
    import uuid

    import pyarrow.parquet as _pq

    os.makedirs(dir_path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = join(dir_path, f".{name}.tmp")
    _pq.write_table(
        table,
        tmp,
        use_dictionary=["neighbors.list.element", "level"],
        write_statistics=False,
        store_schema=False,
    )
    out = join(dir_path, name)
    os.replace(tmp, out)
    return out


def list_files(path: str) -> tuple[tuple[str, int, int], ...]:
    """``(name, size, mtime_ns)`` of every file directly under
    ``path``, sorted by name; empty when the directory is absent. A
    reader that keeps state derived from a directory compares this
    stamp to notice a rewrite in place, which a name alone hides."""
    try:
        with os.scandir(path) as it:
            entries = [e for e in it if e.is_file()]
    except FileNotFoundError:
        return ()
    out = []
    for e in entries:
        try:
            st = e.stat()
        except FileNotFoundError:
            continue  # removed since the listing
        out.append((e.name, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def exists(path: str) -> bool:
    return os.path.exists(path)


def is_dir(path: str) -> bool:
    return os.path.isdir(path)


def makedirs(path: str) -> None:
    os.makedirs(path, exist_ok=True)


def remove_tree(path: str) -> None:
    """Remove a directory tree if present (no-op when missing)."""
    shutil.rmtree(path, ignore_errors=True)


def remove_file(path: str) -> None:
    """Remove a single control file if present (no-op when missing).
    Releasing the commit lock MUST go through the seam: on an
    object-store deployment a raw ``os.remove`` would silently no-op
    and leave every later commit waiting (advice r6)."""
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def read_json(path: str) -> dict[str, Any] | None:
    """Load a JSON control file; None if absent. Absence is detected
    by the open() itself, not an exists() pre-check — a file removed
    between check and open must read as "absent", never crash the
    reader (review r8)."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


from contextlib import contextmanager


def _lock_holder_dead(lock: str) -> bool:
    """True when the lock file names a holder on THIS host whose pid is
    verifiably gone — the one case a waiter may safely break a stale
    lock. A foreign-host holder, an unreadable lock, or a live pid all
    return False (fail toward waiting; liveness beats availability for
    a commit lock)."""
    import socket

    try:
        with open(lock) as f:
            payload = json.load(f)
        pid, host = int(payload["pid"]), payload["host"]
    except (OSError, ValueError, KeyError, json.JSONDecodeError):
        return False  # legacy/torn payload: never auto-break
    if host != socket.gethostname():
        return False
    try:
        os.kill(pid, 0)
        return False  # alive
    except ProcessLookupError:
        return True
    except PermissionError:
        return False  # alive, different uid


@contextmanager
def commit_lock(base: str, timeout_sec: float = 120.0):
    """Advisory inter-process lock for read-modify-write commits on a
    control file (the snapshot log's version-select → data-write →
    log-rewrite sequence). ``write_json`` makes each single write
    atomic, but two concurrent committers could both read versions=[1]
    and both commit v=2 — one committer's data silently vanishing from
    the log (review r8). O_CREAT|O_EXCL on ``_commit.lock`` is atomic
    on POSIX and maps to if-absent PUT preconditions on object stores.

    The lock records ``{pid, host}``; a waiter that finds the holder is
    a dead pid on its own host breaks the lock and retries (advisory
    r9 — a crashed holder must not block every later commit until a
    human removes the file). A foreign-host or unreadable lock is never
    auto-broken — those commits FAIL LOUDLY after ``timeout_sec`` with
    the lock's age in the message. The default wait is 120 s because a
    legitimate holder may be running a full merge/rebuild commit
    (merge_into_snapshot waits 300 s, lexical rebuilds 600 s)."""
    os.makedirs(base, exist_ok=True)
    lock = os.path.join(base, "_commit.lock")
    import socket
    import time

    payload = json.dumps({"pid": os.getpid(), "host": socket.gethostname()})
    deadline = time.monotonic() + timeout_sec
    broke_stale = False
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, payload.encode())
            os.close(fd)
            break
        except FileExistsError:
            # auto-break at most once per wait: if the lock reappears
            # stale again, some OTHER waiter won the recreate race and
            # is live — keep waiting on it. The break itself is guarded
            # by a secondary O_EXCL lock so two waiters can't both
            # detect the dead holder and have the slower one delete the
            # winner's FRESH lock; the guard holder re-verifies
            # staleness before removing.
            if not broke_stale and _lock_holder_dead(lock):
                broke_stale = True
                guard = lock + ".break"
                try:
                    gfd = os.open(guard, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                except FileExistsError:
                    continue  # another waiter is mid-break
                try:
                    os.close(gfd)
                    if _lock_holder_dead(lock):
                        remove_file(lock)
                finally:
                    remove_file(guard)
                continue
            if time.monotonic() >= deadline:
                try:
                    age = time.time() - os.path.getmtime(lock)
                except OSError:
                    age = float("nan")
                raise TimeoutError(
                    f"commit lock {lock!r} held for the whole "
                    f"{timeout_sec}s wait (lock age {age:.0f}s) — another "
                    "committer is active, or a crashed one left the lock; "
                    "verify and remove the file to recover"
                )
            time.sleep(0.05)
    try:
        yield
    finally:
        remove_file(lock)


def write_json(path: str, obj: Any, indent: int | None = None) -> None:
    """Atomically (re)write a JSON control file: temp file in the same
    directory + ``os.replace`` — readers never observe a partial
    write, which is the property commit logs depend on."""
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(prefix=".tmp_", suffix=".json", dir=d)
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, indent=indent)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
