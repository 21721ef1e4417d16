"""The one owner of the library's scratch state: a per-process root
directory under the temp dir, removed when the process that made it exits.

Every temp writer goes under ``root()``: the staging gates, the CSV
shims that re-encode a URL, a non-UTF-8 file or stdin, the single-file
append, the streaming single-file replay and the warehouse of a session
``get_spark`` builds.

An owner's liveness is a kernel lock, not a PID. The root's ``.lock`` is
``flock``ed before the directory appears under its reaped name, and the
lock holds until the process dies, however it dies. A lock that another
process can take therefore names a dead owner. The first ``root()`` call
in a process reaps every such sibling, so a root whose owner was killed
before its exit handler ran goes the next time any process makes one."""

from __future__ import annotations

import atexit
import fcntl
import glob
import os
import shutil
import tempfile
import threading

_PREFIX = "bun_csv_spark_"
_LOCK = ".lock"
_guard = threading.Lock()
_root: str | None = None


def root() -> str:
    """This process's scratch root; the first call makes it and reaps the
    roots of dead processes."""
    global _root
    with _guard:
        if _root is None:
            tmp = tempfile.gettempdir()
            # made under a name the reaper does not match and renamed once
            # locked, so no process ever sees this root unlocked; the
            # descriptor stays open, and the lock held, for the process's life
            private = tempfile.mkdtemp(prefix="." + _PREFIX, dir=tmp)
            fd = os.open(os.path.join(private, _LOCK), os.O_CREAT | os.O_RDWR, 0o600)
            fcntl.flock(fd, fcntl.LOCK_EX)
            path = os.path.join(tmp, os.path.basename(private)[1:])
            os.rename(private, path)
            _reap(tmp, path)
            atexit.register(_remove, path, os.getpid())
            _root = path
        return _root


def scratch_dir(name: str) -> str:
    """``<root>/<name>``, emptied on every call: a staging gate rebuilds its
    state each time, so a caller collects the returned DataFrame before it
    builds the same gate again in the same process."""
    d = os.path.join(root(), name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def new_dir(prefix: str) -> str:
    """A fresh, uniquely named directory under the root."""
    return tempfile.mkdtemp(prefix=prefix, dir=root())


def _reap(tmp: str, keep: str) -> None:
    for path in glob.glob(os.path.join(tmp, _PREFIX + "*")):
        if path == keep:
            continue
        try:
            fd = os.open(os.path.join(path, _LOCK), os.O_RDONLY)
        except FileNotFoundError:
            # a root appears with its lock file, so one without it is a
            # removal that was cut short
            shutil.rmtree(path, ignore_errors=True)
            continue
        except OSError:
            continue  # not a directory, or another user's
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            continue  # the owner is alive
        else:
            shutil.rmtree(path, ignore_errors=True)
        finally:
            os.close(fd)


def _remove(path: str, owner: int) -> None:
    # a fork()ed child inherits this handler but not the root
    if os.getpid() == owner:
        shutil.rmtree(path, ignore_errors=True)
