"""The one owner of staged state — fixtures, landing dirs and servers that
registry queries build once and reuse.

``@staged`` memoizes ``fn(spark, sf_dir)`` per (fn, sf_dir); ``session_dir``
makes directories under one ``anspark_session_*`` root.  Both live as long
as the Spark application (one live SparkContext per process): a call with a
new ``applicationId`` stops the old staged servers and removes the old root,
and an ``atexit`` hook, registered with the first root (so only in the
driver), does the same at exit.  Keyed on ``applicationId``, not
``id(spark)``: a GC'd session's id can be reused by a new session.

Each key builds under its own lock; the global lock is only held briefly
and never during a build, so builds may stage other keys from any thread
without deadlock.  A build that raises is not cached.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import shutil
import tempfile
import threading

__all__ = ["session_dir", "staged"]

_MISS = object()


def _release(values: dict, root: str | None) -> None:
    """Stop staged servers (also inside staged tuples); remove the root."""
    for value in values.values():
        for v in value if isinstance(value, tuple) else (value,):
            stop = getattr(type(v), "stop", None) or getattr(type(v), "close", None)
            if callable(stop):
                with contextlib.suppress(OSError):
                    stop(v)
    if root is not None:
        shutil.rmtree(root, ignore_errors=True)


class Owner:
    """Staged state of one process; ``staged``/``session_dir`` use the
    shared instance, tests make their own."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._sc = self._app = self._root = None
        self._values: dict = {}
        self._locks: dict = {}
        self._hooked = False

    def _swap(self, app) -> tuple:
        """Start fresh state for ``app``; returns the old state (lock held)."""
        old = (self._values, self._root)
        self._app, self._values, self._locks, self._root = app, {}, {}, None
        return old

    def _sync(self, spark) -> tuple:
        sc = spark.sparkContext  # applicationId is a py4j call: once per context
        if sc is not self._sc:
            self._sc, app = sc, sc.applicationId
            if app != self._app:
                return self._swap(app)
        return {}, None

    def release(self) -> None:
        with self._lock:
            self._sc = None
            old = self._swap(None)
        _release(*old)

    def get(self, spark, key, build):
        with self._lock:
            old = self._sync(spark)
            app, hit = self._app, self._values.get(key, _MISS)
            lock = self._locks.setdefault(key, threading.Lock())
        _release(*old)
        if hit is not _MISS:
            return hit
        with lock:
            with self._lock:
                hit = self._values.get(key, _MISS) if self._app == app else _MISS
            if hit is not _MISS:
                return hit
            value = build()
            with self._lock:
                if self._app == app:
                    self._values[key] = value
            return value

    def staged(self, fn):
        """Memoize ``fn(spark, sf_dir)`` for the live application."""
        name = f"{fn.__module__}.{fn.__qualname__}"

        @functools.wraps(fn)
        def wrapper(spark, sf_dir):
            return self.get(spark, (name, sf_dir), lambda: fn(spark, sf_dir))

        return wrapper

    def session_dir(self, spark, prefix: str) -> str:
        """A new ``<prefix>_*`` directory under the application's root."""
        with self._lock:
            old = self._sync(spark)
            if self._root is None:
                self._root = tempfile.mkdtemp(prefix="anspark_session_")
                if not self._hooked:
                    self._hooked = True
                    atexit.register(self.release)
            root = self._root
        _release(*old)
        return tempfile.mkdtemp(prefix=f"{prefix}_", dir=root)


_OWNER = Owner()
staged = _OWNER.staged
session_dir = _OWNER.session_dir
