"""The one session memo every derived artifact goes through.

``memo(spark, key, build)`` returns ``build()``'s value for ``key``,
building it at most once per Spark session. The rule every call site
follows:

- The store key is the session's ``applicationId`` plus ``key``, which
  holds the call's arguments (``sf_dir``, knobs, and a fingerprint or
  staleness token where a site has one). A new session never sees
  another session's entries.
- The corpus under ``sf_dir`` is assumed immutable for the session's
  lifetime: an entry is never rebuilt because its source files changed
  unless the key carries a fingerprint of them.
- Builds are single flight: concurrent callers of one key wait for the
  one caller running ``build()`` and get its value. A build that raises
  stores nothing, so the next caller builds again. ``build()`` runs
  outside the store-wide lock, so it may itself call ``memo`` for other
  keys.
- On a miss, entries of stopped sessions are dropped, so a long-lived
  process that cycles sessions holds no dead DataFrames or rows. Nothing
  else is ever evicted.
"""

from __future__ import annotations

import threading
from typing import Any, Callable, Hashable

from pyspark.sql import SparkSession

_UNSET = object()


class _Entry:
    __slots__ = ("session", "lock", "value")

    def __init__(self, session: SparkSession):
        self.session = session
        self.lock = threading.Lock()
        self.value = _UNSET


# (applicationId, key) -> _Entry; _LOCK guards the dict, each entry's own
# lock serializes its build
_STORE: dict[tuple[str, Hashable], _Entry] = {}
_LOCK = threading.Lock()


def session_stopped(sess: SparkSession) -> bool:
    """True when the session's SparkContext is gone or stopped. Any
    introspection failure counts as stopped, which at worst rebuilds a
    cache entry."""
    try:
        return (
            sess.sparkContext._jsc is None
            or sess.sparkContext._jsc.sc().isStopped()
        )
    except Exception:
        return True


def _drop_stopped(live_app: str) -> None:
    """Delete the entries of every stopped application (caller holds
    ``_LOCK``); one ``session_stopped`` check per distinct app id."""
    sessions = {}
    for (app, _), entry in _STORE.items():
        if app != live_app:
            sessions.setdefault(app, entry.session)
    dead = {app for app, sess in sessions.items() if session_stopped(sess)}
    for k in [k for k in _STORE if k[0] in dead]:
        del _STORE[k]


def memo(spark: SparkSession, key: Hashable, build: Callable[[], Any]) -> Any:
    """``build()``'s value for ``key`` in this session, built once."""
    app = spark.sparkContext.applicationId
    k = (app, key)
    with _LOCK:
        entry = _STORE.get(k)
        if entry is None:
            _drop_stopped(app)
            entry = _STORE[k] = _Entry(spark)
    if entry.value is _UNSET:
        with entry.lock:
            if entry.value is _UNSET:
                entry.value = build()
    return entry.value
