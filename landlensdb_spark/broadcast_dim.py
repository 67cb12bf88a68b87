"""Broadcast dimensions: the small side of a broadcast join, prepared once.

``pip_join``, ``extract_pip`` and ``snap_to_network`` join a big point side
against a small dimension (polygons, a road network). The reference builds
that side once as a persistent R-tree (landlensdb/process/snap.py:19-31).
Here the driver preps and broadcasts it once per (DataFrame, prep, params),
and each Python worker unpacks it once per prep.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from typing import Any

from pyspark import Broadcast
from pyspark.sql import DataFrame

#: entries each memo keeps. An evicted broadcast is destroyed, because
#: dropping the last reference leaves its blocks on the executors for the
#: life of the app. The bound is shared by every operator: a frame whose
#: dimension was prepped before 8 newer preps (of any operator, in this
#: driver) fails with "Attempted to use Broadcast after it was destroyed"
#: when it runs, so bind each dimension frame once and reuse it.
BOUND = 8

#: driver memo, least recently used first: (id(df), prep, params) ->
#: (df, broadcast, token). The ref to df keeps its id() from being recycled.
_driver: dict[tuple, tuple[DataFrame, Broadcast, str]] = {}

#: worker memo, per Python worker process: token -> unpacked state.
_worker: dict[str, Any] = {}


def broadcast_dim(df: DataFrame, prep: Callable, *params) -> tuple[Broadcast, str]:
    """Broadcast ``prep(df, *params)`` once per (``df``, ``prep``, ``params``).

    Returns the broadcast and a token unique to this prep, for
    :func:`worker_state`. The token is not derived from ``id(df)``: after an
    eviction a new DataFrame may get the old id, and long-lived workers would
    serve the old dimension for the new broadcast.
    """
    key = (id(df), prep, params)
    hit = _driver.pop(key, None)
    if hit is None:
        bc = df.sparkSession.sparkContext.broadcast(prep(df, *params))
        if len(_driver) >= BOUND:
            _driver.pop(next(iter(_driver)))[1].destroy()
        hit = (df, bc, uuid.uuid4().hex)
    _driver[key] = hit
    return hit[1], hit[2]


def worker_state(token: str, bc: Broadcast, build: Callable) -> Any:
    """``build(bc.value)`` once per ``token`` in this Python worker; keyed by
    the token alone, so each prep has exactly one build."""
    state = _worker.pop(token, None)
    if state is None:
        state = build(bc.value)
        if len(_worker) >= BOUND:
            _worker.pop(next(iter(_worker)))
    _worker[token] = state
    return state
