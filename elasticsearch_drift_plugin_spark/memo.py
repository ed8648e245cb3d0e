"""The package's one memo store and its one way to change session conf.

Memoized values are small driver-side results and loader scans, keyed on
(applicationId, plan semanticHash, file fingerprint, *params). The file
fingerprint is the sorted (path, size, mtime_ns) of the frame's file
leaves, so no entry outlives the data it came from. A frame without file
leaves (literal rows, checkpoints, ``range``) keys on its plan alone. An
unkeyable frame — nondeterministic plan, another leaf kind, a file that
cannot be stat'ed — is computed and not stored. Each kind is an LRU of
:data:`CAP` entries; entries whose session has stopped are evicted.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from collections.abc import Callable, Iterator, Mapping
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

CAP = 32

#: what ``clear_result_memos()`` drops; loader scans (kind ``scan``) stay
RESULT_KINDS = (
    "psum_width",
    "ivf_seeds",
    "query_vecs",
    "hot_block",
    "clf_weights",
    "dsir_lambda",
)

# leaves whose rows live in the plan itself, so the semantic hash pins them
_DATA_LEAVES = frozenset({"LocalRelation", "LogicalRDD", "Range", "OneRowRelation"})

_LOCK = threading.RLock()
_STORE: dict[str, OrderedDict] = {}


def _stat(paths) -> tuple | None:
    out = []
    for p in paths:
        u = urlparse(p)
        if u.scheme not in ("", "file"):
            return None
        local = unquote(u.path) if u.scheme else p
        try:
            st = os.stat(local)
        except OSError:
            return None
        out.append((local, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def frame_key(df: DataFrame, *params) -> tuple | None:
    """The memo key of ``df`` plus ``params``, or None if ``df`` is unkeyable.

    The file leaves come from the analyzed plan, not ``DataFrame.inputFiles``,
    which runs the optimizer (tens of ms on a fresh frame)."""
    plan = df._jdf.queryExecution().analyzed()
    if not plan.deterministic():
        return None
    files: list[str] = []
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        name = leaf.nodeName()
        if name == "LogicalRelation":
            rel = leaf.relation()
            if rel.getClass().getSimpleName() != "HadoopFsRelation":
                return None
            files.extend(rel.location().inputFiles())
        elif name not in _DATA_LEAVES:
            return None
    fp = _stat(files)
    if fp is None:
        return None
    return (df.sparkSession.sparkContext.applicationId, df.semanticHash(), fp, *params)


def path_key(spark: SparkSession, path: str, *params) -> tuple | None:
    """The memo key of the files under ``path`` as they are on disk now,
    plus ``params``; None if ``path`` does not exist."""
    if os.path.isdir(path):
        files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    elif os.path.exists(path):
        files = [path]
    else:
        return None
    fp = _stat(files)
    if fp is None:
        return None
    return (spark.sparkContext.applicationId, path, fp, *params)


def _stopped(session) -> bool:
    try:
        return session.sparkContext._jsc is None
    except Exception:
        return True


def get_or_compute(
    kind: str, key: tuple | None, session: SparkSession, compute: Callable
):
    """The stored value of ``kind`` under ``key``, else ``compute()``, stored
    under ``key`` unless ``key`` is None. ``session`` owns the value."""
    if key is None:
        return compute()
    with _LOCK:
        store = _STORE.setdefault(kind, OrderedDict())
        for k in [k for k, (s, _) in store.items() if _stopped(s)]:
            del store[k]
        if key in store:
            store.move_to_end(key)
            return store[key][1]
    value = compute()
    with _LOCK:
        store = _STORE.setdefault(kind, OrderedDict())
        store[key] = (session, value)
        store.move_to_end(key)
        while len(store) > CAP:
            store.popitem(last=False)
    return value


def clear(kind: str) -> None:
    """Drop every entry of ``kind``."""
    with _LOCK:
        _STORE.pop(kind, None)


# Session conf is session-wide: two unlocked save/set/restore blocks running
# at once can each restore the other's values and leave the session changed.
_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark: SparkSession, settings: Mapping[str, str]) -> Iterator[None]:
    """Set ``settings`` for the block and restore the previous values after
    it. Scoped changes are serialized process-wide, so concurrent blocks
    cannot interleave their set and restore."""
    conf = spark.conf
    with _CONF_LOCK:
        saved = {k: conf.get(k, None) for k in settings}
        for k, v in settings.items():
            conf.set(k, v)
        try:
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)
