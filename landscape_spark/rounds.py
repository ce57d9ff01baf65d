"""One round primitive for every iterative loop.

An iterative operator is a run of rounds: build the next frame, cut its
lineage with an eager local checkpoint, read a few numbers off that same
action, decide whether to go on. ``Rounds`` is that round plus the
bookkeeping every loop needs, as a ``with`` scope:

* ``observe(df, n=F.count(F.lit(1)))`` checkpoints ``df`` in ONE eager
  action and returns the named metrics computed on it (``observe()``), so
  a convergence certificate or an emptiness probe costs no extra job.
  Metrics must be integers, or lists the caller sorts on the driver: a
  float sum would depend on task completion order, so it is refused.
* ``replaces=`` releases the frame the new one supersedes. Release is
  ``unpersist(False)`` on the checkpoint's RDD: no job, no probe.
* ``cache(df)`` persists a loop-local cache and tracks it;
  ``materialize(df, **metrics)`` fills a cache in one action, metrics riding.
* On exit, also on an exception, the scope releases every checkpoint and
  cache it created that the frames passed to ``result`` do not read. A
  nested scope (``Rounds(parent)``) hands what its result reads to the
  parent; ``adopt`` takes over the checkpoints another operator's result
  reads. Frames the scope did not create, such as a caller's input, are
  never released.

What a frame reads is found by walking its plan: ``LogicalRDD`` leaves of
the logical plan are checkpoints, ``InMemoryRelation`` leaves of the plan
after cache substitution are caches.
"""

from __future__ import annotations

import threading
import warnings

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation


def _leaves(plan):
    it = plan.collectLeaves().iterator()
    while it.hasNext():
        yield it.next()


def _checkpoints(df: DataFrame) -> dict:
    """RDD id -> RDD of every checkpoint (LogicalRDD leaf) ``df`` reads."""
    return {
        leaf.rdd().id(): leaf.rdd()
        for leaf in _leaves(df._jdf.queryExecution().logical())
        if leaf.nodeName() == "LogicalRDD"
    }


def _caches(df: DataFrame) -> set[int]:
    """RDD ids of the loaded caches ``df`` reads."""
    out = set()
    for leaf in _leaves(df._jdf.queryExecution().withCachedData()):
        if leaf.nodeName() == "InMemoryRelation":
            builder = leaf.cacheBuilder()
            if builder.isCachedColumnBuffersLoaded():
                out.add(builder.cachedColumnBuffers().id())
    return out


def _act(df: DataFrame, metrics: dict, action) -> tuple:
    """Run ``action`` on ``df`` with ``metrics`` observed on that action."""
    obs = Observation() if metrics else None
    if obs is not None:
        df = df.observe(obs, *(c.alias(k) for k, c in metrics.items()))
    out = action(df)
    values = obs.get if obs is not None else {}
    floats = [k for k, v in values.items() if isinstance(v, float)]
    if floats:
        raise TypeError(
            f"round metrics {floats} are floats: their value would depend on "
            "task completion order; use integers or sorted lists"
        )
    return out, values


def warn_cap(op: str, cap: str, value: int) -> None:
    """Say that a loop stopped at its round cap while still making progress."""
    warnings.warn(
        f"{op} hit {cap}={value} while the last round still reached new "
        f"vertices — the result is partial; raise {cap}",
        RuntimeWarning,
        stacklevel=3,
    )


def reads(df: DataFrame) -> set[int]:
    """RDD ids of the checkpoints and caches ``df``'s plan reads."""
    return set(_checkpoints(df)) | _caches(df)


class Rounds:
    """Scope of one iterative loop; see the module docstring."""

    def __init__(self, parent: Rounds | None = None) -> None:
        self._parent = parent
        self._rdds: dict = {}  # owned checkpoints: RDD id -> RDD
        self._caches: list[DataFrame] = []  # owned caches
        self._results: list[DataFrame] = []
        self._lock = threading.Lock()

    def __enter__(self) -> Rounds:
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        keep: set[int] = set()
        if exc_type is None:
            for df in self._results:
                keep |= reads(df)
        with self._lock:
            rdds, caches = self._rdds, self._caches
            self._rdds, self._caches = {}, []
        kept_rdds = {i: r for i, r in rdds.items() if i in keep}
        kept_caches = [c for c in caches if _caches(c) & keep]
        for x in [r for i, r in rdds.items() if i not in keep] + [
            c for c in caches if not any(c is k for k in kept_caches)
        ]:
            x.unpersist(False)
        if self._parent is not None:
            with self._parent._lock:
                self._parent._rdds.update(kept_rdds)
                self._parent._caches.extend(kept_caches)
        return False

    def checkpoint(self, df: DataFrame, replaces: DataFrame | None = None) -> DataFrame:
        """Eager local checkpoint of ``df``; releases ``replaces`` after."""
        return self.observe(df, replaces)[0]

    def observe(
        self, df: DataFrame, replaces: DataFrame | None = None, **metrics
    ) -> tuple[DataFrame, dict]:
        """Checkpoint ``df`` with the named metric columns riding the same
        action; returns (checkpoint, {name: value})."""
        out, values = _act(df, metrics, lambda d: d.localCheckpoint(eager=True))
        with self._lock:
            self._rdds.update(_checkpoints(out))
        if replaces is not None:
            self.release(replaces)
        return out, values

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist a loop-local cache (lazily) and track it. A frame that is
        already cached belongs to someone else and is returned untracked."""
        if df.storageLevel != StorageLevel.NONE:
            return df
        df = df.persist()
        with self._lock:
            self._caches.append(df)
        return df

    def materialize(self, df: DataFrame, **metrics) -> dict:
        """Run ``df`` once (a noop write, e.g. to fill a cache) with the
        named metric columns riding that action."""
        return _act(df, metrics, lambda d: d.write.format("noop").mode("overwrite").save())[1]

    def release(self, *dfs: DataFrame) -> None:
        """Release each given frame: an owned cache itself, any other frame
        the owned checkpoints it reads. Released frames must not be read
        again."""
        for df in dfs:
            with self._lock:
                if any(c is df for c in self._caches):
                    self._caches = [c for c in self._caches if c is not df]
                    gone = [df]
                else:
                    gone = [self._rdds.pop(i) for i in _checkpoints(df) if i in self._rdds]
            for x in gone:
                x.unpersist(False)

    def adopt(self, df: DataFrame, *inputs: DataFrame) -> DataFrame:
        """Own the checkpoints ``df`` (another operator's result) reads,
        except those its ``inputs`` read."""
        theirs = set()
        for i in inputs:
            theirs |= set(_checkpoints(i))
        mine = {i: r for i, r in _checkpoints(df).items() if i not in theirs}
        with self._lock:
            self._rdds.update(mine)
        return df

    def result(self, df: DataFrame) -> DataFrame:
        """Mark ``df`` as (part of) what the loop returns: the checkpoints
        and caches it reads outlive the scope."""
        self._results.append(df)
        return df
