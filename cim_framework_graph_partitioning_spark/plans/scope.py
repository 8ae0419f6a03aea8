"""Loop scope: the session state an iterative operator borrows, and gives back.

Every superstep loop runs under the same session-scoped policy: AQE off
(inside a loop it re-plans every step — measured 2.3x/step on the
pagerank loop) and ``spark.sql.shuffle.partitions`` pinned to the
loop's block count ``p`` (plans/scale.py), so cached static tables and
every per-step exchange share one explicit hash(key, p) partitioning.
The loop also owns caches (static edge tables) and checkpoints
(per-level frames) that must not outlive it.

``loop_scope`` owns all three. It applies the conf on entry, hands out
``cache``/``release`` registrations, and on ANY exit — return or
exception — undoes everything in reverse order, so the shared session
is left as the caller had it. A loop that dies inside a job also leaves
the local checkpoint that job was filling pinned, with no frame to
release it by; on an exception the scope releases every local
checkpoint created since entry.

The one policy split: ``keep_aqe=True`` leaves AQE as the session has
it and pins only the shuffle partitions. dag.py's peel loops need it
(with AQE off, their accumulate-union-of-checkpoints pattern trips a
reproducible CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), and betweenness.py
and sketches.py run their level loops the same way.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, SparkSession

from .barrier import release_checkpoint


class LoopScope:
    """Registrations for one ``loop_scope``; each is undone on exit."""

    def __init__(self, stack: ExitStack, conf: ExitStack) -> None:
        self._stack = stack
        self._conf = conf

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` (unless the caller already did) and unpersist
        it when the scope exits. Lazy, like ``persist()``: the first
        action that scans it fills the cache."""
        if not df.is_cached:
            df = df.persist()
        self._stack.callback(df.unpersist)
        return df

    def release(self, df: DataFrame) -> DataFrame:
        """Release ``df``'s checkpoint RDDs when the scope exits. Never
        register a checkpoint the operator's returned frame still reads."""
        self._stack.callback(release_checkpoint, df)
        return df

    def release_on_error(self, df: DataFrame) -> DataFrame:
        """Release ``df``'s checkpoint RDDs only if the scope exits with
        an exception: for checkpoints made before the scope that the
        operator's result still reads when it succeeds."""
        def on_exit(exc_type, exc, tb) -> bool:
            if exc_type is not None:
                release_checkpoint(df)
            return False

        self._stack.push(on_exit)
        return df

    def restore_conf(self) -> None:
        """Give the caller's conf back now, before the scope exits: for
        post-loop work that must plan under the caller's conf while the
        registered caches are still alive."""
        self._conf.close()


@contextmanager
def loop_scope(
    spark: SparkSession, p: int, *, keep_aqe: bool = False
) -> Iterator[LoopScope]:
    """Run the enclosed loop with AQE off and ``p`` shuffle partitions;
    unpersist/release everything registered on the yielded scope and
    restore the conf on exit."""
    conf = {"spark.sql.shuffle.partitions": str(p)}
    if not keep_aqe:
        conf["spark.sql.adaptive.enabled"] = "false"
    jsc = spark.sparkContext._jsc
    # RDD ids only grow: every RDD this scope creates has a larger id
    watermark = jsc.emptyRDD().id()

    def release_new_checkpoints(exc_type, exc, tb) -> bool:
        if exc_type is not None:
            for rid, jrdd in dict(jsc.getPersistentRDDs()).items():
                if rid > watermark and jrdd.rdd().isLocallyCheckpointed():  # allow-jvm-handle: py4j accessor on a JavaRDD, not the Python RDD API
                    jrdd.unpersist(False)
        return False

    with ExitStack() as stack:
        stack.push(release_new_checkpoints)
        undo_conf = stack.enter_context(ExitStack())
        for key, value in conf.items():
            undo_conf.callback(spark.conf.set, key, spark.conf.get(key))
            spark.conf.set(key, value)
        yield LoopScope(stack, undo_conf)
