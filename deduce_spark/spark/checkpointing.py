"""Injectable lineage-cut strategy for iterative DataFrame operators.

Every iterative operator in this repo (pagerank_quantized,
connected_components, kcore_peel, bpe_train) must cut lineage each
round or the upstream subtree re-executes a factor per round
(3^rounds for kcore_peel — see its docstring).  On a single box an
eager ``localCheckpoint`` is the right cut: it materializes partitions in
executor block storage with no filesystem round-trip.  On a real
multi-executor cluster that storage dies with the executor, so the
cut must be a *reliable* checkpoint into a fault-tolerant directory
(HDFS/S3), or whatever the deployment's persistence story is.

:func:`make_checkpointer` turns a user-facing ``checkpoint=`` argument
into the cut function the loops call, so the strategy is injectable
without editing operator source:

- ``None`` (default)  -> ``df.localCheckpoint(eager=True)`` — identical
  to the historical hard-coded behavior;
- a ``str`` directory -> ``SparkContext.setCheckpointDir`` once, then
  ``df.checkpoint(eager=True)`` per cut (reliable, survives executor
  loss);
- a callable          -> used as-is (``DataFrame -> DataFrame``); lets a
  deployment plug in e.g. write-to-Delta-and-reread without touching
  this repo.
"""

from __future__ import annotations

from typing import Callable, Union

from pyspark.sql import DataFrame

CheckpointArg = Union[None, str, Callable[[DataFrame], DataFrame]]


def make_checkpointer(
    checkpoint: CheckpointArg = None,
) -> Callable[[DataFrame], DataFrame]:
    """Resolve a ``checkpoint=`` argument into a lineage-cut function.

    See module docstring for the three accepted forms.  The returned
    function is what iterative loops call once per round on the tables
    they chain on.
    """
    if checkpoint is None:
        return lambda df: df.localCheckpoint(eager=True)
    if callable(checkpoint):
        return checkpoint
    if isinstance(checkpoint, str):
        configured = False

        def _reliable(df: DataFrame) -> DataFrame:
            # setCheckpointDir appends a random UUID subdir, so set it
            # once per checkpointer (not per cut) to keep one run's cuts
            # under one directory.
            nonlocal configured
            if not configured:
                df.sparkSession.sparkContext.setCheckpointDir(checkpoint)
                configured = True
            return df.checkpoint(eager=True)

        return _reliable
    raise TypeError(
        f"checkpoint must be None, a directory path, or a callable; "
        f"got {type(checkpoint).__name__}"
    )
