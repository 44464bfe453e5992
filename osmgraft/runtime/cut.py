"""The engine's one materialization cut.

The engine cuts lineage on relations that are reused by several
consumers (iterative connected-component frontiers, tfidf posting lists,
the dup-span gram stream, cell spines) so each is computed once and an
iterative loop's plan stays bounded. Every such site calls :func:`cut`.

The kind of cut follows the session's deployment, not an option:

- the session has a checkpoint dir (``--conf spark.checkpoint.dir=…`` at
  submit time, or ``SparkContext.setCheckpointDir``): ``df.checkpoint()``
  writes the relation there. A cluster run needs this, because the
  checkpoint survives the loss of the executor that computed it.
- otherwise: ``df.localCheckpoint()`` keeps the blocks in executor
  storage. RAM speed, no DFS, but an executor loss fails the query
  instead of recomputing.

Both kinds truncate lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def release_cuts() -> int:
    """Return 0; no cut holds anything a caller must release.

    Kept because ``perfbench/registry_interactive.py`` calls it between
    queries. Local checkpoint blocks are dropped by the context cleaner
    with their RDDs; reliable checkpoint files are deleted by it when the
    session sets ``spark.cleaner.referenceTracking.cleanCheckpoints``
    (``osmgraft.session.get_spark`` does)."""
    return 0


def cut(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and return it with its lineage truncated."""
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint()
    return df.localCheckpoint()
