"""Lineage truncation for iterative / multi-consumer plans.

The round-12 recompute audit materializes loop-invariant frames
(connected-components edge lists, KNN round results, k-means samples, the
dedup funnel's survivor stage) so each driver-side round or extra consumer
stops re-executing the whole upstream pipeline — at 100 TB that class was
re-hashing the corpus once per propagation round.

``localCheckpoint`` is the right local-mode mechanism (no configured
storage needed, truncates lineage, rides the next job when lazy) but its
blocks are UNREPLICATED executor-local state: on a real cluster a single
executor loss mid-query fails the whole query instead of recomputing
(r12 ADVICE).  Every engine call site therefore routes through
`truncate_lineage`, which prefers fault-tolerant ``DataFrame.checkpoint``
whenever the session has a checkpoint directory configured
(``spark.sparkContext.setCheckpointDir(...)`` — the cluster deployment
step) and falls back to ``localCheckpoint`` otherwise.  Reliable
checkpoints write to the fault-tolerant FS and survive executor loss; the
extra write is the price of restartability, paid only when the operator
asked for it by configuring the directory.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame

#: Explicit operator opt-in (r14 ADVICE): when this env var is set, every
#: truncate_lineage call routes to fault-tolerant ``DataFrame.checkpoint``
#: WITHOUT probing the context — the probe cannot run at all on runtimes
#: where ``sparkContext`` is unavailable (Spark Connect), and a
#: warn-then-localCheckpoint default there silently lands a cluster WITH
#: a configured dir on unreplicated executor-local blocks.  A
#: misconfigured opt-in (env set, no checkpoint dir on the session/server)
#: fails LOUDLY at checkpoint time instead — the right failure direction
#: for a fault-tolerance knob.  `tools/diff_oracle.py` sets the same var
#: and additionally calls ``setCheckpointDir`` for the rehearsals.
FORCE_CHECKPOINT_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def _has_checkpoint_dir(df: DataFrame) -> bool:
    """Whether the session has a reliable checkpoint dir configured.

    The ``SPARK_GRAFT_CHECKPOINT_DIR`` env override wins outright (see
    above).  Otherwise probes the public ``SparkContext.getCheckpointDir()``.
    On runtimes without a ``sparkContext`` (Spark Connect raises
    ``PySparkAttributeError``, an ``AttributeError``) it warns rather than
    silently defaulting: a quiet ``False`` would route a cluster WITH a
    configured dir onto unreplicated localCheckpoint, the exact failure
    mode this module exists to avoid (r13 ADVICE)."""
    if os.environ.get(FORCE_CHECKPOINT_ENV):
        return True
    try:
        sc = df.sparkSession.sparkContext
    except AttributeError:
        warnings.warn(
            "truncate_lineage: sparkContext unavailable (Spark Connect?) — "
            "cannot probe for a checkpoint dir; falling back to "
            "localCheckpoint, which is UNREPLICATED executor-local state",
            RuntimeWarning, stacklevel=3)
        return False
    return sc.getCheckpointDir() is not None


def truncate_lineage(df: DataFrame, eager: bool = False) -> DataFrame:
    """A lineage-truncation point: fault-tolerant ``checkpoint`` when the
    session has a checkpoint dir (cluster mode), else ``localCheckpoint``.

    ``eager=False`` (the engine default) defers materialization to the
    first consuming job — iterative loops batch it with the round's
    convergence job instead of paying a standalone materialization job."""
    if _has_checkpoint_dir(df):
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
