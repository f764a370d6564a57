"""Fault-tolerance-aware checkpointing for iterative plans.

``DataFrame.localCheckpoint()`` truncates lineage by storing blocks on
executors WITHOUT replication: on a real cluster, losing one executor
after the checkpoint loses blocks that can no longer be recomputed (the
lineage is gone), killing the job. That is acceptable in ``local[N]``
(one JVM — if it dies the job is dead anyway) but not in the
1000-executor posture, where iterative operators (PageRank, k-means,
connected components) hold their loop-invariant frames for many stages.

``reliable_checkpoint`` picks the right mechanism per deployment:

- If a reliable checkpoint directory is configured — either the standard
  ``sparkContext.setCheckpointDir`` / ``spark.checkpoint.dir``, or this
  package's ``spark.cupertino.checkpoint.dir`` conf (applied lazily so a
  plain ``spark-submit --conf`` is enough) — use ``DataFrame.checkpoint``:
  blocks go to the fault-tolerant store (HDFS/S3) and survive executor
  loss.
- Else, in ``local[*]`` masters, fall back to ``localCheckpoint`` — same
  semantics, no distributed-FS requirement, appropriate because local
  mode has no partial-failure domain.
- Else (cluster master, no directory configured) fail fast with an
  actionable error instead of silently running with unreplicated blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CHECKPOINT_DIR_CONF = "spark.cupertino.checkpoint.dir"


def reliable_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate lineage, fault-tolerantly on clusters.

    Returns the checkpointed DataFrame; see module docstring for the
    directory-selection rules.
    """
    spark = df.sparkSession
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        conf_dir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
        if conf_dir:
            sc.setCheckpointDir(conf_dir)
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    master = sc.master or ""
    if master.startswith("local"):
        return df.localCheckpoint(eager=eager)
    raise RuntimeError(
        "reliable_checkpoint: no checkpoint directory configured on a "
        f"cluster master ({master!r}). Set {CHECKPOINT_DIR_CONF} (or call "
        "sparkContext.setCheckpointDir) to a fault-tolerant path; "
        "localCheckpoint would store unreplicated executor-local blocks "
        "that cannot survive executor loss."
    )
