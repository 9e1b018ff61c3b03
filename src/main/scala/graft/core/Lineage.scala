package graft.core

import org.apache.spark.sql.DataFrame

/** Lineage cutting for iterative operators (pointer-doubling connected
  * components, Lloyd iterations): each round must not replay the full
  * chain of prior rounds, so the frame is materialized and its plan
  * truncated once per round.
  *
  * Two modes, one contract:
  *  - default `localCheckpoint`: blocks live on executor block
  *    managers — no filesystem round-trip, the right choice on a
  *    healthy cluster and in local mode. An executor loss mid-run
  *    loses blocks and fails the job (localCheckpoint truncates the
  *    lineage needed to recompute them).
  *  - `checkpointDir = Some(dir)`: reliable `checkpoint` to a durable
  *    filesystem (HDFS/object store). Survives executor death — a
  *    1000-executor run over hours should pay the write, because a
  *    single lost executor otherwise restarts the whole iteration
  *    chain from round 0.
  */
object Lineage {
  def cut(df: DataFrame, checkpointDir: Option[String] = None): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }
}
