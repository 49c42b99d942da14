package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.DatasetBridge

/** The materialization fence used by every iterative / two-phase
  * operator (the prefix scan `Scan.prefix`, which every rank and
  * running offset goes through, and connected components): truncate
  * lineage so round r's plan doesn't replay rounds 1..r-1, and pin a
  * partitioning both consumers of a frame agree on.
  *
  * `localCheckpoint(eager = true)` is the right default on a healthy
  * cluster — executor-local blocks, no FS round trip — but those
  * blocks die with their executor, and on a 1000-executor job some
  * executor WILL die: any fenced multi-round operator would fail
  * mid-flight and restart from zero. Set
  * `spark.graft.reliableCheckpoints=true` to route every fence through
  * reliable FS `checkpoint()` instead (blocks in the checkpoint dir,
  * survives executor loss; requires `SparkContext.setCheckpointDir` —
  * or set `spark.graft.checkpointDir` and the fence applies it once).
  * Results are identical either way (CheckpointsSpec proves it); the
  * conf trades per-round latency for mid-job durability.
  */
object Checkpoints {

  def fence(df: DataFrame): DataFrame =
    DatasetBridge.capCheckpointStats(checkpoint(df))

  private def checkpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable =
      spark.conf.getOption("spark.graft.reliableCheckpoints").exists(_.toBoolean)
    if (!reliable) df.localCheckpoint(true)
    else {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        spark.conf.getOption("spark.graft.checkpointDir").foreach(sc.setCheckpointDir)
      require(sc.getCheckpointDir.nonEmpty,
        "spark.graft.reliableCheckpoints=true needs a checkpoint dir: call " +
          "SparkContext.setCheckpointDir or set spark.graft.checkpointDir")
      df.checkpoint(true)
    }
  }

  /** Drop a `fence`'s executor-local blocks once nothing will read
    * them again (non-blocking unpersist). Without it a multi-round
    * operator holds every superseded round's blocks until a GC lets
    * the ContextCleaner find them. A reliable fence's files are left
    * alone, and a frame that is not a fence is untouched. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ =>
  }
}
