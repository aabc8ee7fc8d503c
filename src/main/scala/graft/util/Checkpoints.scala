package graft.util

import org.apache.spark.sql.DataFrame

/** Lineage cut for iterative operators (BFS, connected components,
  * k-means): every round must truncate the logical plan or the lineage —
  * and with it task binaries and stack depth — grows without bound.
  *
  * One rule, read from the SparkContext (the rule Spark's own
  * `PeriodicCheckpointer` follows for GraphX Pregel and MLlib):
  *  - a checkpoint dir is set (`spark.checkpoint.dir` at context start,
  *    or `SparkContext.setCheckpointDir`): reliable `checkpoint(eager)`
  *    into it — survives executor loss at the cost of a write+read of
  *    each round's frame. The right call for long iterative jobs on
  *    preemptible clusters. Checkpoint files are NOT auto-deleted;
  *    whoever sets the dir owns its cleanup.
  *  - no dir (the default): `localCheckpoint(eager)` — blocks live on
  *    executors. Fastest, but NOT fault-tolerant: losing one executor
  *    (preemption, dynamic deallocation) aborts the job because the
  *    truncated lineage cannot recompute. The right call on local[n].
  */
object Checkpoints {

  /** Session conf gating [[materialize]]. Operators that must release
    * their persist()ed intermediates do so by eagerly materializing
    * their (small) result first; set this to `false` to keep those
    * operators fully LAZY — plans stay inspectable end-to-end
    * (ExplainAudit, plan-asserting specs) at the cost of intermediate
    * caches living until the session clears them. */
  val MaterializeConf = "spark.graft.materialize"

  /** Eagerly materialize `df` (localCheckpoint) and release the given
    * upstream caches — the cache-hygiene pattern for operators whose
    * result is orders of magnitude smaller than their persisted
    * intermediates. No-op passthrough (caches left live) when
    * [[MaterializeConf]] is `false`. */
  def materialize(df: DataFrame,
      unpersistAfter: Seq[DataFrame] = Nil): DataFrame =
    if (df.sparkSession.conf.get(MaterializeConf, "true").toBoolean) {
      val out = df.localCheckpoint(true)
      unpersistAfter.foreach(_.unpersist())
      out
    } else df

  /** [[materialize]] for SEVERAL independent frames at once: the eager
    * localCheckpoints run CONCURRENTLY (guide §2.6 — each checkpoint is
    * one job whose straggler tail otherwise idles the cluster while the
    * next frame waits), then the upstream caches are released. Returns
    * the checkpointed frames in input order. No-op passthrough when
    * [[MaterializeConf]] is `false`. */
  def materializeAll(dfs: Seq[DataFrame],
      unpersistAfter: Seq[DataFrame] = Nil): Seq[DataFrame] =
    if (dfs.isEmpty) dfs
    else if (dfs.head.sparkSession.conf
        .get(MaterializeConf, "true").toBoolean) {
      import java.util.concurrent.{CompletableFuture, CompletionException}
      val futs = dfs.map(df => CompletableFuture.supplyAsync(
        () => df.localCheckpoint(true)))
      val out = futs.map(f =>
        try f.join()
        catch {
          case e: CompletionException if e.getCause != null =>
            throw e.getCause
        })
      unpersistAfter.foreach(_.unpersist())
      out
    } else dfs

  /** Release the block-manager storage of a frame produced by
    * `localCheckpoint` once it is SUPERSEDED (a newer checkpoint holds
    * everything downstream still needs). Unlike `unpersist()` on the
    * frame (a no-op — localCheckpoint registers no CacheManager
    * entry), this frees the exact RDD backing the checkpoint, keyed
    * off the plan's ROOT LogicalRDD — no global persistent-RDD diff,
    * so concurrent operators' blocks are never touched. A frame whose
    * root is NOT a LogicalRDD (a projection/filter DERIVED from a
    * checkpoint) is a no-op: the caller doesn't own the parent's
    * storage, and reaching through the plan to the first leaf would
    * silently free a still-live parent checkpoint. CAUTION: the
    * checkpointed lineage cannot recompute; only call on frames no
    * consumer will scan again. */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false)
      case _ => () // derived frame: not the owner of any checkpoint
    }

  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)
}
