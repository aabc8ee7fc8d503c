package graft.util

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** Memory-bounded grouped ordered gather — the safe plan shape for
  * collectors whose per-group payload is bounded by DOCUMENT size rather
  * than fixed arity (line rebuilds, per-doc token-id rebuilds, per-doc
  * shingle lists).
  *
  * Why not always `groupBy(...).agg(sort_array(collect_list(...)))`:
  * the session raises
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` to 16384
  * ([[graft.sources.Tables.sessionConfs]]) so the engine's FIXED-ARITY
  * grouped collectors (16-element minhash signatures, 64-dim coordinate
  * gathers, `collect_capped`) never pay a sort per exchange. Under that
  * threshold a doc-sized collect_list can hold up to 16384
  * document-sized buffers per task before the sort fallback engages —
  * an OOM class on large-document corpora. The STREAMING path here
  * instead plans `repartition(key) → sortWithinPartitions(key, order,
  * payload)` (both spill-safe) and folds each partition with a
  * run-length iterator that materializes exactly ONE group's payload at
  * a time, so peak aggregation memory is max(single document),
  * independent of the session threshold and of how many groups land in
  * a task.
  *
  * Runtime adaptation (the packSequences / SCC / BPE discipline): the
  * streaming path's RDD round-trip costs ~3× on small inputs (q53
  * 0.2 → 0.6 s when it was unconditional), so the classic
  * hash-aggregate plan — value-identical, spec-pinned — is kept while
  * the input's Catalyst-estimated size (`stats.sizeInBytes`, the same
  * statistic broadcast decisions trust; even a count-probe JOB per call
  * was measurable on hot gates) stays within [[MaxHashBytes]]: a batch
  * that small is bounded by its own size under any task split, orders
  * of magnitude inside executor memory. No probe job runs.
  *
  * Semantics (both paths, bit-identical): payloads gathered per key
  * group, ordered by (orderCols…, payload) ascending — exactly
  * `sort_array(collect_list(struct(orderCols…, payload)))`. Null
  * payloads are kept (the struct wrapper prevents collect_list's bare
  * null drop).
  */
object BoundedCollect {

  /** Largest Catalyst-estimated input, in bytes, that keeps the hash
    * plan. */
  private val MaxHashBytes: Long = 256L << 20

  /** Gather `payloadCol` per `keyCols` group, ordered by `orderCols`
    * then the payload itself, ascending (nulls first, matching both
    * sort_array and SQL ASC), as an array column `outCol`. Output
    * columns: keyCols :+ outCol. */
  def sortedGather(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], payloadCol: String,
      outCol: String): DataFrame = {
    val size = projection(df, keyCols, orderCols, payloadCol, outCol)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    if (size <= MaxHashBytes)
      hashGather(df, keyCols, orderCols, payloadCol, outCol)
    else streamingGather(df, keyCols, orderCols, payloadCol, outCol)
  }

  /** [[sortedGather]] by the hash plan, whatever the input size. */
  private[graft] def hashGather(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], payloadCol: String, outCol: String): DataFrame = {
    val proj = projection(df, keyCols, orderCols, payloadCol, outCol)
    // payload aliased: it may ALSO be an order column (the shingle
    // gather orders by the payload itself), which would make the
    // struct field reference ambiguous
    val sorted = sort_array(collect_list(
      struct(orderCols.map(col) :+ col(payloadCol).as("__p"): _*)))
    proj.groupBy(keyCols.map(col): _*)
      .agg(transform(sorted, x => x("__p")).as(outCol))
  }

  /** [[sortedGather]] by the streaming plan, whatever the input size. */
  private[graft] def streamingGather(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], payloadCol: String, outCol: String): DataFrame = {
    val proj = projection(df, keyCols, orderCols, payloadCol, outCol)
    val schema = proj.schema
    val nk = keyCols.length
    val payloadIdx = schema.length - 1
    val outSchema = StructType(
      schema.fields.take(nk) :+
        StructField(outCol, ArrayType(schema.fields(payloadIdx).dataType,
          containsNull = true)))
    val sorted = proj
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions(
        (keyCols ++ orderCols :+ payloadCol).map(col): _*)
    val gathered = sorted.rdd.mapPartitions { rows =>
      val it = rows.buffered
      new Iterator[Row] {
        override def hasNext: Boolean = it.hasNext
        override def next(): Row = {
          val head = it.head
          val key: IndexedSeq[Any] = (0 until nk).map(head.get)
          val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
          while (it.hasNext && (0 until nk).forall(i =>
              java.util.Objects.equals(it.head.get(i), key(i))))
            buf += it.next().get(payloadIdx)
          Row.fromSeq(key :+ buf.toSeq)
        }
      }
    }
    df.sparkSession.createDataFrame(gathered, outSchema)
  }

  /** The gather's input columns, keys first and the payload last. */
  private def projection(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], payloadCol: String, outCol: String): DataFrame = {
    require(keyCols.nonEmpty && !keyCols.contains(outCol),
      s"outCol $outCol must not collide with key columns $keyCols")
    df.select((keyCols ++ orderCols :+ payloadCol).map(col): _*)
  }
}
