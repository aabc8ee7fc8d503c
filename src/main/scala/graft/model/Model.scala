package graft.model

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Core data model — Spark-first re-expression of the reference's four
  * record layers (net-spider/src/NetSpider/Found.hs:98-140,
  * Snapshot/Internal.hs:34-114, Unify.hs:47-55).
  *
  * The generic attribute payload is `Map[String,String]` (the reference's
  * open NodeAttributes/LinkAttributes typeclasses,
  * Graph/Internal.hs:231-267, generic PMap instance); typed domains (RPL)
  * layer case classes on top and convert.
  *
  * Time is epoch milliseconds (`Timestamp.epochTime :: Int64` ms,
  * Timestamp.hs:58-65) with an optional timezone struct kept SEPARATE from
  * the instant — ordering ignores the zone (Timestamp.hs:68-69), and Spark
  * TimestampType would lose the original zone, so we never collapse to it.
  */
object LinkState {
  val Unused = "unused"
  val ToTarget = "to_target"
  val ToSubject = "to_subject"
  val Bidirectional = "bidirectional"
  val all: Seq[String] = Seq(Unused, ToTarget, ToSubject, Bidirectional)
}

/** Timezone metadata riding along with a timestamp
  * (Graph/Internal.hs:75-98 meta-properties). */
case class Tz(offsetMin: Int, summerOnly: Boolean, name: String)

/** One observed neighbor link (Found.hs:98-104). */
case class FoundLink(
    targetNode: String,
    linkState: String,
    linkAttrs: Map[String, String])

/** One local finding: a node's observation of itself + its neighbor links
  * at one instant (Found.hs:133-140). `findingSeq` is a deterministic
  * tie-break for equal timestamps (the reference relies on insertion
  * order, which a distributed engine cannot). */
case class FoundNode(
    subjectNode: String,
    epochMs: Long,
    nodeAttrs: Map[String, String],
    neighborLinks: Seq[FoundLink],
    findingSeq: Long = 0L,
    tz: Option[Tz] = None)

/** The snapshot graph as a pair of DataFrames (Snapshot/Internal.hs:34).
  * nodes: node_id, is_on_boundary, epoch_ms (nullable), node_attrs (nullable)
  * links: source_node, dest_node, is_directed, epoch_ms, link_attrs
  */
case class SnapshotGraph(nodes: DataFrame, links: DataFrame)

object Findings {
  /** Canonical findings DataFrame columns:
    * subject STRING, epoch_ms BIGINT, finding_seq BIGINT,
    * node_attrs MAP<STRING,STRING>,
    * links ARRAY<STRUCT<target STRING, link_state STRING,
    *                    link_attrs MAP<STRING,STRING>>>
    */
  def fromSeq(spark: SparkSession, fns: Seq[FoundNode]): DataFrame = {
    import spark.implicits._
    toCanonical(spark.createDataset(fns))
  }

  def toCanonical(ds: Dataset[FoundNode]): DataFrame =
    ds.toDF().select(
      col("subjectNode").as("subject"),
      col("epochMs").as("epoch_ms"),
      col("findingSeq").as("finding_seq"),
      col("nodeAttrs").as("node_attrs"),
      transform(col("neighborLinks"), l => struct(
        l.getField("targetNode").as("target"),
        l.getField("linkState").as("link_state"),
        l.getField("linkAttrs").as("link_attrs"))).as("links"),
      col("tz"))

  /** Spark type of the optional timezone struct riding with timestamps
    * (epoch ordering ignores it — Timestamp.hs:68-69 — but storage,
    * JSON and GraphML must round-trip it; SURVEY §7.4-6). */
  val tzType = "struct<offsetMin:int,summerOnly:boolean,name:string>"

  /** Findings DataFrames built outside [[toCanonical]] may lack the tz
    * column; add a null one so the weave pipeline is schema-stable. */
  def ensureTz(df: DataFrame): DataFrame =
    if (df.columns.contains("tz")) df
    else df.withColumn("tz", lit(null).cast(tzType))
}
