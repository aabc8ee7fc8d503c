package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Video near-duplicate detection — the third modality beside
  * [[ImageDedup]] (images) and [[AudioDedup]] (audio): videos are
  * fingerprinted as the SET of their sampled frames' content hashes,
  * and two videos are near-duplicates when the smaller one's frame set
  * is mostly contained in the other's (the classic frame-fingerprint
  * inverted-index shape of video copy detection — re-encoded or
  * trimmed copies keep most frames bit-identical at the
  * fingerprint level, while unrelated videos share none).
  *
  * Scale posture (the part that must survive 100 TB):
  *  - frame extraction is a pure per-row explode ([[Media
  *    .sampleFrames]]) — partition-local, no shuffle;
  *  - the candidate stage is a DISTINCT (video, frame-hash) projection
  *    followed by an equi-join on the frame hash — never video×video.
  *    A hot-frame cap (frames present in more than `maxOcc` videos —
  *    color bars, black frames, station idents) bounds each join
  *    bucket to `maxOcc` rows, so per-frame pair fan-out is ≤
  *    maxOcc²/2 regardless of corpus size (the [[graft.dedup.Dedup]]
  *    hot-shingle cap, one modality over);
  *  - the keep decision is INTEGER cross-multiplied
  *    (`shared·100 ≥ pct·min(n_a,n_b)`) — no FP in the verdict;
  *  - clustering reuses [[graft.dedup.Dedup.clusterLabelsStar]]
  *    (O(log n) alternating-star rounds, small-tail local fallback).
  *
  * Real decode path: [[frameHashes]] samples binary frames via
  * [[Media.sampleFrames]] (a real frame grabber replaces only the
  * chunker, per that method's contract) and hashes each frame's bytes.
  * The gate (q131) runs the codec-free stub twin
  * [[stubFrameHashesSql]]: frames as fixed-width text substrings,
  * hashes as pure Catalyst md5 with a verbatim DuckDB form — exactly
  * the q124/q130 stub convention (MediaSpec pins the Scala/SQL parity).
  */
object VideoDedup {

  /** Stub frame width in characters (q131 gate constant). */
  val FrameLen = 32

  /** Stub frame-sampling stride in chunks (q131 gate constant). */
  val Stride = 2

  /** Default keep threshold: shared frames ≥ 80 % of the smaller
    * video's frame count. */
  val MinSharedPct = 80

  /** Hot-frame cap: frame hashes present in more than this many videos
    * are dropped from the candidate join (they assert nothing about
    * any PAIR of videos and their buckets are the skew). */
  val MaxOcc = 64

  /** (media_id, frame_idx, fhash) per sampled frame — the REAL byte
    * path: every `stride`-th chunk of the payload ([[Media
    * .sampleFrames]]) hashed by md5. Partition-local, no shuffle. */
  def frameHashes(media: Dataset[Media.MediaRow], stride: Int = 4): DataFrame =
    Media.sampleFrames(media, stride)
      .select(col("media_id"), col("frame_idx"),
        md5(col("frame_bytes")).as("fhash"))

  /** (media_id, chunk_idx, fhash) of the STUB fingerprint as PURE
    * Catalyst expressions over a (doc_id, text) frame — the q131 gate
    * path, with a verbatim ANSI-SQL form the DuckDB oracle states.
    * Frames are the `frameLen`-character substrings starting at every
    * `stride`-th chunk boundary (chunk_idx ∈ {0, stride, 2·stride, …},
    * chunk_idx·frameLen < length(text)); the final frame may be short.
    * Null/empty texts yield no frames (nothing to fingerprint). Both
    * engines hash the frame's UTF-8 bytes and count substring
    * positions in CHARACTERS, so multi-byte text agrees bit-for-bit
    * (MediaSpec). */
  def stubFrameHashesSql(docs: DataFrame, frameLen: Int = FrameLen,
      stride: Int = Stride): DataFrame = {
    require(frameLen > 0 && stride > 0,
      s"need frameLen > 0 and stride > 0, got $frameLen/$stride")
    val maxChunk = floor((length(col("text")) - 1) / frameLen).cast("long")
    docs
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id").as("media_id"), col("text"),
        explode(sequence(lit(0L), maxChunk, lit(stride.toLong)))
          .as("chunk_idx"))
      .select(col("media_id"), col("chunk_idx"),
        md5(col("text")
          .substr(col("chunk_idx") * frameLen + 1, lit(frameLen))
          .cast("binary")).as("fhash"))
  }

  /** Driver-local twin of [[stubFrameHashesSql]] for spec parity:
    * (chunk_idx, md5 hex) per frame of one text. */
  def stubFrameHashesLocal(text: String, frameLen: Int = FrameLen,
      stride: Int = Stride): Seq[(Long, String)] = {
    if (text == null || text.isEmpty) return Seq.empty
    val chars = text.toCharArray // java chars; substring is char-based
    (0 to (chars.length - 1) / frameLen by stride).map { i =>
      val frame = new String(chars, i * frameLen,
        math.min(frameLen, chars.length - i * frameLen))
      val md = java.security.MessageDigest.getInstance("MD5")
      (i.toLong,
        md.digest(frame.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    }
  }

  /** Near-duplicate video pairs over a (media_id, …, fhash) frame-hash
    * table: (id1, id2, shared, n1, n2) with id1 < id2 and
    * shared·100 ≥ minSharedPct·min(n1, n2), where n = the video's
    * DISTINCT frame-hash count and shared = distinct hashes in both.
    * Frame hashes present in more than `maxOcc` videos are excluded
    * from BOTH the candidate join and the shared count (but still
    * count toward n — a video of pure color bars matches nothing). */
  def nearDupPairs(frames: DataFrame, minSharedPct: Int = MinSharedPct,
      maxOcc: Int = MaxOcc): DataFrame = {
    require(minSharedPct > 0 && minSharedPct <= 100,
      s"minSharedPct must be in (0, 100], got $minSharedPct")
    val (counts, pairs) = countsAndPairs(
      graft.util.Checkpoints.materialize(distinctFrames(frames)),
      minSharedPct, maxOcc)
    val _ = counts
    pairs
  }

  /** END-TO-END video near-dup clustering over the real byte path:
    * sample frames → hash → pairs → star contraction. Returns
    * (media_id, cluster) for every video with at least one frame;
    * singletons label themselves (the [[ImageDedup.nearDupClusters]]
    * contract, third modality). */
  def nearDupClusters(media: Dataset[Media.MediaRow], stride: Int = 4,
      minSharedPct: Int = MinSharedPct, maxOcc: Int = MaxOcc): DataFrame =
    nearDupClustersAndCounts(frameHashes(media, stride), minSharedPct,
      maxOcc)._2

  /** Clustering plus the per-video distinct-frame counts — for callers
    * that also consume the counts (the q131 gate joins them back), so
    * the one distinct frame projection is materialized exactly once.
    * Returns ((media_id, n_frames), (media_id, cluster)). */
  def nearDupClustersAndCounts(frames: DataFrame,
      minSharedPct: Int = MinSharedPct,
      maxOcc: Int = MaxOcc): (DataFrame, DataFrame) = {
    val vf = graft.util.Checkpoints.materialize(distinctFrames(frames))
    val (counts, pairs) = countsAndPairs(vf, minSharedPct, maxOcc)
    val clustered = graft.dedup.Dedup.clusterLabelsStar(
      pairs.select(col("id1"), col("id2")))
    val clusters = counts.select(col("media_id"))
      .join(clustered.withColumnRenamed("id", "media_id"),
        Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("cluster"), col("media_id")).as("cluster"))
    (counts, clusters)
  }

  /** The video's fingerprint SET: distinct (media_id, fhash). */
  private def distinctFrames(frames: DataFrame): DataFrame =
    frames.select(col("media_id"), col("fhash")).distinct()

  private def countsAndPairs(vf: DataFrame, minSharedPct: Int,
      maxOcc: Int): (DataFrame, DataFrame) = {
    val counts = vf.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"))
    // hot-frame cap: semi-join against the cold-hash set so every join
    // bucket in the candidate self-join holds ≤ maxOcc rows
    val cold = vf.groupBy(col("fhash"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxOcc).select(col("fhash"))
    val vff = vf.join(cold, Seq("fhash"), "left_semi")
    val shared = vff.as("a")
      .join(vff.as("b"), col("a.fhash") === col("b.fhash") &&
        col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("id1"), col("b.media_id").as("id2"))
      .agg(count(lit(1)).as("shared"))
    val pairs = shared
      .join(counts.select(col("media_id").as("id1"),
        col("n_frames").as("n1")), "id1")
      .join(counts.select(col("media_id").as("id2"),
        col("n_frames").as("n2")), "id2")
      .filter(col("shared") * 100 >= least(col("n1"), col("n2")) *
        minSharedPct)
      .select("id1", "id2", "shared", "n1", "n2")
    (counts, pairs)
  }
}
