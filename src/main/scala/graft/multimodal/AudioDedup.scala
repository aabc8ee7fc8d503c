package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Audio near-duplicate detection — the audio twin of [[ImageDedup]]:
  * a 64-bit ENERGY-DELTA fingerprint (bit i set iff window i+1's exact
  * PCM energy exceeds window i's — the dHash idea on the time axis:
  * the SIGN pattern of the energy envelope survives uniform gain
  * changes and re-encoding jitter that move every absolute energy),
  * then the same multi-index-hashed candidate join, bit_count verify
  * and alternating-star clustering as the image family.
  *
  * Real decode path: [[energyWindows]] parses WAV/AIFF/AU via the
  * JDK's `javax.sound.sampled` (zero external deps) and accumulates
  * EXACT integer per-window sums of squares over PCM16 samples —
  * spec-checked with planted in-memory WAVs (MediaSpec). The gate
  * (q130) runs the codec-free stub twin [[stubAudioHashesSql]], pure
  * Catalyst md5 with a verbatim DuckDB form, exactly like q124's
  * image stub.
  */
object AudioDedup {

  /** 65 windows → 64 deltas → one 64-bit fingerprint. */
  val Windows = 65

  /** Exact per-window PCM16 energies: window w accumulates sample
    * indices i with ⌊i·65/n⌋ = w (all channels interleaved — channel
    * balance is part of the envelope). None for undecodable, non-16-bit
    * or shorter-than-65-sample payloads (too short to fingerprint). */
  def energyWindows(content: Array[Byte]): Option[Array[Long]] = try {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(content))
    val fmt = ais.getFormat
    if (fmt.getSampleSizeInBits != 16) None
    else {
      val pcm = ais.readAllBytes()
      val n = pcm.length / 2
      if (n < Windows) None
      else {
        val out = new Array[Long](Windows)
        var i = 0
        while (i < n) {
          val b0 = pcm(2 * i)
          val b1 = pcm(2 * i + 1)
          val s =
            if (fmt.isBigEndian) (b0 << 8) | (b1 & 0xff)
            else (b1 << 8) | (b0 & 0xff)
          out((i.toLong * Windows / n).toInt) += s.toLong * s
          i += 1
        }
        Some(out)
      }
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Delta fingerprint of a 65-window envelope: bit i ⇔ e(i+1) > e(i).
    * Strict `>` keeps digital silence (all-zero energies) at hash 0. */
  def energyDeltaHash(e: Array[Long]): Long = {
    require(e.length == Windows,
      s"energyDeltaHash needs $Windows windows, got ${e.length}")
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (e(i + 1) > e(i)) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** (media_id, fhash) per decodable audio payload. Batched
    * partition-local decode, no shuffle; undecodable payloads are
    * dropped (they cannot be near anything). */
  def audioHashes(media: Dataset[Media.MediaRow],
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.iterator.flatMap { r =>
        energyWindows(r.content)
          .map(e => (r.mediaId, energyDeltaHash(e)))
      })
    }.toDF("media_id", "fhash")
  }

  /** Scala twin of the stub fingerprint: pseudo-energies = the first 65
    * bytes of the md5-expanded payload (the [[ImageDedup
    * .StubGrayDecoder]] stream), delta-hashed. Spec-pinned equal to
    * [[stubAudioHashesSql]] row-for-row (MediaSpec). */
  def stubHashOf(content: Array[Byte]): Long = {
    val e = ImageDedup.StubGrayDecoder.gray(content, Windows, 1).get
    energyDeltaHash(e.map(_.toLong))
  }

  /** (media_id, fhash) of the STUB fingerprint as PURE Catalyst
    * expressions over a (doc_id, text) frame — the q130 gate path, with
    * a verbatim ANSI-SQL form the DuckDB oracle states. Same 5-digest
    * md5 expansion as [[ImageDedup.stubImageHashesSql]]; null texts are
    * undecodable → dropped. */
  def stubAudioHashesSql(docs: DataFrame): DataFrame =
    // fused codegen fingerprint (r16) — one digest-byte loop per row;
    // the column chain below is the spec-pinned parity twin
    // ([[stubAudioHashesChained]], MediaSpec bit-equality).
    docs.filter(col("text").isNotNull)
      .select(col("doc_id").as("media_id"),
        graft.functions.StubHashExpressions.audioStubFhash(col("text"))
          .as("fhash"))

  /** The column-chain form of [[stubAudioHashesSql]] — the semantic
    * definition, kept as the parity twin of the fused
    * [[graft.functions.AudioStubFhash]] expression. */
  def stubAudioHashesChained(docs: DataFrame): DataFrame = {
    val digests = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id").as("media_id") +:
        (0 until 5).map(r =>
          md5(concat(col("text"), lit(r.toString)).cast("binary"))
            .as(s"d$r")): _*)
    def en(p: Int): Column =
      conv(substring(col(s"d${p / 16}"), (p % 16) * 2 + 1, 2), 16, 10)
        .cast("long")
    val fhash = (0 until 64).map { i =>
      when(en(i + 1) > en(i), lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    digests.select(col("media_id"), fhash.as("fhash"))
  }

  /** Near-dup pairs at `maxHamming` over a (media_id, fhash) frame —
    * delegates to the image family's multi-index-hashed Hamming join
    * (the 64-bit code machinery is fingerprint-agnostic). */
  def nearDupPairs(hashes: DataFrame, maxHamming: Int = 7): DataFrame =
    ImageDedup.nearDupPairs(
      hashes.select(col("media_id"), col("fhash").as("dhash")), maxHamming)

  /** Clusters plus the one materialized hash frame (the q130 gate joins
    * them back) — the [[ImageDedup.nearDupClustersAndHashes]] contract
    * with the audio fingerprint column. */
  def nearDupClustersAndHashes(hashes: DataFrame,
      maxHamming: Int = 7): (DataFrame, DataFrame) = {
    val (h, clusters) = ImageDedup.nearDupClustersAndHashes(
      hashes.select(col("media_id"), col("fhash").as("dhash")), maxHamming)
    (h.select(col("media_id"), col("dhash").as("fhash")), clusters)
  }
}
