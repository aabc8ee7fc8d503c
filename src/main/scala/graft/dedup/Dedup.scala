package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Deduplication operators for training-data pipelines: exact (hash
  * groupBy), n-gram Jaccard, MinHash+LSH, SimHash. All column-expression
  * based — the hash arithmetic is md5-derived so the DuckDB oracle states
  * the identical math.
  *
  * Scale notes: exact dedup is one hash aggregation on the content hash;
  * MinHash banding turns all-pairs comparison into an equi-join on band
  * buckets (shuffle on bucket key, candidates only); n-gram Jaccard joins
  * on shingles and is meant for WITHIN-bucket verification at scale (here
  * also exposed standalone for the gate).
  */
object Dedup {

  /** Stable 32-bit integer hash of a string via md5 prefix — identical in
    * DuckDB as ('0x' || substr(md5(x), 1, 8))::BIGINT. */
  def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Exact dedup: group by content hash of the normalized token stream;
    * representative = min id. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(TextOps.fingerprint(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_docs"))

  /** INCREMENTAL exact dedup — the daily-ingest shape: of an incoming
    * batch, keep only docs whose content hash is (a) absent from the
    * existing corpus and (b) the minimum-id representative within the
    * batch. Returns the surviving incoming ids. Two hash equi-joins:
    * a batch-side min-id aggregation and an anti-join against the
    * existing DISTINCT hash set — at 100 TB the existing side is a
    * hash projection (one slim column), never the full corpus, and the
    * anti-join shuffles only hashes. Deduping a batch against history
    * this way is O(batch + |hash set|), not O(corpus²) re-dedup. */
  def dedupIncrement(existing: DataFrame, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ex = existing.select(md5(col(textCol)).as("h")).distinct()
    incoming.select(col(idCol).as("doc_id"), md5(col(textCol)).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .join(ex, Seq("h"), "left_anti")
      .select(col("doc_id"))
  }

  /** Distinct word k-gram shingles per doc: (id, shingle). Tokenization
    * is materialized as one projected column first, so the (regex-split)
    * work happens once per document; the shingle build itself is the
    * codegen'd [[graft.functions.WordShingles]] expression (the HOF form
    * is interpreter-bound — see [[shinglesHof]], kept as the in-engine
    * parity twin). */
  def shingles(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // spread: tokenize+explode multiplies per-row work; a byte-small
    // single-row-group corpus must not shingle in one task (see
    // graft.util.Spread — 100x sweep finding). Kept BYTE-FLOORED, not
    // spreadAmplified: r16 standalone A/B showed the unconditional
    // exchange is a net LOSS for this family's consumers (q109 builds
    // four shingle frames per run, 1.42 → 1.88 s; q22 0.47 → 0.55;
    // q136/q21/q193 flat) — per-doc distinct shingles aggregate after
    // their own exchange anyway. positionedShingles differs (no dedup,
    // 50x row fan-out into a capped-collect partial agg in the map
    // stage) and IS spreadAmplified.
    graft.util.Spread.spread(docs).select(col(idCol).as("id"),
        explode(graft.functions.TextExpressions.wordShingles(
          TextOps.tokens(col(textCol)), k)).as("shingle"))
      .filter(col("shingle") =!= "")

  /** Interpreted HOF twin of [[shingles]] — same math stated with Spark
    * built-ins only; cross-checked against the codegen expression by
    * spec. */
  def shinglesHof(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tokenized = docs.select(col(idCol).as("id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val sh = transform(
      sequence(lit(0), greatest(size(col("toks")) - k, lit(0))),
      i => array_join(slice(col("toks"), i + 1, lit(k)), " "))
    tokenized.select(col("id"), explode(array_distinct(sh)).as("shingle"))
      .filter(col("shingle") =!= "")
  }

  /** N-gram Jaccard near-dup pairs: docs sharing ≥ `threshold` Jaccard
    * over distinct k-gram shingles.
    *
    * EXACT result via prefix filtering (the PPJoin family): order each
    * doc's shingles by global (frequency, shingle) ascending; if
    * jaccard(A,B) ≥ t then A and B must share a shingle within their
    * first ⌊(1−t)·|d|⌋+1 rarest shingles — so the candidate join runs
    * only on RAREST-prefix shingles (hot shingles, the skew source, are
    * excluded from most prefixes), and candidates are verified with the
    * true intersection. At 100 TB this is the difference between a
    * skew-bound quadratic shuffle and a rare-key equi-join.
    *
    * Two additional scale guards:
    *  - the LENGTH filter (jaccard ≥ t ⇒ t·max(|A|,|B|) ≤ min(|A|,|B|))
    *    runs inside the candidate join — free candidate reduction before
    *    any verification work;
    *  - docs with more than `maxVerifyShingles` shingles are verified by
    *    a second shingle EQUI-JOIN (intersection = matching-shingle
    *    count) instead of materialized arrays, so one pathological
    *    multi-MB document never becomes a multi-MB shuffle row.
    *
    * The result is materialized (localCheckpoint) before returning so the
    * intermediate shingle/ranked caches can be released eagerly — the
    * pair list is orders of magnitude smaller than the corpus. */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text",
      maxVerifyShingles: Int = 16384): DataFrame = {
    // persisted: consumed by BOTH the frequency agg and the ranked join —
    // without it the tokenize+explode (the scan-heavy stage) runs twice
    val sh = shingles(docs, k, idCol, textCol).persist()
    // global shingle frequency via groupBy + join back, NOT a
    // partitionBy(shingle) window: the window funnels a hot shingle's
    // FULL occurrence set (a stop-phrase can touch most of a corpus)
    // through one task, while groupBy's map-side partial aggregation
    // absorbs hot keys before the shuffle and the join back fans the
    // one-row count out across however many tasks hold the shingle.
    val freqs = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("freq"))
    val withFreq = sh.join(freqs, Seq("shingle"))
    // per-doc shingle array sorted by (freq, shingle) ascending — a
    // doc-sized gather, so BoundedCollect (one group's buffer at a
    // time past the byte threshold; adaptive via plan statistics, no
    // probe job — see graft.util.BoundedCollect / Tables.sessionConfs)
    val ranked = graft.util.BoundedCollect.sortedGather(
        withFreq.select(col("id"), col("freq"), col("shingle")),
        Seq("id"), Seq("freq", "shingle"), "shingle", "shingles")
      .select(col("id"), col("shingles"), size(col("shingles")).as("sz"))
      .persist()
    // prefix length |d| − ⌈t·|d|⌉ + 1, computed with an epsilon guard:
    // floating-point t·|d| can land a hair above an exact integer
    // (0.8·40 = 32.000000000000004), and an unguarded ceil/floor then
    // SHORTENS the prefix by one — silently dropping true pairs.
    val prefixLen = greatest(
      col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)).cast("int") + 1,
      lit(1))
    val prefix = ranked.select(col("id"), col("sz"),
      explode(slice(col("shingles"), lit(1), prefixLen)).as("shingle"))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id") &&
        // length filter: |min| ≥ t·|max| is necessary for jaccard ≥ t
        least(col("a.sz"), col("b.sz")).cast("double") >=
          lit(threshold) * greatest(col("a.sz"), col("b.sz")) - lit(1e-9))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    val sizes = ranked.select(col("id"), col("sz"))
    val withSz = cands
      .join(sizes.toDF("id1", "sz1"), "id1")
      .join(sizes.toDF("id2", "sz2"), "id2")
    val smallV = withSz
      .filter(greatest(col("sz1"), col("sz2")) <= maxVerifyShingles)
      .join(ranked.select(col("id").as("id1"), col("shingles").as("s1")), "id1")
      .join(ranked.select(col("id").as("id2"), col("shingles").as("s2")), "id2")
      .select(col("id1"), col("id2"), col("sz1"), col("sz2"),
        size(array_intersect(col("s1"), col("s2"))).as("inter"))
    // join-based verify for oversized docs: count matching shingles per
    // pair — flat rows through the shuffle, never a whole-doc array.
    // Candidates always share ≥1 prefix shingle, so the inner join
    // cannot drop a qualifying pair.
    val largeV = withSz
      .filter(greatest(col("sz1"), col("sz2")) > maxVerifyShingles)
      .join(sh.select(col("id").as("id1"), col("shingle")), "id1")
      .join(sh.select(col("id").as("id2"), col("shingle")),
        Seq("id2", "shingle"))
      .groupBy(col("id1"), col("id2"), col("sz1"), col("sz2"))
      .agg(count(lit(1)).as("inter"))
    graft.util.Checkpoints.materialize(
      smallV.unionByName(largeV)
        .withColumn("jaccard", round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")), 6))
        .filter(col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard"),
      unpersistAfter = Seq(sh, ranked))
  }

  /** Connected components via ALTERNATING large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * converges in O(log n) rounds regardless of component DIAMETER,
    * where plain min-label propagation ([[clusterLabels]]) needs
    * diameter-many rounds. Same output contract: (id, cluster = min id
    * in component) for every id appearing in `pairs`. Each round is two
    * grouped-min aggregations + joins over the (shrinking) edge set.
    *
    *  - large-star: every node connects its LARGER neighbors to the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: every node connects its smaller-or-equal neighbors
    *    (and itself) to that minimum.
    *
    * Fixpoint = per-component stars centered on the min id. */
  def clusterLabelsStar(pairs: DataFrame): DataFrame = {
    import graft.util.Checkpoints.cut
    // oriented (u big, v small), self-pairs dropped
    var e = cut(pairs
      .select(greatest(col("id1"), col("id2")).as("u"),
        least(col("id1"), col("id2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct(), eager = false)
    val ids = cut(e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id"))).distinct(),
      eager = false)
    // Convergence: ONE cheap signature aggregate per round — (count,
    // sum(hash(u)), sum(hash(v))) — instead of two full except() jobs.
    // Both frames are distinct sets, so equal counts plus next ⊆ e
    // implies set equality; the subset check runs ONLY when the
    // signature says "candidate fixpoint" (normally once, at the end),
    // guarding against the astronomically-unlikely hash collision.
    def sig(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(hash(col("u")).cast("long")),
        sum(hash(col("v")).cast("long"))).collect()(0)
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var eSig = sig(e)
    // ADAPTIVE small-tail fallback (the same runtime-adaptivity idea as
    // AQE): the deduped edge set is usually orders of magnitude smaller
    // than the input pair stream — when it fits the driver lane
    // (graft.util.DriverLane: ~150 MB of map state at its bound) and
    // its ids are of a type the lane groups on, a single-pass
    // union-find beats O(log n) shuffle rounds outright. The count is
    // already paid (it IS the convergence signature), the edges are
    // already materialized distributed (lineage cut), and the bound
    // keeps the decision safe at 100 TB: a billion-edge dup graph takes
    // the star rounds, a million-edge tail doesn't pay 6 shuffle rounds
    // of job overhead.
    val idT = graft.util.DriverLane.idType(e.schema("u").dataType)
    if (idT.isDefined && eSig._1 > 0L &&
        eSig._1 <= graft.util.DriverLane.rows)
      return localUnionFind(e, idT.get)
    var done = eSig._1 == 0L
    while (!done) {
      val sym = e.unionByName(
        e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.filter(col("v") > col("u"))
        .join(lsMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      // LAZY cut: the sig() aggregate right below materializes the
      // checkpoint and computes the signature in ONE job — an eager cut
      // would pay a second job per round just to store the same blocks
      val next = cut(ls.join(ssMin, "u")
        .select(col("v").as("a"), col("m"))
        .unionByName(ssMin.select(col("u").as("a"), col("m")))
        .filter(col("a") =!= col("m"))
        .select(col("a").as("u"), col("m").as("v"))
        .distinct(), eager = false)
      val nSig = sig(next)
      done = nSig == eSig && next.except(e).isEmpty
      eSig = nSig
      e = next
    }
    val pointed = e.groupBy(col("u")).agg(min(col("v")).as("cluster"))
      .select(col("u").as("id"), col("cluster"))
    val centers = ids.join(pointed, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster"))
    pointed.unionByName(centers)
  }

  /** Single-task union-find over an already-materialized (u, v) edge
    * frame — the small-tail path of [[clusterLabelsStar]]. Same output
    * contract: (id, cluster = min id in component) for every endpoint.
    * Min is taken under SPARK's value ordering (strings compare as
    * UTF-8 bytes, like UTF8String), so the fallback is bit-identical to
    * the distributed rounds even on supplementary-plane ids. Ids are of
    * `idT`, a `DriverLane.idType`. */
  private def localUnionFind(e: DataFrame,
      idT: org.apache.spark.sql.types.DataType): DataFrame = {
    val ord = graft.util.DriverLane.order(idT)
    val labeled = e.rdd.coalesce(1).mapPartitions { it =>
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      it.foreach { row =>
        val u = row.get(0); val v = row.get(1)
        if (!parent.containsKey(u)) parent.put(u, u)
        if (!parent.containsKey(v)) parent.put(v, v)
        val ru = find(u); val rv = find(v)
        if (ru != rv) parent.put(ru, rv)
      }
      val minOf = new java.util.HashMap[Any, Any]()
      parent.keySet().forEach { k =>
        val r = find(k)
        val cur = minOf.get(r)
        if (cur == null || ord.lt(k, cur)) minOf.put(r, k)
      }
      val out = Iterator.newBuilder[org.apache.spark.sql.Row]
      parent.keySet().forEach { k =>
        out += org.apache.spark.sql.Row(k, minOf.get(find(k)))
      }
      out.result()
    }
    e.sparkSession.createDataFrame(labeled,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idT),
        org.apache.spark.sql.types.StructField("cluster", idT))))
  }

  /** Train/test CONTAMINATION check: for each test document, how many
    * train documents share at least one k-gram shingle, and how many
    * distinct shingles leak. The standard eval-set hygiene pass before
    * training — a plain equi-join on the shingle key, grouped per test
    * doc. `maxShingleFreq` (optional) drops shingles appearing in more
    * than that many train docs before joining: boilerplate shingles are
    * both meaningless as contamination evidence and the joins's skew
    * source at 100 TB. */
  def contaminationCounts(train: DataFrame, test: DataFrame, k: Int = 3,
      maxShingleFreq: Option[Long] = None,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val trainSh0 = shingles(train, k, idCol, textCol)
      .select(col("id").as("train_id"), col("shingle"))
    val trainSh = maxShingleFreq match {
      case None => trainSh0
      case Some(cap) =>
        val hot = trainSh0.groupBy(col("shingle"))
          .agg(count(lit(1)).as("freq"))
          .filter(col("freq") > cap).select(col("shingle"))
        trainSh0.join(hot, Seq("shingle"), "left_anti")
    }
    val testSh = shingles(test, k, idCol, textCol)
      .select(col("id").as("test_id"), col("shingle"))
    testSh.join(trainSh, Seq("shingle"))
      .groupBy(col("test_id"))
      .agg(countDistinct(col("train_id")).as("n_contaminating_docs"),
        countDistinct(col("shingle")).as("n_shared_shingles"))
  }

  /** Per-document BIGRAM COVERAGE — a corpus-level fluency/quality
    * signal: the fraction of a doc's distinct word bigrams that occur in
    * at least `minDf` OTHER documents. Low coverage flags gibberish or
    * heavy OCR noise; high coverage with high dup-line ratio flags
    * boilerplate. One shingle equi-join against corpus document
    * frequencies (computed on the same shingle frame — shared scan). */
  def bigramCoverage(docs: DataFrame, minDf: Long = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // document frequency via groupBy + join back, not a
    // partitionBy(shingle) window: a stop-bigram ("of the") occurs in
    // nearly every document, and the window funnels its full
    // occurrence set through one task with no AQE escape hatch. The
    // groupBy absorbs hot keys map-side; the join back is
    // AQE-skew-splittable (and broadcastable when the distinct-bigram
    // side is small). Same class of fix as ngramJaccardPairs above.
    // persisted: consumed by BOTH the df aggregate and the join back —
    // without it the tokenize+explode corpus scan runs twice (the same
    // shared-scan discipline as ngramJaccardPairs' `sh`).
    val sh = shingles(docs, 2, idCol, textCol).persist()
    val dfs = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val withDf = sh.join(dfs, Seq("shingle"))
    val out = withDf.groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("df") >= minDf, 1)).as("n_covered"))
      .select(col("id"),
        col("n_bigrams"),
        round(col("n_covered").cast("double") / col("n_bigrams"), 6)
          .as("coverage"))
    // per-doc result ≪ the shingle frame: materialize, release the scan
    graft.util.Checkpoints.materialize(out, unpersistAfter = Seq(sh))
  }

  /** MinHash parameters: k permutations (a*x+b) mod P over 32-bit shingle
    * hashes. Deterministic constants, inlined identically in the oracle. */
  val P: Long = 2038074743L
  val numHashes: Int = 16
  val bands: Int = 4 // × 4 rows per band
  def aConst(i: Int): Long = ((2654435761L * (i + 1)) % P) | 1L
  def bConst(i: Int): Long = (40503L * (i + 7)) % P

  /** CORPUS-level MinHash signature — ONE row, sig_0..sig_{H-1} =
    * per-permutation min over the corpus's whole shingle SET (the
    * union of every doc's shingles). This is the dataset fingerprint
    * for [[corpusOverlap]]: constant-size output from one map-side-
    * combining aggregate — at 100 TB each task reduces its shingles to
    * H longs, so corpus-vs-corpus similarity costs two scans and no
    * join. Per-doc duplicate shingles don't affect a min, so no
    * distinct is needed. */
  def corpusMinhash(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sh = shingles(docs, k, idCol, textCol)
      .withColumn("x", h32(col("shingle")))
    val aggs = (0 until numHashes).map(i =>
      min((col("x") * aConst(i) + bConst(i)) % P).as(s"sig_$i"))
    sh.agg(aggs.head, aggs.tail: _*)
  }

  /** Dataset-overlap ESTIMATE between two corpora from their
    * [[corpusMinhash]] fingerprints: the fraction of the H
    * permutations whose corpus-minima agree is an unbiased estimator
    * of the Jaccard similarity of the two shingle SETS (the classic
    * MinHash identity, Broder 1997). One row: (n_agree, n_hashes,
    * est_ppm = n_agree·10⁶ ÷ H, integral). The audit a data-mixing
    * pipeline runs before blending sources: sketch bytes instead of a
    * 100 TB × 100 TB shingle join — for the exact (small-corpus /
    * final-answer) lane use [[corpusShingleJaccard]]. */
  def corpusOverlap(a: DataFrame, b: DataFrame, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.time.Buckets.intDiv
    val sa = corpusMinhash(a, k, idCol, textCol)
    val sb = corpusMinhash(b, k, idCol, textCol)
    val renamed = sb.columns.foldLeft(sb)((d, c) =>
      d.withColumnRenamed(c, s"b_$c"))
    val agree = (0 until numHashes)
      .map(i => when(col(s"sig_$i") === col(s"b_sig_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    // deliberate 1×1 scalar combine of the two fingerprint rows
    sa.crossJoin(renamed)
      .select(agree.as("n_agree"), lit(numHashes.toLong).as("n_hashes"))
      .select(col("n_agree"), col("n_hashes"),
        intDiv(col("n_agree") * 1000000L, col("n_hashes")).as("est_ppm"))
  }

  /** EXACT shingle-set Jaccard between two corpora — the ground-truth
    * twin of [[corpusOverlap]]: one row (n_shared, n_union,
    * exact_ppm = n_shared·10⁶ ÷ n_union). One shuffle on the distinct
    * shingle key (tagged union + group: no pairwise join, linear in
    * the union size) — affordable for audit-sized corpora; at 100 TB
    * prefer the sketch. */
  def corpusShingleJaccard(a: DataFrame, b: DataFrame, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.time.Buckets.intDiv
    val sa = shingles(a, k, idCol, textCol).select(col("shingle"))
      .withColumn("in_a", lit(1)).withColumn("in_b", lit(0))
    val sb = shingles(b, k, idCol, textCol).select(col("shingle"))
      .withColumn("in_a", lit(0)).withColumn("in_b", lit(1))
    sa.unionByName(sb)
      .groupBy(col("shingle"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .agg(sum((col("in_a") * col("in_b")).cast("long")).as("n_shared"),
        count(lit(1)).as("n_union"))
      .select(col("n_shared"), col("n_union"),
        intDiv(col("n_shared") * 1000000L, col("n_union")).as("exact_ppm"))
  }

  /** Per-doc MinHash signature columns sig_0..sig_{k-1}. */
  def minhashSignatures(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sh = shingles(docs, k, idCol, textCol)
      .withColumn("x", h32(col("shingle")))
    val aggs = (0 until numHashes).map(i =>
      min((col("x") * aConst(i) + bConst(i)) % P).as(s"sig_$i"))
    sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash LSH candidate pairs: band the signature, bucket-join, emit
    * distinct candidate pairs. The all-pairs O(n²) comparison becomes an
    * equi-join on (band, bucket) — the scale path for near-dedup. */
  /** (id, band, bucket) LSH banding of the MinHash signatures — the
    * shared candidate-generation frame of [[minhashCandidatePairs]] and
    * [[nearDupSearch]]. */
  private def bandedBuckets(docs: DataFrame, k: Int,
      idCol: String, textCol: String): DataFrame = {
    val sigs = minhashSignatures(docs, k, idCol, textCol)
    val rows = numHashes / bands
    // ONE pass over the signature frame: explode the 4 band structs
    // instead of a 4-way union of the same aggregate subtree (the union
    // re-ran the post-shuffle agg per branch; downstream self-joins then
    // doubled that again)
    sigs.select(col("id"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"), md5(concat_ws("-",
          (0 until rows).map(r => col(s"sig_${b * rows + r}")): _*))
          .as("bucket"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** The band-bucket self-join over a pre-banded (id, band, bucket)
    * frame — the ONE copy of the candidate-pair join shape, shared by
    * [[minhashCandidatePairs]] and [[clusterIncrement]] (which feeds a
    * persisted banded frame so the batch is scanned once). */
  private def candidatePairsFromBanded(banded: DataFrame): DataFrame =
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()

  def minhashCandidatePairs(docs: DataFrame, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    candidatePairsFromBanded(bandedBuckets(docs, k, idCol, textCol))

  /** NEAR-DUP SEARCH — the asymmetric production shape: a SMALL query
    * set (a new batch, suspected benchmark contaminants, a takedown
    * list) against a BIG corpus, instead of corpus × corpus.
    * Candidates are corpus docs sharing a MinHash-LSH band bucket with
    * a query — the query-side banded frame is tiny, so the candidate
    * join broadcasts it and the corpus side is bucket-pruned; nothing
    * all-pairs anywhere. Verification is exact: distinct-shingle
    * intersection counts restricted to candidate docs only, decided by
    * the INTEGER inequality n_shared·10⁶ ≥ t_ppm·(sz_q + sz_d −
    * n_shared) (Jaccard ≥ t with no floating point in the gate).
    * Returns (qid, did, n_shared, sz_q, sz_d). */
  def nearDupSearch(corpus: DataFrame, queries: DataFrame,
      thresholdPpm: Long = 500000L, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cb = bandedBuckets(corpus, k, idCol, textCol)
    val qb = bandedBuckets(queries, k, idCol, textCol)
    val cand = qb.as("q").join(cb.as("c"),
        col("q.band") === col("c.band") &&
        col("q.bucket") === col("c.bucket") &&
        col("q.id") =!= col("c.id"))
      .select(col("q.id").as("qid"), col("c.id").as("did"))
      .distinct()
    val shQ = shingles(queries, k, idCol, textCol)
    // corpus shingles pruned to candidate docs BEFORE the shingle join
    val shC = shingles(corpus, k, idCol, textCol)
      .join(cand.select(col("did").as("id")).distinct(), Seq("id"),
        "left_semi")
    val szQ = shQ.groupBy(col("id")).agg(count(lit(1)).as("sz_q"))
    val szC = shC.groupBy(col("id")).agg(count(lit(1)).as("sz_d"))
    val shared = shQ.toDF("qid", "shingle")
      .join(shC.toDF("did", "shingle"), "shingle")
      .join(cand, Seq("qid", "did"), "left_semi")
      .groupBy(col("qid"), col("did"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(szQ.toDF("qid", "sz_q"), "qid")
      .join(szC.toDF("did", "sz_d"), "did")
      .filter(col("n_shared") * 1000000L >=
        lit(thresholdPpm) * (col("sz_q") + col("sz_d") - col("n_shared")))
      .select(col("qid"), col("did"), col("n_shared"),
        col("sz_q"), col("sz_d"))
  }

  /** PERSISTENT LSH dedup index — the text twin of the IVF disk index:
    * shingle + band + bucket the corpus ONCE, store the result, and let
    * every subsequent batch search the stored tables instead of
    * re-shingling 100 TB per day. Layout under `outDir`:
    *  - `buckets/`  (id, bucket) partitioned by `band`, sorted by
    *    bucket within partitions so row-group stats prune probes;
    *  - `shingles/` (id, shingle) range-partitioned and sorted by id so
    *    a candidate-id pushdown skips row groups;
    *  - `sizes/`    (id, sz) — per-doc distinct-shingle counts.
    * [[searchLshIndex]] over this layout returns exactly what
    * [[nearDupSearch]] returns on the raw corpus (same banding, same
    * integer-exact verify) — gate-checked against the same oracle. */
  def writeLshIndex(corpus: DataFrame, outDir: String, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    bandedBuckets(corpus, k, idCol, textCol)
      .repartition(col("band")).sortWithinPartitions(col("bucket"))
      .write.partitionBy("band").mode("overwrite")
      .parquet(s"$outDir/buckets")
    val sh = shingles(corpus, k, idCol, textCol)
      .repartitionByRange(col("id")).sortWithinPartitions(col("id"))
      .persist()
    sh.write.mode("overwrite").parquet(s"$outDir/shingles")
    sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
      .write.mode("overwrite").parquet(s"$outDir/sizes")
    sh.unpersist()
  }

  /** Append a new batch to a [[writeLshIndex]] layout — the daily index
    * maintenance write: the batch (alone) is shingled/banded and its
    * buckets/shingles/sizes APPEND to the stored tables, so the corpus
    * is never re-shingled. Precondition: batch ids are new (an id
    * present in both the index and the batch would double-count its
    * size row — run [[dedupIncrement]] first, which is the same daily
    * shape). Appended files carry their own row-group stats, so the
    * candidate-id pushdown keeps pruning. */
  def appendLshIndex(batch: DataFrame, indexDir: String, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    bandedBuckets(batch, k, idCol, textCol)
      .repartition(col("band")).sortWithinPartitions(col("bucket"))
      .write.partitionBy("band").mode("append")
      .parquet(s"$indexDir/buckets")
    val sh = shingles(batch, k, idCol, textCol)
      .repartitionByRange(col("id")).sortWithinPartitions(col("id"))
      .persist()
    sh.write.mode("append").parquet(s"$indexDir/shingles")
    sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
      .write.mode("append").parquet(s"$indexDir/sizes")
    sh.unpersist()
  }

  /** LSH-banded CANDIDATE pairs of a query batch against a
    * [[writeLshIndex]] layout — the un-verified stage [[searchLshIndex]]
    * verifies: (qid, did) pairs sharing a band bucket with a stored
    * doc. A doc's banding depends only on its text, so a (q, d) pair
    * comes out iff `minhashCandidatePairs` over the union would emit
    * it — the decomposition [[clusterIncrement]] builds on. Query side
    * broadcast, bucket equi-join, distinct. */
  def lshIndexCandidates(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    indexCandidatesFromBanded(spark, indexDir,
      bandedBuckets(queries, k, idCol, textCol))

  /** The stored-bucket probe join over a pre-banded query frame — the
    * ONE copy of the index-candidate join shape, shared by
    * [[lshIndexCandidates]] and [[clusterIncrement]]. */
  private def indexCandidatesFromBanded(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, qb: DataFrame): DataFrame =
    spark.read.parquet(s"$indexDir/buckets").as("c")
      .join(broadcast(qb.as("q")),
        col("q.band") === col("c.band") &&
        col("q.bucket") === col("c.bucket") &&
        col("q.id") =!= col("c.id"))
      .select(col("q.id").as("qid"), col("c.id").as("did"))
      .distinct()

  /** [[nearDupSearch]] THROUGH a [[writeLshIndex]] layout: the query
    * batch is banded in memory (tiny) and broadcast against the stored
    * bucket table ([[lshIndexCandidates]]); candidate corpus ids, when
    * ≤ `maxCandidateIds`, are collected and pushed down as an In()
    * filter on the sorted shingle table (row-group skipping — the
    * point-lookup path a daily batch wants), else verified via a
    * distributed semi-join. Decision is the same integer inequality as
    * [[nearDupSearch]]; columns identical:
    * (qid, did, n_shared, sz_q, sz_d). */
  def searchLshIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, thresholdPpm: Long = 500000L,
      k: Int = 3, maxCandidateIds: Int = 10000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cand = lshIndexCandidates(spark, indexDir, queries, k,
      idCol, textCol).persist()
    // id-type-generic (string/long/... ids all work in isin)
    val candIds = cand.select(col("did")).distinct()
      .limit(maxCandidateIds + 1).collect().map(_.get(0))
    val shStored = spark.read.parquet(s"$indexDir/shingles")
    // pushed-down In() when the candidate set is bounded, else a
    // distributed semi-join — never silently collect an unbounded set
    val shC =
      if (candIds.length <= maxCandidateIds)
        shStored.filter(col("id").isin(candIds.toIndexedSeq: _*))
      else shStored.join(
        cand.select(col("did").as("id")).distinct(), Seq("id"), "left_semi")
    val shQ = shingles(queries, k, idCol, textCol)
    val szQ = shQ.groupBy(col("id")).agg(count(lit(1)).as("sz_q"))
    val shared = shQ.toDF("qid", "shingle")
      .join(shC.toDF("did", "shingle"), "shingle")
      .join(cand, Seq("qid", "did"), "left_semi")
      .groupBy(col("qid"), col("did"))
      .agg(count(lit(1)).as("n_shared"))
    val out = shared
      .join(szQ.toDF("qid", "sz_q"), "qid")
      .join(spark.read.parquet(s"$indexDir/sizes").toDF("did", "sz_d"),
        "did")
      .filter(col("n_shared") * 1000000L >=
        lit(thresholdPpm) * (col("sz_q") + col("sz_d") - col("n_shared")))
      .select(col("qid"), col("did"), col("n_shared"),
        col("sz_q"), col("sz_d"))
    graft.util.Checkpoints.materialize(out, unpersistAfter = Seq(cand))
  }

  /** The delta an incremental clustering round produces:
    *  - `batchLabels` — (id, cluster) for batch docs in any candidate
    *    pair (batch docs in none stay unlabeled, the
    *    [[clusterLabelsStar]] convention);
    *  - `relabels` — (cluster_old, cluster_new) for EXISTING clusters
    *    whose label changed (a batch doc with a smaller id joined, or
    *    a batch bridge merged two old clusters);
    *  - `touchedLabels` — (id, cluster) for corpus docs that were
    *    singletons and are now pulled into a cluster by a batch pair.
    */
  case class ClusterDelta(batchLabels: DataFrame, relabels: DataFrame,
      touchedLabels: DataFrame)

  /** INCREMENTAL near-dup cluster maintenance — the daily-ingest shape
    * for [[dedupCorpus]]'s clustering, O(batch), never re-clustering
    * the corpus: CC runs over the QUOTIENT graph where every existing
    * cluster is contracted to its label node (corpus endpoints of
    * batch→corpus candidate pairs map to their cluster; unlabeled
    * corpus endpoints stay themselves). Contracting components of the
    * already-clustered corpus-corpus pairs preserves the components of
    * the union pair set, and every member ≥ its cluster label, so the
    * emitted min-labels EQUAL a full rebuild's — spec-proven, and q193
    * gates increment-maintained ≡ rebuilt against the q36 closure SQL.
    *
    * `bcPairs` — batch→corpus candidate pairs (qid = batch, did =
    * corpus, e.g. [[lshIndexCandidates]]); `bbPairs` — batch-internal
    * candidate pairs (id1, id2, e.g. [[minhashCandidatePairs]]);
    * `existing` — the current (id, cluster) table. Precondition:
    * batch ids are new (the [[appendLshIndex]] precondition;
    * [[dedupIncrement]] is the same daily shape). */
  def clusterIncrementFromPairs(bbPairs: DataFrame, bcPairs: DataFrame,
      existing: DataFrame): ClusterDelta = {
    // The candidate frames are the EXPENSIVE inputs (banding self-join
    // / index scan) and feed both the edge set and batchIds, which
    // every delta frame joins — persist once, release after the three
    // outputs are materialized (searchLshIndex's cand discipline).
    val bb = bbPairs.select(col("id1"), col("id2")).persist()
    val bcp = bcPairs.select(col("qid"), col("did")).persist()
    val ex = existing.select(col("id"), col("cluster"))
    val bc = bcp
      .join(ex.withColumnRenamed("id", "did"), Seq("did"), "left")
      .select(col("qid").as("id1"),
        coalesce(col("cluster"), col("did")).as("id2"))
    val edges = bb.unionByName(bc)
    val labels = clusterLabelsStar(edges)
    val batchIds = bb.select(col("id1").as("id"))
      .unionByName(bb.select(col("id2").as("id")))
      .unionByName(bcp.select(col("qid").as("id")))
      .distinct()
    val oldLabels = ex.select(col("cluster").as("id")).distinct()
    val batchLabels = labels.join(batchIds, Seq("id"), "left_semi")
    val relabels = labels.join(oldLabels, Seq("id"), "left_semi")
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("cluster_old"), col("cluster").as("cluster_new"))
    val touched = labels
      .join(batchIds, Seq("id"), "left_anti")
      .join(oldLabels, Seq("id"), "left_anti")
    // the three delta frames are independent consumers of the same
    // persisted inputs — checkpoint them concurrently (§2.6) instead
    // of three serial jobs
    val Seq(mBatch, mRelabels, mTouched) = graft.util.Checkpoints
      .materializeAll(Seq(batchLabels, relabels, touched),
        unpersistAfter = Seq(bb, bcp))
    ClusterDelta(mBatch, mRelabels, mTouched)
  }

  /** [[clusterIncrementFromPairs]] wired to the persistent-index daily
    * flow: batch-internal candidates (the [[minhashCandidatePairs]]
    * self-join) and batch→corpus candidates (the
    * [[lshIndexCandidates]] probe over a [[writeLshIndex]] layout)
    * both derive from ONE persisted banded-bucket frame — the
    * shingle+MinHash aggregation over the batch ran twice in the
    * naive composition — one redundant full batch scan per increment.
    * A/B standalone warm: ~flat at sf0.1 (the 5 k-doc batch is not
    * the bottleneck there) and 30.6 s → 27.1 s at 100× (500 k-doc
    * batch); the remaining cost is the index bucket scan + CC +
    * label apply, each single-pass. Run BEFORE
    * [[appendLshIndex]] for the same batch (so the index holds only
    * the corpus). */
  def clusterIncrement(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, existing: DataFrame,
      k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): ClusterDelta = {
    val banded = bandedBuckets(batch, k, idCol, textCol).persist()
    try {
      val bb = candidatePairsFromBanded(banded)
      val bc = indexCandidatesFromBanded(spark, indexDir, banded)
      clusterIncrementFromPairs(bb, bc, existing)
    } finally banded.unpersist() // delta frames are materialized by then
  }

  /** The full updated label table after a [[ClusterDelta]]: existing
    * labels with merges applied + new batch labels + newly-touched
    * corpus singletons. Equals a full re-cluster of the union
    * (spec-proven; gate q193). */
  def applyIncrement(existing: DataFrame, delta: ClusterDelta): DataFrame = {
    val ex2 = existing.select(col("id"), col("cluster"))
      .join(delta.relabels.withColumnRenamed("cluster_old", "cluster"),
        Seq("cluster"), "left")
      .select(col("id"),
        coalesce(col("cluster_new"), col("cluster")).as("cluster"))
    ex2.unionByName(delta.batchLabels)
      .unionByName(delta.touchedLabels)
  }

  /** Near-duplicate CLUSTERS from candidate pairs: connected components
    * by iterative min-label propagation, cluster id = min doc id in the
    * component. This is the corpus-dedup step AFTER pair generation —
    * pairs only say "these two match"; keeping one doc per group needs
    * the transitive closure (A~B, B~C ⇒ {A,B,C} one cluster).
    *
    * Each round is one equi-join + hash min-aggregation over the PAIR
    * graph (orders of magnitude smaller than the corpus — only docs with
    * at least one candidate edge participate); labels are
    * localCheckpointed per round to cut lineage. Rounds = component
    * diameter; near-dup components are shallow stars/cliques in
    * practice. For adversarially long chains the alternating
    * large-star/small-star variant (same join shape) bounds rounds at
    * O(log n) — this direct form keeps label = GLOBAL min id, which the
    * oracle's transitive closure states exactly. */
  def clusterLabels(pairs: DataFrame): DataFrame = {
    import graft.util.Checkpoints.cut
    val edges = pairs.select(col("id1").as("id"), col("id2").as("nb"))
      .unionByName(pairs.select(col("id2").as("id"), col("id1").as("nb")))
      .distinct().persist()
    // lazy cut: the labelSum aggregate below materializes it in one job
    var labels = cut(edges.select(col("id")).distinct()
      .withColumn("cluster", col("id")), eager = false)
    // Convergence check: one cheap TYPE-AGNOSTIC signature aggregate
    // per round (sum of row hashes — sum(cluster) would ANSI-crash on
    // STRING ids), then, only when the signature says "candidate
    // fixpoint", one except() to guard against a hash-collision false
    // stop — the clusterLabelsStar discipline; normally it runs once,
    // at the true fixpoint.
    def labelSig(df: DataFrame): Long = {
      val r = df.agg(sum(hash(col("id"), col("cluster")).cast("long")))
        .collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prevSig = labelSig(labels)
    var changed = true
    while (changed) {
      val viaNeighbors = edges
        .join(labels.select(col("id").as("nb"), col("cluster")), "nb")
        .select(col("id"), col("cluster"))
      val next = cut(labels.select(col("id"), col("cluster"))
        .unionByName(viaNeighbors)
        .groupBy("id").agg(min(col("cluster")).as("cluster")), eager = false)
      val s = labelSig(next)
      changed = s != prevSig || !next.except(labels).isEmpty
      prevSig = s
      labels = next
    }
    edges.unpersist()
    labels
  }

  /** END-TO-END near-dup removal — the whole corpus-dedup pipeline as
    * one call: MinHash-LSH candidate pairs ([[minhashCandidatePairs]],
    * the bucketed scale path) → connected components
    * ([[clusterLabelsStar]], O(log n) rounds) → keep each cluster's
    * min-id representative. Returns the SURVIVING rows of `docs` with
    * all their columns (docs in no candidate pair survive untouched —
    * only non-representative cluster members are anti-joined away). */
  def dedupCorpus(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val pairs = minhashCandidatePairs(docs, k, idCol, textCol)
    val dropped = clusterLabelsStar(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  /** Chosen LSH banding: `bands` × `rowsPerBand` signatures,
    * `hashes` = their product, candidate probability
    * 1 − (1 − s^r)^b evaluated at the target threshold
    * (`recallAtThreshold`) and at the noise similarity (`fpAtNoise`). */
  case class LshPlan(bands: Int, rowsPerBand: Int, hashes: Int,
      recallAtThreshold: Double, fpAtNoise: Double)

  /** S-curve planner for the MinHash-LSH banding — the "how many
    * bands × rows" question every dedup deployment tunes by hand:
    * P(candidate | similarity s) = 1 − (1 − s^r)^b, so the planner
    * searches (r, b) for the CHEAPEST signature (fewest total hashes,
    * ties → lower false-positive mass) satisfying
    * recall(threshold) ≥ targetRecall AND fp(noiseSim) ≤ maxFp within
    * the hash budget. Driver-side closed form (it sizes the q22/q23
    * operators; nothing distributed to do). Returns None when no
    * banding within `maxHashes` meets both constraints — loosen the
    * budget or the fp bound rather than silently under-recalling. */
  def lshPlan(threshold: Double, targetRecall: Double = 0.95,
      noiseSim: Double = 0.3, maxFp: Double = 0.05,
      maxHashes: Int = 512): Option[LshPlan] = {
    require(threshold > 0 && threshold < 1 && targetRecall > 0 &&
      targetRecall < 1 && noiseSim >= 0 && noiseSim < threshold,
      s"bad args: t=$threshold recall=$targetRecall noise=$noiseSim")
    def pCand(s: Double, r: Int, b: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    val feasible = for {
      r <- 1 to maxHashes
      // smallest b reaching the recall target at this r (Long: for
      // large r the required b explodes far past any Int product)
      pr = math.pow(threshold, r)
      if pr > 0 && pr < 1
      // compare in Double BEFORE narrowing: for large r the required b
      // explodes past any integer width and a cast would wrap
      bD = math.ceil(math.log1p(-targetRecall) / math.log1p(-pr))
      if bD >= 1 && bD * r <= maxHashes
      b = bD.toInt
      fp = pCand(noiseSim, r, b)
      if fp <= maxFp
    } yield LshPlan(b, r, b * r, pCand(threshold, r, b), fp)
    feasible.sortBy(p => (p.hashes, p.fpAtNoise)).headOption
  }

  /** QUALITY-AWARE canonical-doc election: per near-dup cluster
    * (connected component of `pairs`, star rounds), keep the member
    * with the HIGHEST `scoreCol` (ties → lowest id) instead of
    * [[dedupCorpus]]'s blind min-id — dedup should drop the worse copy
    * (truncated page, boilerplate-padded mirror), not whichever id
    * sorts first. Unpaired docs survive as their own singleton.
    * Returns the surviving rows with all input columns plus `cluster`.
    *
    * The winner is a `max_by` hash aggregation (map-side partials, no
    * per-cluster sort); the survivor filter is one left-semi join on
    * the id — nothing wider than (cluster, id, score) shuffles. */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame,
      scoreCol: String, idCol: String = "doc_id"): DataFrame = {
    val labels = clusterLabelsStar(pairs)
      .select(col("id").as("__lid"), col("cluster").as("__cluster"))
    val withC = docs.join(labels,
        col(idCol).cast("long") === col("__lid"), "left")
      .withColumn("cluster",
        coalesce(col("__cluster"), col(idCol).cast("long")))
      .drop("__lid", "__cluster")
    val winners = withC.groupBy(col("cluster"))
      .agg(max_by(col(idCol),
        struct(col(scoreCol), (-col(idCol).cast("long")).as("ni")))
        .as("__win"))
      .select(col("__win"))
    withC.join(winners, col(idCol) === col("__win"), "left_semi")
  }

  /** Compliance takedown with near-dup PROPAGATION, from a stored
    * label table: a removal request (copyright claim, opt-out, court
    * order) names seed docs, but the corpus also holds their
    * near-duplicates — shipping those defeats the removal. Given the
    * cluster label table ((id, cluster) — [[clusterLabelsStar]]'s
    * output, maintained incrementally by [[clusterIncrement]]; docs in
    * no candidate pair are absent) and a seed frame, returns the
    * removal MANIFEST: (idCol, cluster, reason) with reason `'seed'`
    * for requested docs and `'neardup'` for cluster-mates pulled in by
    * propagation; a seed in no cluster appears with a NULL cluster.
    *
    * Scale: request batches are tiny — both seed joins are broadcast
    * semi-joins against the label table; the 100 TB corpus is never
    * touched (that is the point of operating on the STORED labels). */
  def takedownManifestFromLabels(labels: DataFrame, seeds: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    // id/cluster stay whatever type the label table carries — the null
    // cluster of lone seeds is typed off the table, not assumed long.
    val clusterType = labels.schema("cluster").dataType
    val seedIds = broadcast(seeds.select(col(idCol).as("id")).distinct())
    val seedClusters = broadcast(labels
      .join(seedIds, Seq("id"), "left_semi")
      .select(col("cluster")).distinct())
    val members = labels.join(seedClusters, Seq("cluster"), "left_semi")
    val flagged = members
      .join(seedIds.withColumn("__is_seed", lit(1)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        when(col("__is_seed").isNotNull, lit("seed"))
          .otherwise(lit("neardup")).as("reason"))
    val loneSeeds = seedIds.join(labels, Seq("id"), "left_anti")
      .select(col("id").as(idCol), lit(null).cast(clusterType).as("cluster"),
        lit("seed").as("reason"))
    flagged.unionByName(loneSeeds)
  }

  /** [[takedownManifestFromLabels]] when no label table exists yet:
    * cluster the corpus first (LSH candidates → star-CC labels), then
    * propagate. The self-contained form for one-off audits; a
    * production pipeline keeps the labels stored and incremental. */
  def takedownManifest(docs: DataFrame, seeds: DataFrame, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    takedownManifestFromLabels(
      clusterLabelsStar(minhashCandidatePairs(docs, k, idCol, textCol)),
      seeds, idCol)

  /** The corpus minus a takedown manifest — the enforcement anti-join. */
  def applyTakedown(docs: DataFrame, manifest: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(manifest.select(col(idCol)), Seq(idCol), "left_anti")

  /** 60-bit SimHash per doc: per-token md5-derived hash, bitwise
    * majority vote over token occurrences. Runs as the codegen'd
    * [[graft.functions.SimHash60]] expression — the interpreted
    * higher-order form ([[simhashHof]]) is ~5× slower at sf0.1 and kept
    * only as the in-engine parity oracle. */
  def simhash(textCol: Column): Column =
    graft.functions.TextExpressions.simhash60(TextOps.tokens(textCol))

  /** Interpreted column-expression twin of [[simhash]] (fold over
    * tokens → per-bit counts → sign bits → BIGINT): same math stated
    * with Spark HOFs only; cross-checked against the codegen expression
    * by spec. */
  def simhashHof(textCol: Column): Column = {
    val toks = TextOps.tokens(textCol)
    val hashes = transform(toks,
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    // bit masks 2^0..2^59 as an array literal — shiftright/shiftleft take
    // only literal shift amounts, but bitwiseAND against a mask column
    // works per-element
    val pows = array((0 until 60).map(b => lit(1L << b)): _*)
    val counts = aggregate(hashes,
      array_repeat(lit(0L), 60),
      (acc, h) => zip_with(acc, pows,
        (a, pw) => a + when(h.bitwiseAND(pw) =!= 0, 1L).otherwise(0L)))
    val n = size(toks)
    aggregate(
      zip_with(counts, pows,
        (cnt, pw) => when(cnt * 2 > n, pw).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Hamming distance between two simhash values (bit-count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs at scale: band the 60-bit fingerprint into 4
    * 15-bit chunks (pigeonhole: hamming ≤ 3 ⇒ at least one identical
    * band), equi-join candidates on (band, chunk), verify hamming. */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 60,
      s"maxHamming must be in [0, 60), got $maxHamming")
    val sims = graft.util.Spread.spread(docs).select(col(idCol).as("id"),
      simhash(col(textCol)).as("sh")).persist()
    val cands =
      if (maxHamming <= 3) {
        // MULTI-INDEX HASHING (Norouzi et al. 2012; the q124 dHash
        // shape): 2 tables of 30-bit substrings — hamming ≤ 3 ⇒ one
        // substring differs by ≤ 1 bit, so the probe side joins its
        // substring + its 30 single-bit flips against unflipped
        // entries. vs the old 4×15-bit banding: buckets 2¹⁵ → 2³⁰ per
        // table for a 31× probe fan-out; the 10× sweep had q29's
        // 15-bit buckets entering saturation (21.7 s, ~14× for 10×
        // data), and 2³⁰ holds the linear regime 32k× longer. Verify
        // below is unchanged, so reported pairs are identical.
        val chunks = (0 until 2).map(c =>
          sims.select(col("id"), lit(c).as("cix"),
            shiftright(col("sh"), c * 30)
              .bitwiseAND(lit((1L << 30) - 1)).as("chunk")))
          .reduce(_ unionByName _)
        val probes = chunks.select(col("id"), col("cix"),
          explode(array(col("chunk") +:
            (0 until 30).map(b =>
              col("chunk").bitwiseXOR(lit(1L << b))): _*)).as("probe"))
        probes.as("a").join(chunks.as("b"),
            col("a.cix") === col("b.cix") &&
            col("a.probe") === col("b.chunk") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id1"), col("b.id").as("id2")).distinct()
      } else {
        // past hamming 3 the 2×1-flip guarantee breaks: pigeonhole with
        // maxHamming+1 bands (NOTE: the pre-r10 code used a fixed 4
        // bands, which silently lost recall for maxHamming > 3)
        val bands = maxHamming + 1
        val base = 60 / bands
        val extra = 60 % bands
        val banded = (0 until bands).map { b =>
          val lo = b * base + math.min(b, extra)
          val width = base + (if (b < extra) 1 else 0)
          sims.select(col("id"), lit(b).as("band"),
            shiftright(col("sh"), lo)
              .bitwiseAND(lit((1L << width) - 1)).as("chunk"))
        }.reduce(_ unionByName _)
        banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") &&
            col("a.chunk") === col("b.chunk") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id1"), col("b.id").as("id2")).distinct()
      }
    graft.util.Checkpoints.materialize(
      cands
        .join(sims.select(col("id").as("id1"), col("sh").as("sh1")), "id1")
        .join(sims.select(col("id").as("id2"), col("sh").as("sh2")), "id2")
        .withColumn("hamming", hamming(col("sh1"), col("sh2")).cast("long"))
        .filter(col("hamming") <= maxHamming)
        .select("id1", "id2", "hamming"),
      unpersistAfter = Seq(sims))
  }

  /** ASYMMETRIC CONTAINMENT pairs: ordered (contained, container) doc
    * pairs with |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ t — the
    * quote/subset-detection primitive. Jaccard (q21) structurally
    * misses a short document quoted inside a long one (the length
    * filter |min| ≥ t·|max| that makes Jaccard scale REJECTS exactly
    * those pairs); containment normalizes by the contained side only.
    *
    * Decision is integer-exact: n_shared · 10⁶ ≥ t_ppm · |A| — no FP
    * ratio in the gate. Scale shape: one distinct-shingle equi-join
    * (hot shingles above `maxDf` capped, as in [[contaminationCounts]])
    * + one hash aggregation; `minShingles` drops trivially-tiny docs
    * whose containment is noise. */
  def containmentPairs(docs: DataFrame, thresholdPpm: Long = 800000L,
      k: Int = 3, minShingles: Int = 4, maxDf: Long = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingles(docs, k, idCol, textCol)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    // df cap via a partition-only window on the shingle key: the window's
    // exchange is REUSED by the self-join below (both sides arrive
    // shuffled+sorted by shingle — one shuffle, one sort, streaming
    // SortMergeJoin). Measured alternative (r8): collect_capped grouped
    // lists + double explode benched 2.7× slower here — the
    // ObjectHashAgg buffers and nested Generates lose to exchange reuse.
    // (sharedSpanPairs differs: its join never reused the exchange, so
    // the grouped-list shape wins there.)
    val capped = sh.withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .filter(col("df") <= maxDf)
      .drop("df")
    val shared = capped.as("a").join(capped.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_contained"),
        col("b.id").as("id_container"))
      .agg(count(lit(1)).as("n_shared"))
    shared.join(sizes.select(col("id").as("id_contained"),
        col("sz").as("sz_contained")), Seq("id_contained"))
      .filter(col("sz_contained") >= minShingles &&
        col("n_shared") * 1000000L >= lit(thresholdPpm) * col("sz_contained"))
      .select(col("id_contained"), col("id_container"),
        col("n_shared"), col("sz_contained"))
  }

  /** POSITIONED shingles — like [[shingles]] but keeping each k-gram's
    * token offset and every occurrence (no per-doc dedup): (id, pos,
    * shingle). The building block for substring-level span detection. */
  def positionedShingles(docs: DataFrame, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // spreadAmplified: see [[shingles]] (r16 map-stage parallelism)
    val tokenized = graft.util.Spread.spreadAmplified(docs)
      .select(col(idCol).as("id"),
        TextOps.tokens(col(textCol)).as("toks"))
    // codegen'd all-shingles expression (r16): the HOF form
    // `transform(sequence(0, greatest(n−k, 0)), i → array_join(slice(
    // toks, i+1, k), ' '))` ran in the interpreter per position with
    // slice/join allocations; AllWordShingles is one static call per
    // row into a JIT loop with identical edge semantics (spec-pinned,
    // PipelineOpsSpec), and posexplode keeps the same 0-based offsets.
    val sh = graft.functions.TextExpressions
      .allWordShingles(col("toks"), k)
    tokenized.select(col("id"), posexplode(sh).as(Seq("pos", "shingle")))
      .filter(col("shingle") =!= "")
  }

  /** EXACT shared-substring spans between document pairs — the
    * substring-dedup signal of suffix-array training-data dedup (Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"), restated as a distributed diagonal-run computation:
    *
    *  1. positioned k-gram shingles per doc (every occurrence);
    *  2. equi-join on the shingle: a match at (p1, p2) lies on diagonal
    *     d = p1 − p2; a shared token span of length L is exactly a run
    *     of L − k + 1 consecutive matches on one diagonal;
    *  3. gaps-and-islands per (pair, diagonal) — island = p1 − row_number
    *     over p1 — then max run per pair; span_tokens = run + k − 1.
    *
    * Returns pairs with `max_span_tokens ≥ minSpanTokens`. Everything is
    * an equi-join / partitioned window — no all-pairs product.
    *
    * `maxOcc` caps matching at ubiquitous shingles (occurrence count >
    * maxOcc corpus-wide are excluded BEFORE the join): the 100 TB guard
    * against the O(df²) pair blowup of stop-phrase trigrams. The cap is
    * part of the operator's definition (the oracle states it
    * identically): spans are measured over non-ubiquitous shingles only,
    * so a run crossing a dropped hot shingle splits — long literal
    * duplications (the dedup target) are unaffected, boilerplate
    * stop-phrases stop feeding the join. */
  def sharedSpanPairs(docs: DataFrame, minSpanTokens: Int = 8, k: Int = 3,
      maxOcc: Int = 64, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.functions.CollectCapped.collectCapped
    require(minSpanTokens >= k, s"minSpanTokens must be >= k=$k")
    // ONE shuffle groups each shingle's occurrence list AND applies the
    // hot-shingle cap: collect_capped is a bounded-memory custom
    // aggregate that returns NULL for any shingle with occ > maxOcc
    // (partial buffers stop storing past the cap, so a stop-phrase
    // shingle costs one counter per map task, never a giant array).
    // This replaces the r5–r7 shape (full-width count window + shingle
    // self-join over a persisted frame): the expensive
    // scan→tokenize→posexplode subtree now runs once with no cache, no
    // sort, and no join — match pairs come from exploding each
    // surviving (≤ maxOcc-element) list against itself.
    // persisted: the capped lists (bounded — ≤ maxOcc elements each)
    // feed the match explode TWICE since the count prefilter below and
    // the pruned window both consume it; released via the terminal
    // materialize (the span-pair result ≪ the corpus)
    val grouped = positionedShingles(docs, k, idCol, textCol)
      .groupBy(col("shingle"))
      .agg(collectCapped(struct(col("id"), col("pos")), maxOcc).as("occs"))
      .filter(col("occs").isNotNull)
      .select(col("occs"))
      .persist()
    val m = grouped
      .select(explode(col("occs")).as("a"), col("occs"))
      .select(col("a"), explode(col("occs")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.pos").as("p1"), (col("a.pos") - col("b.pos")).as("diag"))
    // NECESSARY-CONDITION prune before the island window: a qualifying
    // span of `minSpanTokens` tokens is a run of minRun = minSpanTokens
    // − k + 1 consecutive diagonal matches, so its (pair, diagonal)
    // group holds ≥ minRun match rows. Counting per group is a hash
    // aggregation with map-side partials (no sort); survivors are few
    // (they are the near-dup signal) and broadcast back as a semi-join
    // filter, so the row_number sort below runs over the survivors
    // only, not the full match frame. Dropped groups cannot change any
    // reported value: their islands are ≤ minRun − 1 matches → span ≤
    // minSpanTokens − 1, below the output filter, and any diagonal
    // carrying a pair's reported max span survives by construction
    // (its count ≥ its max island ≥ minRun). Probe A/B at sf0.1:
    // 3.38 → 3.00 s warm (the grouped-capped + explode stages are the
    // ~2.1 s floor; persist-m and anchor-prune variants measured
    // slower — recorded in tools/Probe q84 mode).
    val minRun = minSpanTokens - k + 1
    val hot = m.groupBy(col("id1"), col("id2"), col("diag"))
      .agg(count(lit(1)).as("nm"))
      .filter(col("nm") >= minRun)
      .select(col("id1"), col("id2"), col("diag"))
    val pruned = m.join(broadcast(hot), Seq("id1", "id2", "diag"),
      "left_semi")
    // gaps-and-islands per (pair, diagonal): island = p1 − row_number.
    // (Measured alternative: per-group sort_array(collect_list)+HOF run
    // scan was ~1.7× SLOWER here — millions of tiny array allocations
    // and interpreted lambdas lose to one codegen sort + streaming
    // window + hash aggs.) span_tokens = island size + k − 1.
    val isl = pruned.withColumn("island",
      col("p1") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("id1"), col("id2"), col("diag"))
          .orderBy(col("p1"))))
    graft.util.Checkpoints.materialize(
      isl
        .groupBy(col("id1"), col("id2"), col("diag"), col("island"))
        .agg((count(lit(1)) + (k - 1)).as("span"))
        .groupBy(col("id1"), col("id2"))
        .agg(max(col("span")).as("max_span_tokens"))
        .filter(col("max_span_tokens") >= minSpanTokens),
      unpersistAfter = Seq(grouped))
  }

  /** Inter-SOURCE shingle-overlap matrix — the corpus-curation view of
    * duplication: for every pair of sources, how many distinct k-gram
    * shingles they share, beside each source's own distinct-shingle
    * count (consumers derive containment / Jaccard; the raw integers
    * stay exact — a ppm division here would reintroduce FP into a
    * hash-gated result). "Source B is 90 % contained in source A" is
    * the signal that drops a mirrored dump before any per-doc dedup
    * runs.
    *
    * Scale posture: the pair stage joins the DISTINCT (source,
    * shingle) projection with itself on the shingle — each join bucket
    * holds at most #sources rows BY CONSTRUCTION (a source contributes
    * a shingle once), so candidate fan-out per shingle is bounded by
    * the (small) source count squared, independent of corpus size.
    * Never doc×doc, never source×source on raw text. */
  def sourceOverlapMatrix(docs: DataFrame, k: Int = 3,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    val ss = shingles(docs.select(col(srcCol).as("s"), col(textCol)),
        k, "s", textCol)
      .select(col("id").as("s"), col("shingle")).distinct()
      .persist()
    val sizes = ss.groupBy(col("s")).agg(count(lit(1)).as("n"))
    val pairs = ss.as("a")
      .join(ss.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("source_a"), col("b.s").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    graft.util.Checkpoints.materialize(
      pairs
        .join(sizes.toDF("source_a", "n_a"), "source_a")
        .join(sizes.toDF("source_b", "n_b"), "source_b")
        .select("source_a", "source_b", "inter", "n_a", "n_b"),
      unpersistAfter = Seq(ss))
  }
}
