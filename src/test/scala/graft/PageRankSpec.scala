package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.rand

import graft.operators.{Hits, PageRank}

/** PageRank's integer recurrence, pinned against a driver-local
  * simulation of the same arithmetic — any drift between the plan and
  * the stated semantics (share rounding, dangling redistribution,
  * damping) fails exactly. */
class PageRankSpec extends SparkSpec {

  /** The operator's documented recurrence, simulated locally. */
  private def simulate(edges: Seq[(String, String)], iters: Int,
      d: Long = 850L, scale: Long = 1000000000000L): Map[String, Long] = {
    val e = edges.filter { case (s, t) => s != t }.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val out = e.groupBy(_._1).map { case (k, v) => (k, v.size.toLong) }
    var pr = nodes.map(v => (v, scale / n)).toMap
    for (_ <- 1 to iters) {
      val share = pr.collect {
        case (v, p) if out.contains(v) => (v, p / out(v))
      }
      val inc = e.groupBy(_._2).map { case (v, in) =>
        (v, in.map(x => share(x._1)).sum)
      }
      val dang = pr.collect {
        case (v, p) if !out.contains(v) => p
      }.sum
      pr = nodes.map { v =>
        (v, ((1000L - d) * scale) / (1000L * n) +
          (d * (inc.getOrElse(v, 0L) + dang / n)) / 1000L)
      }.toMap
    }
    pr
  }

  private def run(edges: Seq[(String, String)], iters: Int) = {
    import spark.implicits._
    PageRank.pageRank(edges.toDF("src", "dst"), iterations = iters)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
  }

  describe("PageRank.pageRank") {

    // star into a sink (dangling) + a cycle + duplicate/self edges
    val graph = Seq(
      ("a", "sink"), ("b", "sink"), ("c", "sink"),
      ("a", "b"), ("b", "c"), ("c", "a"),
      ("a", "b"), // duplicate: counts once
      ("c", "c")) // self-loop: drops

    it("matches the driver-local simulation of the stated recurrence — " +
        "including past the CutEvery lineage-cut boundary") {
      for (iters <- Seq(0, 1, 3, 10)) { // 10 > CutEvery: cut path
        run(graph, iters) shouldBe simulate(graph, iters)
      }
    }

    it("is deterministic across runs and conserves mass to within " +
        "integer rounding") {
      val a = run(graph, 3)
      val b = run(graph, 3)
      a shouldBe b
      // each node loses < 1 micro-unit per div, 3 divs per iteration
      val total = a.values.sum
      val scale = 1000000000000L
      total should be <= scale
      total should be > scale - 100L * a.size
    }

    it("ranks the sink of a star highest and sums dangling mass back") {
      val star = Seq(("a", "hub"), ("b", "hub"), ("c", "hub"))
      val pr = run(star, 3)
      pr("hub") should be > pr("a")
      pr("a") shouldBe pr("b")
      pr shouldBe simulate(star, 3)
    }

    it("tolMicro stops at the FIRST iteration whose exact L1 step " +
        "distance crosses the bound — identical to the fixed run there") {
      import spark.implicits._
      // step distances of the documented recurrence, driver-simulated
      def delta(i: Int): Long = {
        val a = simulate(graph, i - 1)
        val b = simulate(graph, i)
        b.map { case (k, v) => math.abs(v - a(k)) }.sum
      }
      val deltas = (1 to 12).map(delta)
      val tol = math.max(deltas(5), 1L) // iteration 6's step distance
      val k = deltas.indexWhere(_ <= tol) + 1
      k should be >= 1
      k should be < 12 // genuinely early-stops under the cap
      val got = PageRank.pageRank(graph.toDF("src", "dst"),
          iterations = 12, tolMicro = tol)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      got shouldBe simulate(graph, k)
      got shouldBe run(graph, k) // ≡ the fixed run at the stop iteration
    }
  }

  /** The personalized recurrence, simulated locally: teleport and
    * dangling return restricted to the seed set. */
  private def simulateSeeded(edges: Seq[(String, String)],
      seeds: Set[String], iters: Int, d: Long = 850L,
      scale: Long = 1000000000000L): Map[String, Long] = {
    val e = edges.filter { case (s, t) => s != t }.distinct
    val nodes = ((e.map(_._1) ++ e.map(_._2)).toSet ++ seeds).toSeq.sorted
    val ns = seeds.size.toLong
    val out = e.groupBy(_._1).map { case (k, v) => (k, v.size.toLong) }
    var pr = nodes.map(v =>
      (v, if (seeds(v)) scale / ns else 0L)).toMap
    for (_ <- 1 to iters) {
      val share = pr.collect {
        case (v, p) if out.contains(v) => (v, p / out(v))
      }
      val inc = e.groupBy(_._2).map { case (v, in) =>
        (v, in.map(x => share(x._1)).sum)
      }
      val dang = pr.collect {
        case (v, p) if !out.contains(v) => p
      }.sum
      pr = nodes.map { v =>
        val seedTerm = if (seeds(v))
          ((1000L - d) * scale) / (1000L * ns) + (d * (dang / ns)) / 1000L
        else 0L
        (v, seedTerm + (d * inc.getOrElse(v, 0L)) / 1000L)
      }.toMap
    }
    pr
  }

  private def runSeeded(edges: Seq[(String, String)],
      seeds: Seq[String], iters: Int) = {
    import spark.implicits._
    PageRank.personalizedPageRank(edges.toDF("src", "dst"),
        seeds.toDF("id"), iterations = iters)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
  }

  describe("PageRank.personalizedPageRank") {

    val graph = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"), // cycle
      ("b", "spam1"), ("spam1", "spam2"), ("spam2", "spam1"), // spam web
      ("a", "sink")) // dangling

    it("matches the driver-local simulation of the seeded recurrence") {
      for (iters <- Seq(0, 1, 3, 10)) { // 10 > CutEvery: cut path
        runSeeded(graph, Seq("a"), iters) shouldBe
          simulateSeeded(graph, Set("a"), iters)
      }
      runSeeded(graph, Seq("a", "b"), 3) shouldBe
        simulateSeeded(graph, Set("a", "b"), 3)
    }

    it("gives zero to nodes unreachable from the seeds and ranks the " +
        "seed neighborhood above the far spam web") {
      val pr = runSeeded(graph, Seq("a"), 3)
      // reachability: everything here is reachable from a, but an
      // isolated island must be exactly 0
      val island = graph ++ Seq(("x", "y"), ("y", "x"))
      val pr2 = runSeeded(island, Seq("a"), 3)
      pr2("x") shouldBe 0L
      pr2("y") shouldBe 0L
      // trust decays with distance from the seed
      pr("b") should be > pr("spam2")
    }

    it("teleports to an isolated seed (seed absent from the edge set)") {
      val pr = runSeeded(Seq(("a", "b")), Seq("z"), 2)
      pr("z") should be > 0L
      pr shouldBe simulateSeeded(Seq(("a", "b")), Set("z"), 2)
    }

    it("tolMicro wiring: an immediately-satisfied tolerance stops " +
        "after exactly one iteration") {
      import spark.implicits._
      val got = PageRank.personalizedPageRank(graph.toDF("src", "dst"),
          Seq("a").toDF("id"), iterations = 5, tolMicro = Long.MaxValue)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      got shouldBe simulateSeeded(graph, Set("a"), 1)
    }

    it("fails loudly on an empty seed set instead of returning NULLs") {
      an[Exception] should be thrownBy
        runSeeded(Seq(("a", "b")), Seq.empty, 1)
    }

    it("matches the simulation on seeded random multigraphs — plain, " +
        "seeded, and weighted") {
      import spark.implicits._
      val rnd = new scala.util.Random(11)
      for (_ <- 1 to 3) {
        val n = 8 + rnd.nextInt(8)
        val edges = (1 to 50).map(_ =>
          (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}"))
        run(edges, 3) shouldBe simulate(edges, 3)
        val seeds = Seq(s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")
          .distinct
        runSeeded(edges, seeds, 2) shouldBe
          simulateSeeded(edges, seeds.toSet, 2)
        val weighted = edges.map { case (s, t) =>
          (s, t, 1L + rnd.nextInt(9).toLong) }
        val got = PageRank.pageRankWeighted(
            weighted.toDF("src", "dst", "w"), iterations = 2)
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        got shouldBe simulateWeighted(weighted, 2)
      }
    }

    it("rejects a non-positive scale up front") {
      import spark.implicits._
      an[IllegalArgumentException] should be thrownBy
        PageRank.pageRank(Seq(("a", "b")).toDF("src", "dst"), scale = 0L)
      an[IllegalArgumentException] should be thrownBy
        PageRank.pageRankWeighted(
          Seq(("a", "b", 1L)).toDF("src", "dst", "w"), scale = -1L)
    }
  }

  /** The weighted recurrence, simulated locally: share is
    * (pr * w) div W(u), duplicate edges sum weights. */
  private def simulateWeighted(edges: Seq[(String, String, Long)],
      iters: Int, d: Long = 850L,
      scale: Long = 1000000000000L): Map[String, Long] = {
    val e = edges.filter { case (s, t, w) => s != t && w > 0 }
      .groupBy(x => (x._1, x._2)).view
      .mapValues(_.map(_._3).sum).toSeq
      .map { case ((s, t), w) => (s, t, w) }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val wdeg = e.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var pr = nodes.map(v => (v, scale / n)).toMap
    for (_ <- 1 to iters) {
      val inc = e.groupBy(_._2).map { case (v, in) =>
        (v, in.map { case (u, _, w) => pr(u) * w / wdeg(u) }.sum)
      }
      val dang = pr.collect {
        case (v, p) if !wdeg.contains(v) => p
      }.sum
      pr = nodes.map { v =>
        (v, ((1000L - d) * scale) / (1000L * n) +
          (d * (inc.getOrElse(v, 0L) + dang / n)) / 1000L)
      }.toMap
    }
    pr
  }

  describe("PageRank.pageRankWeighted") {

    val graph = Seq(
      ("a", "b", 9L), ("a", "c", 1L), // 90/10 split out of a
      ("b", "c", 2L), ("c", "a", 5L),
      ("a", "b", 3L), // duplicate: weights SUM (12/1 split)
      ("b", "sink", 1L)) // dangling target

    it("matches the driver-local simulation of the weighted recurrence") {
      import spark.implicits._
      for (iters <- Seq(1, 3, 10)) { // 10 > CutEvery: cut path
        val got = PageRank.pageRankWeighted(
            graph.toDF("src", "dst", "w"), iterations = iters)
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        got shouldBe simulateWeighted(graph, iters)
      }
    }

    it("reduces exactly to unweighted pageRank when all weights are 1") {
      import spark.implicits._
      val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "sink"))
      val unweighted = PageRank.pageRank(edges.toDF("src", "dst"),
        iterations = 3).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val weighted = PageRank.pageRankWeighted(
        edges.map { case (s, t) => (s, t, 1L) }.toDF("src", "dst", "w"),
        iterations = 3).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      weighted shouldBe unweighted
    }

    it("tolMicro wiring: an immediately-satisfied tolerance stops " +
        "after exactly one iteration") {
      import spark.implicits._
      val got = PageRank.pageRankWeighted(graph.toDF("src", "dst", "w"),
          iterations = 5, tolMicro = Long.MaxValue)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      got shouldBe simulateWeighted(graph, 1)
    }

    it("fails loudly when a summed edge weight times scale exceeds Long " +
        "range, and accepts the largest weight that fits") {
      import spark.implicits._
      val bound = Long.MaxValue / 1000000000000L
      def ranks(e: Seq[(String, String, Long)], iters: Int) =
        PageRank.pageRankWeighted(e.toDF("src", "dst", "w"),
          iterations = iters).collect()
      def messages(t: Throwable): List[String] =
        if (t == null) Nil
        else String.valueOf(t.getMessage) :: messages(t.getCause)
      for (iters <- Seq(1, 10)) { // uncut and cut paths
        val big = Seq(("a", "b", bound + 1), ("b", "a", 1L))
        messages(intercept[Exception](ranks(big, iters)))
          .exists(_.contains("rescale weights")) shouldBe true
        // duplicate rows sum their weights before the guard
        val dup = Seq(("a", "b", bound / 2 + 1), ("a", "b", bound / 2 + 1))
        messages(intercept[Exception](ranks(dup, iters)))
          .exists(_.contains("rescale weights")) shouldBe true
        ranks(Seq(("a", "b", bound), ("b", "a", 1L)), iters) should have size 2
      }
    }

    it("shifts rank toward the heavily-weighted target") {
      import spark.implicits._
      val skew = Seq(("a", "b", 99L), ("a", "c", 1L))
      val pr = PageRank.pageRankWeighted(skew.toDF("src", "dst", "w"),
        iterations = 2).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      pr("b") should be > pr("c")
    }
  }

  /** A seeded random multigraph (duplicates and self-loops included),
    * its weighted twin and a seed set, for the cross-variant cases. */
  private def randomGraph(): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val edges = (1 to 120).map(_ =>
      (s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}",
        1L + rnd.nextInt(9).toLong))
    (edges.map(e => (e._1, e._2)).toDF("src", "dst"),
      edges.toDF("src", "dst", "w"),
      Seq("n0", "n7", "n19").toDF("id"))
  }

  /** Every exact ranker on `plain`/`weighted`, as sorted row strings. */
  private def allRanks(plain: DataFrame, weighted: DataFrame,
      seeds: DataFrame): Seq[Seq[String]] = {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    Seq(rows(PageRank.pageRank(plain)),
      rows(PageRank.pageRank(plain, iterations = 6)), // cut path
      rows(PageRank.personalizedPageRank(plain, seeds)),
      rows(PageRank.pageRankWeighted(weighted)),
      rows(Hits.hits(plain)))
  }

  describe("the exact rankers") {

    it("return identical rows under any shuffle partitioning, with AQE " +
        "on or off, and with the edge rows in any partition order") {
      val (plain, weighted, seeds) = randomGraph()
      val expected = allRanks(plain, weighted, seeds)
      val keys = Seq("spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      try {
        for (parts <- Seq(1, 7); aqe <- Seq(true, false);
            reshuffle <- Seq(false, true)) {
          spark.conf.set(keys(0), parts.toLong)
          spark.conf.set(keys(1), aqe)
          def shuffled(df: DataFrame) =
            if (reshuffle) df.repartition(5, rand(parts * 2 + 1)) else df
          withClue(s"partitions=$parts aqe=$aqe reshuffled=$reshuffle: ") {
            allRanks(shuffled(plain), shuffled(weighted), seeds) shouldBe
              expected
          }
        }
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    it("run no more Spark jobs per collect than the three separate " +
        "per-variant loops they replaced") {
      val (plain, weighted, seeds) = randomGraph()
      // jobs per collect measured on the per-variant loops (each with its
      // own degree join and dangling anti-join), on this graph and this
      // session: 3 iterations run uncut, 10 cut every iteration
      val budget = Seq[(String, Int => DataFrame, Int, Int)](
        ("pageRank", PageRank.pageRank(plain, _), 22, 165),
        ("personalizedPageRank",
          PageRank.personalizedPageRank(plain, seeds, _), 34, 156),
        ("pageRankWeighted", PageRank.pageRankWeighted(weighted, _), 25, 171))
      val over = budget.flatMap { case (name, rank, uncut, cut) =>
        Seq(3 -> uncut, 10 -> cut).flatMap { case (iters, max) =>
          val jobs = jobsDuring(rank(iters).collect(): Unit)
          info(s"$name, $iters iterations: $jobs jobs (budget $max)")
          if (jobs > max) Some(s"$name@$iters: $jobs > $max") else None
        }
      }
      over shouldBe empty
    }
  }
}
