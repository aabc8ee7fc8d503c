package graft

import graft.operators.Communities

/** operators/Communities: deterministic synchronous LPA (q140). */
class CommunitiesSpec extends SparkSpec {

  it("two cliques with one bridge converge to per-clique min labels " +
      "after two sweeps") {
    import spark.implicits._
    // clique {a,b,c}, clique {x,y,z}, bridge c-x
    val e = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")).toDF("src", "dst")
    val labels = Communities.labelPropagation(e, rounds = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    // hand-traced synchronous sweeps:
    //   r1: a=b b=a c=a x=c y=x z=x
    //   r2: a=a b=a c=a x=x y=c z=c
    // the {a,b,c} clique settles on "a"; the {x,y,z} side still churns
    // (synchronous LPA oscillates on tiny symmetric graphs — that
    // churn being EXACTLY reproducible is what this spec pins)
    labels shouldBe Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "c", "z" -> "c")
  }

  it("ties adopt the smallest label — a path node between two " +
      "single-label sides") {
    import spark.implicits._
    // m's neighbors after round 1: a (labeled a), z (labeled z) — tie
    // count 1 each → m takes 'a'
    val e = Seq(("a", "m"), ("m", "z")).toDF("src", "dst")
    val l1 = Communities.labelPropagation(e, rounds = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    l1("m") shouldBe "a"
    // endpoints see only m → adopt m's start label
    l1("a") shouldBe "m"
    l1("z") shouldBe "m"
  }

  it("tolChanges stops when the labeling is stable — identical to the " +
      "fixed run at the stop round") {
    import spark.implicits._
    // complete triangle: r1 = 3 label changes, r2 = 1, r3 = 0 → the
    // tol run stops at round 3 with the settled per-clique min label
    val e = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    val got = Communities.labelPropagation(e, rounds = 10, tolChanges = 0L)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    got shouldBe Map("a" -> "a", "b" -> "a", "c" -> "a")
    val fixed = Communities.labelPropagation(e, rounds = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    got shouldBe fixed
  }

  it("the size-aware cut trigger changes the lineage policy, never " +
      "the labels") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
      ("b", "d")).toDF("src", "dst")
    // 5 raw edges are within the default bound → the lazy fast path;
    // bound 1 → they exceed it, cut from round 1; bound 0 → the
    // at-scale path, cut from round 1 too
    def run() = Communities.labelPropagation(e, rounds = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    val lazyRun = run()
    val cutRun = graft.util.DriverLane.withBound(1)(run())
    lazyRun shouldBe cutRun
    graft.util.DriverLane.withBound(0)(run()) shouldBe lazyRun
  }

  it("is deterministic across partitionings and zero rounds is the " +
      "identity labeling") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
      ("b", "d")).toDF("src", "dst")
    val l0 = Communities.labelPropagation(e, rounds = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    l0 shouldBe Seq(("a", "a"), ("b", "b"), ("c", "c"), ("d", "d"))
    val r1 = Communities.labelPropagation(e, rounds = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    val r2 = Communities.labelPropagation(e.repartition(5), rounds = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    r1 shouldBe r2
  }
}
