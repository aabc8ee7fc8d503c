package graft

import org.apache.spark.sql.functions._
import graft.operators.Betweenness

class BetweennessSpec extends SparkSpec {
  import spark.implicits._

  describe("Betweenness.exact (driver-local Brandes)") {
    it("path graph: the middle node brokers its one pair") {
      val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
      val b = Betweenness.exact(edges).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      b(2L) shouldBe 1.0 +- 1e-12
      b(1L) shouldBe 0.0 +- 1e-12
      b(3L) shouldBe 0.0 +- 1e-12
    }

    it("star graph: the hub brokers every pair") {
      val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
      val b = Betweenness.exact(edges).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      b(0L) shouldBe 3.0 +- 1e-12 // C(3,2) pairs
      b(1L) shouldBe 0.0 +- 1e-12
    }

    it("bridge between two triangles dominates") {
      // triangles {1,2,3} and {4,5,6}, bridge 3-4
      val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
        (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
      val b = Betweenness.exact(edges).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      // 3 brokers: all (1|2) x (4|5|6) pairs = 6, plus none inside
      b(3L) shouldBe 6.0 +- 1e-12
      b(4L) shouldBe 6.0 +- 1e-12
      b(1L) shouldBe 0.0 +- 1e-12
      b(5L) shouldBe 0.0 +- 1e-12
    }

    it("refuses graphs over the local bound") {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
      an[IllegalArgumentException] should be thrownBy
        graft.util.DriverLane.withBound(2)(Betweenness.exact(edges))
    }
  }

  describe("Betweenness.sampled (distributed per-source lane)") {
    it("with all sources and no extrapolation it IS exact") {
      val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
        (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
      val exact = Betweenness.exact(edges).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      val s = Betweenness.sampled(edges, nSources = 6,
        extrapolate = false).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      exact.foreach { case (id, v) => s(id) shouldBe v +- 1e-9 }
    }

    it("extrapolation scales by |V|/k and the pick is deterministic") {
      val edges = Seq((1L, 2L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
      val s1 = Betweenness.sampled(edges, nSources = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
      val s2 = Betweenness.sampled(edges.repartition(5), nSources = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
      s1 shouldBe s2
    }

    it("releases its per-source checkpoints: persistent-RDD count " +
        "does not grow with sources x depth") {
      // an 8-node path (depth 7) x 8 sources: the pre-r12 shape
      // retired ~sources x depth full-node acc checkpoints plus every
      // level/visited frame — over 100 leaked persistent RDDs; the
      // released shape leaves only the final acc (+ the session's
      // unrelated cache noise, bounded here by a generous margin)
      val edges = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
      val before = spark.sparkContext.getPersistentRDDs.size
      Betweenness.sampled(edges, nSources = 8, extrapolate = false)
        .collect()
      val leaked = spark.sparkContext.getPersistentRDDs.size - before
      leaked should be <= 3
    }
  }
}
