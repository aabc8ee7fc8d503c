package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.util.Random
import graft.model.{FoundLink, FoundNode, LinkState}

/** SHA-256 over a stream of fields; `hex` is the first 16 hex digits.
  * Every generated input is stamped with one, so a run records exactly
  * which inputs it measured. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(s: String): Digest = { md.update(s.getBytes(UTF_8)); md.update(0.toByte); this }
  def add(l: Long): Digest = add(l.toString)
  def add(bytes: Array[Byte]): Digest = { md.update(bytes); md.update(0.toByte); this }
  def hex: String = md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
}

/** A layered DODAG: node 0 is the root and layer k hangs off layer k-1.
  * The depth is fixed, so every seed gives the snapshot BFS the same
  * number of hops and only the wiring differs. */
final class Layers(nodes: Int) {
  require(nodes >= 16, s"a mesh needs at least 16 nodes, got $nodes")
  /** Start index of each layer; the last layer runs to `nodes`. */
  val starts: Array[Int] = {
    val s = Array(0, 1, 1 + nodes / 100, 1 + nodes / 100 + nodes / 20,
      1 + nodes / 100 + nodes / 20 + nodes / 5)
    s.distinct
  }
  def layerOf(i: Int): Int = starts.lastIndexWhere(_ <= i)
  private def layerRange(k: Int): (Int, Int) =
    (starts(k), if (k + 1 < starts.length) starts(k + 1) else nodes)
  /** A parent for node `i > 0`: any node of the layer above. */
  def pickParent(i: Int, rnd: Random): Int = {
    val (lo, hi) = layerRange(layerOf(i) - 1)
    lo + rnd.nextInt(hi - lo)
  }
  def initial(rnd: Random): Array[Int] =
    Array.tabulate(nodes)(i => if (i == 0) -1 else pickParent(i, rnd))
  /** The next step's parents: each non-root node moves with probability
    * `movePerMille`/1000. */
  def step(prev: Array[Int], rnd: Random, movePerMille: Int): Array[Int] =
    Array.tabulate(nodes)(i =>
      if (i == 0) -1
      else if (rnd.nextInt(1000) < movePerMille) pickParent(i, rnd)
      else prev(i))
}

/** The `snapshot_query` history: `nodes` RPL nodes reporting once an
  * hour for `hours` hours. Each finding is a node's DAO view — its
  * current children as `to_target` links — so the tree at hour h is
  * what a snapshot of any window ending in hour h must return. */
final case class MeshHistory(nodes: Int, hours: Int,
    parents: Array[Array[Int]]) {
  def hourMs(h: Int): Long = MeshHistory.T0Ms + h * 3600000L

  private def childrenAt(h: Int): Array[Array[Int]] = {
    val kids = Array.fill(nodes)(Array.newBuilder[Int])
    var i = 1
    while (i < nodes) { kids(parents(h)(i)) += i; i += 1 }
    kids.map(_.result())
  }

  /** The findings of hour `h`, one per node. */
  def findingsAt(h: Int): Seq[FoundNode] = {
    val kids = childrenAt(h)
    (0 until nodes).map { i =>
      FoundNode(MeshHistory.nodeId(i), hourMs(h),
        Map("rank" -> (256 * (1 + MeshHistory.depth(parents(h), i))).toString),
        kids(i).toSeq.map(c => FoundLink(MeshHistory.nodeId(c),
          LinkState.ToTarget, Map("path_lifetime_sec" -> "1800"))),
        h.toLong * nodes + i)
    }
  }

  /** The tree at hour `h` as (parent, child) id pairs. */
  def edgesAt(h: Int): Seq[(String, String)] =
    (1 until nodes).map(i =>
      (MeshHistory.nodeId(parents(h)(i)), MeshHistory.nodeId(i)))

  def digest: String = {
    val d = new Digest().add(nodes).add(hours)
    parents.foreach(_.foreach(p => d.add(p)))
    d.hex
  }
}

object MeshHistory {
  /** 2019-01-01T00:00Z: the first report hour. */
  val T0Ms = 1546300800000L

  def nodeId(i: Int): String = f"dao://[fd00::212:4b00:${0x1000 + i}%x]"

  def depth(parents: Array[Int], i: Int): Int = {
    var d = 0; var j = i
    while (parents(j) >= 0) { j = parents(j); d += 1 }
    d
  }

  def generate(seed: Long, nodes: Int, hours: Int,
      movePerMille: Int = 20): MeshHistory = {
    val rnd = new Random(seed)
    val layers = new Layers(nodes)
    val ps = new Array[Array[Int]](hours)
    ps(0) = layers.initial(rnd)
    for (h <- 1 until hours) ps(h) = layers.step(ps(h - 1), rnd, movePerMille)
    MeshHistory(nodes, hours, ps)
  }
}

/** The `rpl_ingest` input: Contiki-NG syslog files for a mesh of
  * `nodes` motes, in the line shapes the reference's golden fixtures
  * use. Batch `b` is the mesh at step `b` (one step = `stepMinutes`),
  * split over `files` collector logs; file 0 also carries the root's
  * DAO route table. */
final class SyslogMesh(seed: Long, nodes: Int, files: Int,
    stepMinutes: Int = 60) {
  private val layers = new Layers(nodes)

  /** Parents at step `b`; the walk is replayed from the seed, so any
    * batch can be rebuilt on its own. */
  def parentsAt(b: Int): Array[Int] = {
    val rnd = new Random(seed)
    var p = layers.initial(rnd)
    var i = 0
    while (i < b) { p = layers.step(p, rnd, 50); i += 1 }
    p
  }

  /** Expected findings of batch `b`: one DIO finding per node, and one
    * DAO finding per distinct parent in the root's route table. */
  def expectedFindings(parents: Array[Int]): Long =
    nodes + parents.drop(1).distinct.length

  private def addr(i: Int): String = f"fd00::212:4b00:${0x1000 + i}%x"
  private def linkLocal(i: Int): String = f"fe80::212:4b00:${0x1000 + i}%x"

  private val months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  /** Step 0 is 2019-01-01T00:00Z; the parser takes the year as a
    * parameter, so steps must stay inside 2019. */
  def stepMs(b: Int): Long = MeshHistory.T0Ms + b * stepMinutes * 60000L

  private def head(b: Int, host: Int): String = {
    val t = java.time.Instant.ofEpochMilli(stepMs(b))
      .atZone(java.time.ZoneOffset.UTC)
    f"${months(t.getMonthValue - 1)} ${t.getDayOfMonth}%2d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d " +
      f"mote$host%d contiki: [INFO: RPL       ] "
  }

  /** The text of every file of batch `b`. */
  def batch(b: Int): (Array[Int], Seq[String]) = {
    val parents = parentsAt(b)
    val rnd = new Random(seed * 31 + b)
    val out = Array.fill(files)(new StringBuilder)
    for (i <- 0 until nodes) {
      val sb = out(i % files)
      val h = head(b, i)
      val rank = 128 + 256 * MeshHistory.depth(parents, i)
      sb ++= h ++= s"nbr: own state, addr ${addr(i)}, DAG state: Joined, " +
        s"MOP 2 OCP 1 rank $rank max-rank 65535, dioint 14\n"
      if (i > 0) {
        val p = parents(i)
        val alt = layers.pickParent(i, rnd)
        sb ++= h ++= f"nbr: ${linkLocal(p)}  ${rank - 256}%5d, " +
          f"${128 + rnd.nextInt(64)}%5d => ${rank}%5d -- 2 r a p\n"
        if (alt != p)
          sb ++= h ++= f"nbr: ${linkLocal(alt)}  ${rank - 256}%5d, " +
            f"${160 + rnd.nextInt(64)}%5d => ${rank + 40}%5d -- 1 r a  \n"
      }
      sb ++= h ++= "nbr: end of list\n"
    }
    val root = out(0)
    val h = head(b, 0)
    root ++= h ++= s"links: ${nodes - 1} routing links in total (DODAG root)\n"
    root ++= h ++= s"links: ${addr(0)}  (DODAG root)\n"
    for (i <- 1 until nodes)
      root ++= h ++= s"links: ${addr(i)}  to ${addr(parents(i))} " +
        s"(lifetime: ${1200 + 60 * (i % 10)} seconds)\n"
    root ++= h ++= "links: end of list\n"
    (parents, out.map(_.toString).toSeq)
  }
}
