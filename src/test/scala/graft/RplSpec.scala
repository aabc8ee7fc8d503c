package graft

import java.nio.file.{Files, Paths}
import graft.model.{FoundLink, FoundNode, LinkState}
import graft.rpl._

/** Golden parser tests against the reference's checked-in log fixtures
  * (net-spider-rpl/test/NetSpider/RPL/ContikiNGSpec.hs:40-341), plus IPv6
  * unit coverage. Addresses here are in RFC 5952 canonical form (the
  * reference compares parsed 128-bit values; we compare canonical text —
  * same identity). */
class RplSpec extends SparkSpec {

  private val fixtureDir = "/root/reference/net-spider-rpl/test/data"
  private def fixture(name: String): Option[String] = {
    val p = Paths.get(fixtureDir, name)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  describe("Ipv6") {
    it("parses and canonicalizes") {
      Ipv6.canonical("fd00::201:1:1:1") shouldBe Some("fd00::201:1:1:1")
      Ipv6.canonical("fd00::212:eeaa:0077:2f9c") shouldBe Some("fd00::212:eeaa:77:2f9c")
      Ipv6.canonical("FE80::1") shouldBe Some("fe80::1")
      Ipv6.canonical("1:2:3:4:5:6:7:8") shouldBe Some("1:2:3:4:5:6:7:8")
      Ipv6.canonical("nonsense") shouldBe None
      Ipv6.canonical("1::2::3") shouldBe None
    }
    it("link-local test and prefix substitution") {
      val Some((h, l)) = Ipv6.parse("fe80::212:1199:bbcc:4fdf")
      Ipv6.isLinkLocal(h, l) shouldBe true
      val Some((h2, l2)) = Ipv6.parse("fd00::1")
      Ipv6.isLinkLocal(h2, l2) shouldBe false
      Ipv6.setNonLocalPrefix("fd00::212:1199:eebb:62c4",
        "fe80::212:1199:bbcc:4fdf") shouldBe Some("fd00::212:1199:bbcc:4fdf")
      // non-link-local addresses pass through
      Ipv6.setNonLocalPrefix("fd00::1", "fd01::2") shouldBe Some("fd01::2")
    }
    it("compact address decode (ContikiNG.hs:301-341)") {
      Ipv6.decodeCompact("6G-123") shouldBe Some("::7b")
      Ipv6.decodeCompact("6G-4fdf") shouldBe Some("::4fdf")
      Ipv6.decodeCompact("6G-12") shouldBe None
    }
  }

  describe("ContikiNg.parseText golden fixtures") {

    it("cooja log") {
      val text = fixture("cooja.log").getOrElse(cancel("fixture missing"))
      val r = ContikiNg.parseText(text, ContikiNg.CoojaHead)
      r.dios shouldBe Seq(FoundNode(
        "dio://[fd00::201:1:1:1]", 60382L,
        Map("rank" -> "128", "dio_interval" -> "15"),
        Seq(FoundLink("dio://[fd00::202:2:2:2]", LinkState.Unused,
          Map("neighbor_type" -> "parent_candidate",
            "neighbor_rank" -> "299", "metric" -> "141"))), 0L))
      r.daos shouldBe Seq(FoundNode(
        "dao://[fd00::201:1:1:1]", 60382L,
        Map("dao_route_num" -> "2"),
        Seq(FoundLink("dao://[fd00::202:2:2:2]", LinkState.ToTarget,
          Map("path_lifetime_sec" -> "1740"))), 1L))
    }

    it("syslog root log") {
      val text = fixture("syslog_root.log").getOrElse(cancel("fixture missing"))
      val r = ContikiNg.parseText(text, ContikiNg.SyslogHead(2019))
      val ts = 1546968337000L
      r.dios.size shouldBe 1
      val dio = r.dios.head
      dio.subjectNode shouldBe "dio://[fd00::212:1199:eebb:62c4]"
      dio.epochMs shouldBe ts
      dio.nodeAttrs shouldBe Map("rank" -> "128", "dio_interval" -> "14")
      dio.neighborLinks.map(l =>
        (l.targetNode, l.linkState, l.linkAttrs("neighbor_rank"),
          l.linkAttrs("metric"), l.linkAttrs("neighbor_type"))) shouldBe Seq(
        ("dio://[fd00::212:1199:bbcc:4fdf]", "unused", "262", "128", "parent_candidate"),
        ("dio://[fd00::212:1199:bbcc:d52d]", "unused", "263", "128", "parent_candidate"),
        ("dio://[fd00::212:1199:bbcc:5e88]", "unused", "256", "128", "parent_candidate"),
        ("dio://[fd00::212:1199:eebb:62fe]", "unused", "256", "129", "parent_candidate"))
      r.daos.size shouldBe 1
      val dao = r.daos.head
      dao.subjectNode shouldBe "dao://[fd00::212:1199:eebb:62c4]"
      dao.nodeAttrs shouldBe Map("dao_route_num" -> "5")
      dao.neighborLinks.map(l =>
        (l.targetNode, l.linkAttrs("path_lifetime_sec"))).toSet shouldBe Set(
        ("dao://[fd00::212:1199:bbcc:d52d]", "1080"),
        ("dao://[fd00::212:1199:bbcc:4fdf]", "1260"),
        ("dao://[fd00::212:1199:eebb:62fe]", "1440"),
        ("dao://[fd00::212:1199:bbcc:5e88]", "1140"))
    }

    it("syslog nonroot — flags field variants incl. glued 5-digit rank") {
      val text = fixture("syslog_nonroot.log").getOrElse(cancel("fixture missing"))
      val r = ContikiNg.parseText(text, ContikiNg.SyslogHead(2019))
      r.daos shouldBe empty
      r.dios.size shouldBe 1
      val dio = r.dios.head
      dio.subjectNode shouldBe "dio://[fd00::212:eeaa:77:2f9c]"
      dio.epochMs shouldBe 1547558149000L
      dio.nodeAttrs shouldBe Map("rank" -> "423", "dio_interval" -> "16")
      dio.neighborLinks.map(l =>
        (l.targetNode, l.linkState, l.linkAttrs("neighbor_type"),
          l.linkAttrs("neighbor_rank"), l.linkAttrs("metric"))) shouldBe Seq(
        ("dio://[fd00::212:eeaa:33cc:632a]", "unused", "parent_candidate", "256", "198"),
        ("dio://[fd00::212:eeaa:33ff:a874]", "unused", "parent_candidate", "256", "177"),
        ("dio://[fd00::212:eeaa:33cc:63d0]", "to_target", "preferred_parent", "272", "151"),
        ("dio://[fd00::212:eeaa:9977:13ba]", "unused", "parent_candidate", "283", "152"),
        ("dio://[fd00::212:eeaa:33cc:6350]", "unused", "parent_candidate", "400", "171"),
        ("dio://[fd00::212:eeaa:e88:db36]", "unused", "parent_candidate", "432", "166"),
        ("dio://[fd00::212:eeaa:9977:b4]", "unused", "other_neighbor", "584", "65535"))
    }

    it("syslog sr tables — multiple DAO parents from one block") {
      val text = fixture("syslog_sr_tables.log").getOrElse(cancel("fixture missing"))
      val r = ContikiNg.parseText(text, ContikiNg.SyslogHead(2019))
      r.dios.map(d => (d.subjectNode, d.epochMs, d.nodeAttrs("dio_interval"),
        d.neighborLinks.size)) shouldBe Seq(
        ("dio://[fd00::222:5566:cc99:62c4]", 1548843376000L, "15", 0),
        ("dio://[fd00::222:5566:cc99:62c4]", 1549373162000L, "18", 5))
      val daoByParent = r.daos.map(d => d.subjectNode ->
        (d.nodeAttrs.get("dao_route_num"),
          d.neighborLinks.map(l => (l.targetNode,
            l.linkAttrs("path_lifetime_sec"))).toSet)).toMap
      daoByParent.keySet shouldBe Set(
        "dao://[fd00::222:5566:cc99:62c4]", "dao://[fd00::222:5566:ddee:4fdf]")
      daoByParent("dao://[fd00::222:5566:cc99:62c4]") shouldBe
        (Some("6"), Set(
          ("dao://[fd00::222:5566:ddee:4fdf]", "1140"),
          ("dao://[fd00::222:5566:cc99:62fe]", "1380")))
      daoByParent("dao://[fd00::222:5566:ddee:4fdf]") shouldBe
        (None, Set(
          ("dao://[fd00::222:5566:ddee:d52d]", "1380"),
          ("dao://[fd00::222:5566:ddee:401e]", "1740"),
          ("dao://[fd00::222:5566:ddee:5e88]", "1740")))
    }

    it("syslog inf rank — OtherNeighbor flags and 65535 rank") {
      val text = fixture("syslog_inf_rank.log").getOrElse(cancel("fixture missing"))
      val r = ContikiNg.parseText(text, ContikiNg.SyslogHead(2019))
      r.daos shouldBe empty
      r.dios.size shouldBe 1
      val dio = r.dios.head
      dio.subjectNode shouldBe "dio://[fd00::aaa:bbbb:bcc:1008]"
      dio.epochMs shouldBe 1551104666000L
      dio.nodeAttrs shouldBe Map("rank" -> "65535", "dio_interval" -> "12")
      dio.neighborLinks.map(l =>
        (l.targetNode, l.linkAttrs("neighbor_type"),
          l.linkAttrs("neighbor_rank"), l.linkAttrs("metric"))) shouldBe Seq(
        ("dio://[fd00::aaa:bbbb:bcc:100a]", "other_neighbor", "492", "601"),
        ("dio://[fd00::aaa:bbbb:9221:d51a]", "other_neighbor", "422", "601"),
        ("dio://[fd00::aaa:bbbb:bcc:d5e8]", "other_neighbor", "65535", "133"))
    }

    it("syslog interleaving — garbage inside a block aborts it with a warning") {
      val text = fixture("syslog_interleaving.log").getOrElse(cancel("fixture missing"))
      val r = ContikiNg.parseText(text, ContikiNg.SyslogHead(2019))
      r.daos shouldBe empty
      r.dios.size shouldBe 1
      val dio = r.dios.head
      dio.subjectNode shouldBe "dio://[fd00::212:eeaa:77:2f9c]"
      dio.epochMs shouldBe 1547558152000L
      dio.nodeAttrs shouldBe Map("rank" -> "332", "dio_interval" -> "14")
      dio.neighborLinks.map(l => (l.targetNode, l.linkState)) shouldBe Seq(
        ("dio://[fd00::212:eeaa:33cc:63d0]", "to_target"),
        ("dio://[fd00::212:eeaa:9977:13ba]", "unused"))
      r.warnings.count(_.contains("DIO")) shouldBe 1
    }
  }

  describe("ContikiNg.readLogs (distributed source)") {
    it("reads the cooja fixture through the Spark text source") {
      if (fixture("cooja.log").isEmpty) cancel("fixture missing")
      val (dio, dao) = ContikiNg.readLogs(spark,
        s"$fixtureDir/cooja.log", ContikiNg.CoojaHead)
      dio.count() shouldBe 1
      dao.count() shouldBe 1
      dio.select("subject").collect().map(_.getString(0)).toSeq shouldBe
        Seq("dio://[fd00::201:1:1:1]")
    }
  }

  describe("ContikiNg.readLogs on generated syslog (no fixtures)") {
    import org.apache.commons.io.FileUtils
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.input_file_name
    import graft.model.Findings
    import graft.sources.History

    val head = ContikiNg.SyslogHead(2019)

    /** Three DIO blocks and one DAO route table, on addresses unique to
      * file `k`: 3 DIO and 3 DAO findings, block indices 0-3. */
    def syslog(k: Int): String = {
      def addr(i: Int) = f"fd00::212:4b00:${0x100 * (k + 1) + i}%x"
      def linkLocal(i: Int) = f"fe80::212:4b00:${0x100 * (k + 1) + i}%x"
      val h = f"Jan  1 00:$k%02d:00 mote$k contiki: [INFO: RPL       ] "
      val dio = (1 to 3).map { i =>
        val rank = 128 + 256 * i
        s"${h}nbr: own state, addr ${addr(i)}, DAG state: Joined, " +
          s"MOP 2 OCP 1 rank $rank max-rank 65535, dioint 14\n" +
          f"${h}nbr: ${linkLocal(i - 1)}  ${rank - 256}%5d, " +
          f"${130 + i}%5d => $rank%5d -- 2 r a p\n" +
          s"${h}nbr: end of list\n"
      }
      val dao = (1 to 3).map(i => s"${h}links: ${addr(i)}  to " +
        s"${addr(i - 1)} (lifetime: ${1200 + i} seconds)\n")
      dio.mkString + s"${h}links: 3 routing links in total (DODAG root)\n" +
        s"${h}links: ${addr(0)}  (DODAG root)\n" + dao.mkString +
        s"${h}links: end of list\n"
    }

    /** Names that URI-encode differently (a space, a literal `%20`, a
      * non-ASCII letter), an empty file that sorts between non-empty ones
      * (so ranking it would shift every later rank), and a subdirectory.
      * The non-ASCII name is left out when the JVM's file-name charset
      * cannot represent it (a POSIX/C locale). */
    def logDir(): java.nio.file.Path = {
      val dir = Files.createTempDirectory("graft_readlogs")
      val names = Seq("a b.log", "b-empty.log", "c%20.log", "dé.log")
        .filter(java.nio.charset.Charset.forName(
          System.getProperty("sun.jnu.encoding")).newEncoder().canEncode(_))
      names.zipWithIndex.foreach { case (n, k) =>
        Files.writeString(dir.resolve(n), if (n.contains("empty")) "" else syslog(k))
      }
      Files.createDirectories(dir.resolve("sub"))
      Files.writeString(dir.resolve("sub/e.log"), syslog(9))
      dir
    }

    /** The rows readLogs must produce: each file's parseText findings,
      * finding_seq = (rank << 30) | block, where rank is the file's index
      * among the files that yield a row (non-empty), in sorted
      * `input_file_name()` order. */
    def expected(path: String): (Seq[FoundNode], Seq[FoundNode]) = {
      val uris = spark.read.option("wholetext", "true").text(path)
        .select(input_file_name()).collect().map(_.getString(0)).sorted
      val parsed = uris.toSeq.zipWithIndex.map { case (u, rank) =>
        val r = ContikiNg.parseText(
          Files.readString(Paths.get(new java.net.URI(u).getPath)), head)
        r.warnings shouldBe empty
        def packed(fs: Seq[FoundNode]) =
          fs.map(f => f.copy(findingSeq = (rank.toLong << 30) | f.findingSeq))
        (packed(r.dios), packed(r.daos))
      }
      (parsed.flatMap(_._1), parsed.flatMap(_._2))
    }

    def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.collect().toSeq.sortBy(r => (r.getAs[Long]("finding_seq"),
        r.getAs[String]("subject")))

    it("matches per-file parseText with finding_seq ranked over the " +
        "non-empty files in URI order, for a dir, a glob and a relative path") {
      val dir = logDir()
      try {
        val relative = Paths.get("").toAbsolutePath.relativize(dir).toString
        relative should not startWith "/"
        for (path <- Seq(dir.toString, s"$dir/*", relative)) {
          val (wantDio, wantDao) = expected(path)
          // dense ranks: the empty file, sorted between two others, has none
          val ranks = (wantDio ++ wantDao).map(_.findingSeq >> 30).distinct.sorted
          ranks shouldBe ranks.indices.map(_.toLong)
          ranks.size should be >= 2
          val (dio, dao) = ContikiNg.readLogs(spark, path, head)
          rows(dio) shouldBe rows(Findings.fromSeq(spark, wantDio))
          rows(dao) shouldBe rows(Findings.fromSeq(spark, wantDao))
          dio.count() shouldBe 3 * ranks.size
        }
        // the glob reaches the subdirectory's file, the dir read does not
        expected(s"$dir/*")._1.map(_.findingSeq >> 30).distinct.size shouldBe
          expected(dir.toString)._1.map(_.findingSeq >> 30).distinct.size + 1
      } finally FileUtils.deleteDirectory(dir.toFile)
    }

    it("runs no job and caches nothing; the append is one job") {
      val dir = logDir()
      val table = Files.createTempDirectory("graft_readlogs_hist").toString + "/t"
      try {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        var frames: (org.apache.spark.sql.DataFrame,
          org.apache.spark.sql.DataFrame) = null
        jobsDuring { frames = ContikiNg.readLogs(spark, dir.toString, head) } shouldBe 0
        spark.sparkContext.getPersistentRDDs.keySet shouldBe before
        val (dio, dao) = frames
        jobsDuring {
          History.appendBatch(dio.unionByName(dao), table, 1L)
        } shouldBe 1
        spark.sparkContext.getPersistentRDDs.keySet shouldBe before
        val (wantDio, wantDao) = expected(dir.toString)
        History.read(spark, table).count() shouldBe wantDio.size + wantDao.size
      } finally {
        FileUtils.deleteDirectory(dir.toFile)
        FileUtils.deleteDirectory(Paths.get(table).getParent.toFile)
      }
    }

    it("refuses more than 2^13 files before any job runs") {
      val dir = Files.createTempDirectory("graft_readlogs_many")
      try {
        (0 to (1 << 13)).foreach(i => Files.writeString(dir.resolve(s"f$i.log"), "x"))
        var err: Throwable = null
        jobsDuring {
          err = intercept[IllegalArgumentException] {
            ContikiNg.readLogs(spark, dir.toString, head)
          }
        } shouldBe 0
        err.getMessage should include("split the glob")
      } finally FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
