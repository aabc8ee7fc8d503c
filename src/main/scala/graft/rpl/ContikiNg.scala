package graft.rpl

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.input_file_name
import graft.model.{FoundLink, FoundNode, Findings, LinkState}

/** Contiki-NG RPL log source (the reference's NetSpider.RPL.ContikiNG):
  * multi-line DIO / DAO blocks → findings.
  *
  * Spark shape: one file = one parse unit (`spark.read.option("wholetext",
  * true)`), so blocks NEVER cross partition boundaries (SURVEY §2.1-S1's
  * trap); each file's lines run through a small state machine in a
  * distributed flatMap. At scale this parallelizes per file — log
  * collections are many-small-files shaped, which is exactly Spark's text
  * source sweet spot.
  *
  * Faithfulness notes (behaviors pinned by the reference's golden tests,
  * ContikiNGSpec.hs):
  *  - a non-block line inside a block aborts the block with a warning and
  *    is itself re-examined as a potential block head (conduit backtrack,
  *    ContikiNG.hs:148-162);
  *  - DIO neighbor flags are a positional 6-slot field (space,r,b,a,f,p),
  *    each slot consuming one char (pExpectChar, ContikiNG.hs:409-420);
  *  - a 5-digit rank glues to the address with no space
  *    (pNeighborAndRank non_spaced, ContikiNG.hs:374-390);
  *  - link-local neighbor addresses take the subject's global prefix
  *    (setNonLocalPrefix, ContikiNG.hs:239-243);
  *  - DAO rows group by parent into one finding per parent; the DODAG
  *    root's finding carries the route count (ContikiNG.hs:225-237).
  */
object ContikiNg {

  /** Log-line prefix parser: returns (epochMs, content) — content is the
    * text after the prefix, still carrying the `[LEVEL: MODULE ] ` head. */
  trait LogHead extends Serializable {
    def parse(line: String): Option[(Long, String)]
  }

  /** Cooja `MM:SS.mmm ID:n` prefix (pCoojaLogHead, ContikiNG.hs:455-469). */
  object CoojaHead extends LogHead {
    private val Re = """^(\d+):(\d+)\.(\d+)\s+ID:(\d+)\s+(.*)$""".r
    def parse(line: String): Option[(Long, String)] = line match {
      case Re(mm, ss, ms, _, rest) =>
        Some(((mm.toLong * 60 + ss.toLong) * 1000 + ms.toLong, rest))
      case _ => None
    }
  }

  /** Syslog `Mmm dd hh:mm:ss HOST TAG:` prefix with caller-supplied year
    * and optional tz offset minutes (pSyslogHead, ContikiNG.hs:480-504). */
  final case class SyslogHead(year: Int, tzOffsetMin: Int = 0) extends LogHead {
    private val Re =
      """^(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec) +(\d+) (\d+):(\d+):(\d+) (\S+) (\S+) (.*)$""".r
    private val months = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
      "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
    def parse(line: String): Option[(Long, String)] = line match {
      case Re(mon, d, h, mi, s, _, _, rest) =>
        val ldt = java.time.LocalDateTime.of(year, months.indexOf(mon) + 1,
          d.toInt, h.toInt, mi.toInt, s.toInt)
        val off = java.time.ZoneOffset.ofTotalSeconds(tzOffsetMin * 60)
        Some((ldt.toInstant(off).toEpochMilli, rest))
      case _ => None
    }
  }

  final case class ParseResult(dios: Seq[FoundNode], daos: Seq[FoundNode],
      warnings: Seq[String])

  private val DioHeadRe =
    """^nbr: own state, addr ([0-9a-fA-F:]+), DAG state: [^,]*, MOP \d+ OCP \d+ rank (\d+) max-rank \d+, dioint (\d+).*$""".r
  private val DaoHeadRe = """^links: (\d+) routing links in total .*$""".r
  private val DaoLinkToRe =
    """^links: (\S+)  to (\S+) \(lifetime: (\d+) seconds\).*$""".r
  private val DaoRootRe = """^links: ([0-9a-fA-F:]+|6G-\w+)(\s.*)?$""".r

  private def isAddressChar(c: Char): Boolean =
    c.isDigit || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F') || c == ':'

  /** pDIONeighbor (ContikiNG.hs:392-420). Returns
    * (addr, neighborType, neighborRank, metric). */
  private[rpl] def parseDioNeighbor(s: String): Option[(String, String, Long, Long)] = {
    if (!s.startsWith("nbr: ")) return None
    val body = s.drop(5)
    if (body.startsWith("own state") || body.startsWith("end of list")) return None
    // address + rank juncture
    val (addrStr, afterAddrRank): (String, String) = {
      if (body.startsWith("6G-")) {
        val tok = body.takeWhile(c => !c.isWhitespace && c != ',')
        val rest = body.drop(tok.length)
        // spaced only for compact form
        val m = """^\s+(\d+), (.*)$""".r.findFirstMatchIn(rest)
        m match {
          case Some(g) => return finishNeighbor(Ipv6.decodeCompact(tok),
            g.group(1).toLong, g.group(2))
          case None => return None
        }
      }
      val tok = body.takeWhile(isAddressChar)
      (tok, body.drop(tok.length))
    }
    val spaced = """^\s+(\d+), (.*)$""".r.findFirstMatchIn(afterAddrRank)
    spaced match {
      case Some(m) if Ipv6.canonical(addrStr).isDefined =>
        finishNeighbor(Ipv6.canonical(addrStr), m.group(1).toLong, m.group(2))
      case _ =>
        // 5-digit rank glued to the address (pNeighborAndRank non_spaced)
        if (addrStr.length > 5 && afterAddrRank.startsWith(", ")) {
          val (a, r) = addrStr.splitAt(addrStr.length - 5)
          if (r.forall(_.isDigit))
            finishNeighbor(Ipv6.canonical(a), r.toLong, afterAddrRank.drop(2))
          else None
        } else None
    }
  }

  /** After "addr rank, ": metric => rank_via -- freshness flags. */
  private def finishNeighbor(addr: Option[String], rank: Long,
      rest: String): Option[(String, String, Long, Long)] = addr.flatMap { a =>
    val Re = """^\s*(\d+) => \s*\d+ -- \s*\d+(.*)$""".r
    rest match {
      case Re(metric, tail) =>
        // positional pExpectChar simulation: 6 slots, one char each
        var acceptable = false; var preferred = false
        val expected = Array(' ', 'r', 'b', 'a', 'f', 'p')
        var i = 0
        while (i < 6 && i < tail.length) {
          val c = tail(i)
          if (c == expected(i)) {
            if (c == 'a') acceptable = true
            if (c == 'p') preferred = true
          }
          i += 1
        }
        val ntype =
          if (preferred) "preferred_parent"
          else if (acceptable) "parent_candidate"
          else "other_neighbor"
        Some((a, ntype, rank, metric.toLong))
      case _ => None
    }
  }

  /** neighborType → LinkState (dioLinkState, DIO.hs:203-207). */
  private def dioLinkState(ntype: String): String =
    if (ntype == "preferred_parent") LinkState.ToTarget else LinkState.Unused

  /** Strip `[LEVEL: MODULE ] ` (pLogHead, ContikiNG.hs:425-429). */
  private def stripLogHead(content: String): Option[String] =
    if (content.startsWith("[")) {
      val i = content.indexOf(']')
      if (i >= 0 && content.length > i + 1 && content(i + 1) == ' ')
        Some(content.substring(i + 2))
      else None
    } else None

  /** Parse one file's text. findingSeq = block index within the file. */
  def parseText(text: String, head: LogHead): ParseResult = {
    val dios = ArrayBuffer.empty[FoundNode]
    val daos = ArrayBuffer.empty[FoundNode]
    val warnings = ArrayBuffer.empty[String]
    var seq = 0L

    // DIO block state
    var dioTs = 0L; var dioAddr = ""; var dioRank = 0L; var dioInt = 0L
    val dioLinks = ArrayBuffer.empty[FoundLink]
    // DAO block state
    var daoTs = 0L; var daoRouteNum = 0L
    val daoRows = ArrayBuffer.empty[(String, Option[(String, Long)])]

    var state: Int = 0 // 0=idle, 1=in-dio, 2=in-dao

    def emitDio(): Unit = {
      dios += FoundNode(s"dio://[$dioAddr]", dioTs,
        Map("rank" -> dioRank.toString, "dio_interval" -> dioInt.toString),
        dioLinks.toSeq, seq)
      seq += 1
    }

    def emitDao(): Unit = {
      val root = daoRows.collectFirst { case (c, None) => c }
      root match {
        case None =>
          warnings += "No root address found in DAO log block"
        case Some(rootAddr) =>
          val grouped = daoRows
            .collect { case (c, Some((p, lt))) => (p, c, lt) }
            .groupBy(_._1).toSeq.sortBy(_._1)
          grouped.foreach { case (parent, rows) =>
            val attrs =
              if (parent == rootAddr)
                Map("dao_route_num" -> daoRouteNum.toString)
              else Map.empty[String, String]
            daos += FoundNode(s"dao://[$parent]", daoTs, attrs,
              rows.map { case (_, c, lt) => FoundLink(s"dao://[$c]",
                LinkState.ToTarget,
                Map("path_lifetime_sec" -> lt.toString)) }.toSeq, seq)
          }
          seq += 1
      }
    }

    def abort(kind: String): Unit = {
      warnings += s"Unexpected input while parsing a block of $kind; block discarded"
      dioLinks.clear(); daoRows.clear()
      state = 0
    }

    for (line <- text.linesIterator) {
      var reprocess = true
      while (reprocess) {
        reprocess = false
        val parsed = head.parse(line).flatMap { case (ts, rest) =>
          stripLogHead(rest).map(c => (ts, c))
        }
        state match {
          case 0 =>
            parsed match {
              case Some((ts, content)) => content match {
                case DioHeadRe(addr, rank, dioint) =>
                  Ipv6.canonical(addr).foreach { a =>
                    dioTs = ts; dioAddr = a
                    dioRank = rank.toLong; dioInt = dioint.toLong
                    dioLinks.clear(); state = 1
                  }
                case DaoHeadRe(n) =>
                  daoTs = ts; daoRouteNum = n.toLong
                  daoRows.clear(); state = 2
                case _ => ()
              }
              case None => ()
            }
          case 1 =>
            parsed match {
              case Some((_, content)) if content.startsWith("nbr: end of list") =>
                emitDio(); state = 0
              case Some((_, content)) =>
                parseDioNeighbor(content) match {
                  case Some((addr, ntype, rank, metric)) =>
                    val resolved =
                      Ipv6.setNonLocalPrefix(dioAddr, addr).getOrElse(addr)
                    dioLinks += FoundLink(s"dio://[$resolved]",
                      dioLinkState(ntype),
                      Map("neighbor_type" -> ntype,
                        "neighbor_rank" -> rank.toString,
                        "metric" -> metric.toString))
                  case None => abort("DIO"); reprocess = true
                }
              case None => abort("DIO"); reprocess = true
            }
          case 2 =>
            parsed match {
              case Some((_, content)) if content.startsWith("links: end of list") =>
                emitDao(); state = 0
              case Some((_, content)) => content match {
                case DaoLinkToRe(child, parent, lt) =>
                  (Ipv6.parseMaybeCompact(child), Ipv6.parseMaybeCompact(parent)) match {
                    case (Some(c), Some(p)) =>
                      daoRows += ((c, Some((p, lt.toLong))))
                    case _ => abort("DAO"); reprocess = true
                  }
                case DaoRootRe(child, _) =>
                  Ipv6.parseMaybeCompact(child) match {
                    case Some(c) => daoRows += ((c, None))
                    case None => abort("DAO"); reprocess = true
                  }
                case _ => abort("DAO"); reprocess = true
              }
              case None => abort("DAO"); reprocess = true
            }
        }
      }
    }
    // EOF inside a block: block discarded (handleBlockError EOF path)
    if (state != 0)
      warnings += "EOF while parsing a block; the block is discarded"
    ParseResult(dios.toSeq, daos.toSeq, warnings.toSeq)
  }

  /** Distributed source: every file under `path` parsed whole
    * (wholetext), one parse unit per file. Returns (dioFindings,
    * daoFindings) as canonical findings DataFrames ready for
    * Weave/GetSnapshot.
    *
    * Lazy: the only driver work is the scan's file listing, so the call
    * runs no Spark job and caches nothing. The parse and the finding_seq
    * packing run inside whichever job consumes a frame, and every
    * consuming job parses its files again — persist a frame you consume
    * more than once.
    *
    * finding_seq must be unique ACROSS files for deterministic
    * tie-breaks: it packs the file's rank over a 30-bit per-file block
    * counter, `(rank << 30) | block`. The rank is the file's index among
    * the files the scan reads — the non-empty ones, the same set
    * `input_file_name()` reports — sorted by that URI string. Bounds
    * fail loudly instead of aliasing: finding_seq must stay < 2^43 so
    * downstream sample_seq = finding_seq * 1e6 + pos fits in a Long,
    * i.e. at most 2^13 files per read (checked here, before any job) and
    * 2^30 blocks per file (checked by the parse). */
  def readLogs(spark: SparkSession, path: String, head: LogHead): (DataFrame, DataFrame) = {
    import spark.implicits._
    val scan = spark.read.option("wholetext", "true").text(path)
    val rank = fileRanks(scan)
    require(rank.size <= (1 << 13),
      s"readLogs: more than ${1 << 13} files in one read; split the glob")
    val files = scan.withColumn("file", input_file_name()).as[(String, String)]
    def findings(pick: ParseResult => Seq[FoundNode]): DataFrame =
      Findings.toCanonical(files.flatMap { case (text, file) =>
        val fi = rank(file)
        pick(parseText(text, head)).map { f =>
          require(f.findingSeq < (1L << 30),
            s"readLogs: more than ${1 << 30} blocks in $file")
          f.copy(findingSeq = (fi << 30) | f.findingSeq)
        }
      })
    (findings(_.dios), findings(_.daos))
  }

  /** Rank of each file a wholetext scan reads, from the driver's file
    * index: `listFiles` is the listing the scan itself plans from, and
    * it drops empty files, which yield no row. */
  private def fileRanks(scan: DataFrame): Map[String, Long] = {
    val index = scan.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    } match {
      case Some(r: HadoopFsRelation) => r.location
      case other => throw new IllegalStateException(
        s"readLogs: expected a file scan, found $other")
    }
    index.listFiles(Nil, Nil).flatMap(_.files)
      .map(_.getPath.toUri.toString).sorted
      .zipWithIndex.map { case (f, i) => f -> i.toLong }.toMap
  }
}
