package graft.rpl

/** IPv6 addresses as (hi, lo) 64-bit halves with RFC 5952 canonical text —
  * the prefix/interface-ID arithmetic of the reference
  * (net-spider-rpl/src/NetSpider/RPL/IPv6.hs:26-50) plus parsing/printing
  * (the reference delegates to the `ip` package's Net.IPv6).
  *
  * Kept as plain Scala so it can run inside codegen'd expressions via
  * simple UDF wrappers or on the driver; addresses travel through
  * DataFrames as canonical lowercase strings.
  */
object Ipv6 {

  /** Parse full or `::`-compressed hex form. Returns (hi64, lo64). */
  def parse(s: String): Option[(Long, Long)] = {
    val str = s.trim.toLowerCase
    if (str.isEmpty || str.count(_ == ':') < 2 && !str.contains("::")) {
      // need at least one ':'; bare hex is not an address
      if (!str.contains(":")) return None
    }
    val parts = str.split("::", -1)
    if (parts.length > 2) return None
    def groups(p: String): Option[Array[Int]] = {
      if (p.isEmpty) Some(Array.empty)
      else {
        val gs = p.split(":", -1)
        if (gs.exists(g => g.isEmpty || g.length > 4 ||
            !g.forall(c => c.isDigit || (c >= 'a' && c <= 'f')))) None
        else Some(gs.map(Integer.parseInt(_, 16)))
      }
    }
    val full: Option[Array[Int]] =
      if (parts.length == 2) {
        for {
          l <- groups(parts(0)); r <- groups(parts(1))
          if l.length + r.length <= 7
        } yield l ++ Array.fill(8 - l.length - r.length)(0) ++ r
      } else groups(parts(0)).filter(_.length == 8)
    full.map { gs =>
      def half(i: Int) =
        gs.slice(i, i + 4).foldLeft(0L)((acc, g) => (acc << 16) | g)
      (half(0), half(4))
    }
  }

  /** RFC 5952 canonical form: lowercase, longest zero-run (≥2 groups)
    * compressed to `::`, leftmost run on tie. */
  def format(hi: Long, lo: Long): String = {
    val gs = Array.tabulate(8) { i =>
      val h = if (i < 4) hi else lo
      ((h >>> ((3 - (i % 4)) * 16)) & 0xffff).toInt
    }
    var bestStart = -1; var bestLen = 0
    var i = 0
    while (i < 8) {
      if (gs(i) == 0) {
        var j = i
        while (j < 8 && gs(j) == 0) j += 1
        if (j - i > bestLen) { bestLen = j - i; bestStart = i }
        i = j
      } else i += 1
    }
    if (bestLen < 2)
      gs.map(g => java.lang.Integer.toHexString(g)).mkString(":")
    else {
      val left = gs.take(bestStart).map(java.lang.Integer.toHexString(_))
      val right = gs.drop(bestStart + bestLen).map(java.lang.Integer.toHexString(_))
      left.mkString(":") + "::" + right.mkString(":")
    }
  }

  def canonical(s: String): Option[String] =
    parse(s).map { case (h, l) => format(h, l) }

  /** fe80::/10 test (IPv6.hs:26-31). */
  def isLinkLocal(hi: Long, lo: Long): Boolean =
    ((hi >>> 48) & 0xffc0L) == 0xfe80L

  /** Link-local prefix substitution (ContikiNG.hs:239-243): if `addr` is
    * link-local, graft the subject's global prefix onto its interface ID. */
  def setNonLocalPrefix(subject: String, addr: String): Option[String] =
    for {
      (sh, _) <- parse(subject)
      (ah, al) <- parse(addr)
    } yield if (isLinkLocal(ah, al)) format(sh, al) else format(ah, al)

  /** Compact-address decoding (ContikiNG.hs:301-341): `6G-nnn` (3 decimal
    * digits, node id) or `6G-xxxx` (4 hex digits) → synthetic address. */
  def decodeCompact(s: String): Option[String] =
    if (!s.startsWith("6G-")) None
    else {
      val t = s.drop(3)
      if (t.length == 3 && t.forall(_.isDigit))
        Some(format(0L, t.toLong))
      else if (t.length == 4 && t.forall(c =>
          c.isDigit || "abcdefABCDEF".contains(c)))
        Some(format(0L, java.lang.Long.parseLong(t.toLowerCase, 16)))
      else None
    }

  /** `6G-…` compact form or plain address → canonical text. */
  def parseMaybeCompact(s: String): Option[String] =
    decodeCompact(s).orElse(canonical(s))
}
