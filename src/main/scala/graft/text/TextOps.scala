package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristic, token counting,
  * document fingerprinting. All pure column expressions (codegen'd, no
  * UDFs) so they scan-prune and push down at 100 TB.
  *
  * Every expression here has a DuckDB twin in SparkEntry.oracleSql — keep
  * the arithmetic in lockstep (same regexes, same fold order).
  */
object TextOps {

  /** Normalized token array: lowercase, split on non-alphanumeric, empties
    * dropped. */
  def tokens(text: Column): Column =
    graft.functions.TextExpressions.asciiTokens(text)

  /** The chained column form of [[tokens]] — the semantic definition
    * (the oracles state lower + regexp split + empty-drop verbatim);
    * kept as the parity twin the fused byte-walk expression is
    * spec-checked against (TextOpsSpec, incl. unicode-lowercase
    * corners like Kelvin K → ASCII k). */
  def tokensChained(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Whitespace-ish token count + a BPE-ish regex token count (letter
    * runs, digit runs, single punctuation marks). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Gopher-style repetition filters (Rae et al. 2021 §A1.1, "Scaling
    * Language Models: ... Gopher" quality heuristics), integer-exact:
    * per doc, (tok_chars) total token characters, (top2_chars)
    * characters covered by the single most frequent word 2-gram
    * (occurrences × gram length; ties → lexicographically smallest
    * gram), and (dup3_chars) characters in word 3-grams occurring more
    * than once (Σ cnt × gram length over cnt ≥ 2). The downstream
    * filter compares e.g. top2_chars/tok_chars against a threshold —
    * the division stays out of the operator so every emitted value is
    * an exact integer. Two explode + hash-count pipelines, no windows
    * over the full corpus, no UDFs. */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("t"))
    def grams(n: Int) =
      // codegen'd all-shingles (r16); the size ≥ n guard keeps the
      // short-token edge (< n tokens → no grams) identical to the
      // sequence-HOF form it replaces.
      when(size(col("t")) >= n,
        graft.functions.TextExpressions.allWordShingles(col("t"), n))
        .otherwise(array().cast("array<string>"))
    def gramCounts(n: Int) = base
      .select(col("doc_id"), explode(grams(n)).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      // gram chars = string length minus the (n-1) joining spaces
      .withColumn("chars",
        col("cnt") * (length(col("g")) - (n - 1)).cast("long"))
    val tokChars = base.select(col("doc_id"),
      length(array_join(col("t"), "")).cast("long").as("tok_chars"))
    val top2 = gramCounts(2).groupBy(col("doc_id"))
      .agg(min_by(col("chars"),
        struct((-col("cnt")).as("nc"), col("g"))).as("top2_chars"))
    val dup3 = gramCounts(3).filter(col("cnt") >= 2)
      .groupBy(col("doc_id"))
      .agg(sum(col("chars")).as("dup3_chars"))
    tokChars
      .join(top2, Seq("doc_id"), "left")
      .join(dup3, Seq("doc_id"), "left")
      .select(col("doc_id"),
        // null-text docs report 0, keeping the all-exact-integer
        // contract (a null tok_chars would make the downstream filter
        // ratio null and the doc fall through the Gopher gate unseen)
        coalesce(col("tok_chars"), lit(0L)).as("tok_chars"),
        coalesce(col("top2_chars"), lit(0L)).as("top2_chars"),
        coalesce(col("dup3_chars"), lit(0L)).as("dup3_chars"))
  }

  def bpeishCount(text: Column): Column =
    size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))

  /** Quality metrics (length / punctuation / stopword / digit ratios) —
    * the standard pre-training corpus filters. */
  val enStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for",
    "with", "as", "by", "at", "it", "this", "that", "be", "are")

  def qualityColumns(text: Column): Seq[Column] = {
    val toks = tokens(text)
    val nChars = length(text)
    val nToks = size(toks)
    val stopHits = size(filter(toks,
      t => t.isin(enStopwords.map(x => x: Any): _*)))
    val punct = nChars - length(regexp_replace(text, "[^a-z0-9A-Z\\s]", ""))
    val digits = nChars - length(regexp_replace(text, "[0-9]", ""))
    Seq(
      nChars.cast("long").as("n_chars"),
      nToks.cast("long").as("n_tokens"),
      round(nChars.cast("double") / greatest(nToks, lit(1)), 6).as("avg_token_len"),
      round(punct.cast("double") / greatest(nChars, lit(1)), 6).as("punct_ratio"),
      round(digits.cast("double") / greatest(nChars, lit(1)), 6).as("digit_ratio"),
      round(stopHits.cast("double") / greatest(nToks, lit(1)), 6).as("stopword_ratio"))
  }

  /** Readability SUFFICIENT STATISTICS, integer-exact: n_words
    * (tokens), n_sentences (non-blank runs between `.!?` terminators;
    * min 1), n_syllables (vowel-group runs `[aeiouy]+` per token, min
    * 1 per token — the standard heuristic). Flesch / Flesch-Kincaid
    * are linear in these three counts, so their FP weights stay
    * consumer-side (the PMI discipline) while the counts hash-gate. */
  def readabilityColumns(text: Column): Seq[Column] = {
    val toks = tokens(text)
    // wsTrim for the emptiness test: an NBSP-only segment is blank in
    // both engines only under the explicit class
    val sents = filter(split(text, "[.!?]+"), s => wsTrim(s) =!= "")
    val syll = aggregate(
      transform(toks, t => greatest(
        size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))), lit(1))),
      lit(0L), (acc, x) => acc + x)
    Seq(
      size(toks).cast("long").as("n_words"),
      greatest(size(sents), lit(1)).cast("long").as("n_sentences"),
      syll.as("n_syllables"))
  }

  /** Gopher line-shape counts (Rae et al. 2021 §A1.1 — the
    * boilerplate/navigation indicators thresholded as corpus filters):
    * non-blank lines, lines starting with a bullet marker, lines
    * ending in an ellipsis. Integer counts; thresholds consumer-side. */
  def lineShapeColumns(text: Column): Seq[Column] = {
    val lines = filter(transform(split(text, "\n"), l => trim(l)),
      l => l =!= "")
    Seq(
      size(lines).cast("long").as("n_lines"),
      size(filter(lines, l => l.rlike("^[-*•]")))
        .cast("long").as("n_bullet_lines"),
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)$")))
        .cast("long").as("n_ellipsis_lines"))
  }

  /** Per-stratum byte/char/token FERTILITY totals — the tokenizer- and
    * storage-budget numbers (bytes per token varies 1–4× across
    * languages; UTF-8 bytes ≠ chars for non-ASCII scripts): Σ bytes
    * (UTF-8), Σ chars, Σ non-ASCII chars, Σ tokens per stratum. Pure
    * integer sums (one map-side-combining aggregation); the FP ratios
    * (bytes/token, chars/token) divide consumer-side. */
  def fertilityStats(docs: org.apache.spark.sql.DataFrame,
      strataCol: String = "lang", textCol: String = "text"):
      org.apache.spark.sql.DataFrame =
    docs.groupBy(col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col(textCol)).cast("long")).as("n_bytes"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        sum((length(col(textCol)) -
          length(regexp_replace(col(textCol), "[^\\x00-\\x7F]", "")))
          .cast("long")).as("n_non_ascii"),
        sum(tokenCount(col(textCol)).cast("long")).as("n_toks"))

  /** Language-ID heuristic: marker-token hit counts per language, CJK
    * override, argmax with lexicographic tie-break. (An n-gram heuristic,
    * not a model — the gate checks engine/oracle agreement, and the
    * operator shape is what a corpus pipeline needs.) */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "est"))

  def predictedLang(text: Column): Column = {
    val toks = tokens(text)
    def score(markers: Seq[String]) =
      size(filter(toks, t => t.isin(markers.map(x => x: Any): _*)))
    val langs = langMarkers.toSeq.sortBy(_._1)
    // argmax by (score desc, lang asc): fold over sorted languages
    val best = langs.tail.foldLeft(
      struct(score(langs.head._2).as("s"), lit(langs.head._1).as("l"))) {
      case (acc, (lang, markers)) =>
        val s = score(markers)
        when(s > acc.getField("s"),
          struct(s.as("s"), lit(lang).as("l"))).otherwise(acc)
    }
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .when(best.getField("s") === 0, lit("und"))
      .otherwise(best.getField("l"))
  }

  /** The codegen hot-loop twin of [[predictedLang]]
    * ([[graft.functions.PredictLang]]): one tokenizing pass per row.
    * The column form above is the parity oracle — its argmax fold
    * references each accumulator three times per level, and since the
    * marker-count HOFs are CodegenFallback (excluded from codegen
    * subexpression elimination), those subtrees re-evaluate per
    * reference: ~12× slower on the documents corpus. Spec-checked
    * equal row-for-row (TextOpsSpec). */
  def predictedLangCodegen(text: Column): Column = {
    import org.apache.spark.sql.graftshim.Shim
    Shim.column(graft.functions.PredictLang(Shim.expression(text)))
  }

  /** Document fingerprint: md5 of the normalized token stream, plus its
    * first 8 hex chars as a BIGINT bucket (cheap join/partition key). */
  def fingerprint(text: Column): Column =
    md5(array_join(tokens(text), " "))

  def fingerprintBucket(text: Column): Column =
    conv(substring(fingerprint(text), 1, 8), 16, 10).cast("long")

  /** Canonical text normalization for corpus cleaning: unicode NFC
    * (custom codegen'd [[graft.functions.NfcNormalize]] — Spark has no
    * built-in), lowercase, whitespace runs collapsed to single spaces,
    * ends trimmed. All stages fuse into one whole-stage-codegen span;
    * DuckDB states the identical transform with nfc_normalize + lower +
    * regexp_replace('\\s+', ' ', 'g') + trim. */
  /** Unicode White_Space character class, stated EXPLICITLY because
    * engine defaults disagree (fuzz-harness finding, round 12): Java's
    * `\s` is ASCII-only and Spark's `trim` strips ASCII space, while
    * DuckDB's `trim` also eats NBSP — a document with exotic
    * whitespace normalized differently per engine. Every
    * whitespace-sensitive operator whose STRINGS surface in oracle
    * outputs uses this class on both sides. */
  val WsClass: String = "[\\t\\n\\u000B\\f\\r \\u0085\\u00A0\\u1680" +
    "\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]"

  /** Trim using [[WsClass]] — identical semantics in both engines,
    * unlike the built-in trims. */
  def wsTrim(c: Column): Column =
    regexp_replace(c, s"^$WsClass+|$WsClass+$$", "")

  def normalizeText(text: Column): Column =
    // collapse with the EXPLICIT class; after collapsing, any edge
    // whitespace is a single ASCII space, which both engines' plain
    // trim remove identically
    trim(regexp_replace(
      lower(graft.functions.TextExpressions.nfcNormalize(text)),
      s"$WsClass+", " "))

  /** Duplicate-line ratio — the C4-style boilerplate/repetition filter:
    * 1 − distinct non-blank lines ÷ total non-blank lines. High values
    * flag templated or stuttering documents. Pure column expressions. */
  def dupLineRatio(text: Column): Column = {
    val lines = filter(transform(split(text, "\n"), l => trim(l)),
      l => l =!= "")
    val n = size(lines)
    when(n === 0, lit(0.0d))
      .otherwise(round(lit(1.0d) -
        size(array_distinct(lines)).cast("double") / n, 6))
  }

  /** Sentence segmentation columns — doc-quality signals (very short or
    * single-sentence docs are low-value; extreme max-sentence length
    * flags unsegmented dumps). Sentences split on `[.!?]+` runs,
    * trimmed, blanks dropped; the regex stays in the Java∩RE2 subset so
    * the oracle states the identical split. Returns (n_sentences,
    * max_sent_chars, mean_sent_chars) — the mean is ONE division of an
    * integer-exact sum, so the doubles compare exactly. */
  def sentences(text: Column): Column =
    // wsTrim, not trim: sentence strings surface in oracle-compared
    // outputs, and built-in trims differ cross-engine on NBSP
    filter(transform(split(text, "[.!?]+"), s => wsTrim(s)), s => s =!= "")

  /** CROSS-document boilerplate-line removal (the C4 pipeline's "drop
    * any line occurring in ≥ N documents" step — navigation chrome,
    * cookie banners, license headers): a line whose trimmed form occurs
    * in at least `minDf` DISTINCT documents is deleted from every
    * document; blank lines are never boilerplate. Returns one row per
    * input document: (id, clean = surviving lines in original order,
    * n_lines, n_kept).
    *
    * Shape: explode lines with position → distinct (doc, line) →
    * document-frequency hash aggregation → anti-join on the hot set
    * (small — it IS the boilerplate vocabulary, broadcastable at any
    * scale) → per-doc ordered rebuild via sort_array(collect_list).
    * One shuffle per aggregation, no windows, no UDFs. */
  def removeBoilerplate(docs: org.apache.spark.sql.DataFrame,
      minDf: Long = 3, idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val lines = docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val hot = lines.select(col("id"), trim(col("line")).as("nline"))
      .filter(col("nline") =!= "").distinct()
      .groupBy(col("nline")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("nline"))
    val kept = lines.join(hot, trim(col("line")) === col("nline"),
      "left_anti")
    // doc-sized gather → BoundedCollect: under the session's raised
    // ObjectHashAggregate fallback threshold a hash aggregate may hold
    // 16384 in-flight groups per task, and here each group's buffer is
    // an entire document — the one collector class where that is an OOM
    // risk (Tables.sessionConfs). Adaptive via plan statistics (no
    // probe job): small batches keep the fast hash plan, at-scale
    // inputs stream one group at a time.
    val rebuilt = graft.util.BoundedCollect.sortedGather(
        kept.select(col("id"), col("pos"), col("line")),
        Seq("id"), Seq("pos"), "line", "lines")
      .select(col("id"),
        size(col("lines")).cast("long").as("n_kept"),
        array_join(col("lines"), "\n").as("clean"))
    docs.select(col(idCol).as("id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean"), lit("")).as("clean"),
        col("n_lines"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** GLOBAL keep-first line/paragraph dedup — the MassiveText/Gopher
    * "remove repeated passages across the corpus" stage (Rae et al.
    * 2021 §A1.2), complementary to [[removeBoilerplate]]: instead of
    * deleting lines hot in ≥ N docs everywhere, every distinct trimmed
    * non-blank line keeps exactly ONE occurrence — the lexicographically
    * first (id, pos) — and loses all others (including intra-document
    * repeats). Blank lines are structure, never deduped. Returns one
    * row per input document: (id, clean = surviving lines in original
    * order, n_lines, n_kept).
    *
    * Shape: posexplode lines → grouped min(struct(id, pos)) per
    * distinct line (hash aggregate with map-side partials — never a
    * per-line window over the corpus) → join back on the line key →
    * per-doc ordered rebuild via BoundedCollect (adaptive: classic hash
    * plan on small inputs, one-group-at-a-time streaming at scale).
    * Two shuffles (line key, doc key), no windows, no UDFs. */
  def dedupLinesGlobal(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val lines = docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("nline", trim(col("line")))
    val keeper = lines.filter(col("nline") =!= "")
      .groupBy(col("nline"))
      .agg(min(struct(col("id"), col("pos"))).as("k"))
    val kept = lines.join(keeper, Seq("nline"), "left")
      .filter(col("nline") === "" ||
        (col("k.id") === col("id") && col("k.pos") === col("pos")))
    val rebuilt = graft.util.BoundedCollect.sortedGather(
        kept.select(col("id"), col("pos"), col("line")),
        Seq("id"), Seq("pos"), "line", "lines")
      .select(col("id"),
        size(col("lines")).cast("long").as("n_kept"),
        array_join(col("lines"), "\n").as("clean"))
    docs.select(col(idCol).as("id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean"), lit("")).as("clean"),
        col("n_lines"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** PII-style redaction for corpus cleaning: mask email addresses and
    * long digit runs (phone/account-number shaped). Patterns stay in the
    * regex subset shared by Java regex (Spark) and RE2 (DuckDB) so the
    * oracle states the identical transform. */
  val emailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val digitRunPattern = "[0-9]{6,}"

  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      digitRunPattern, "<NUM>")

  def redactionCount(text: Column): Column = {
    // expr() strings pass through the Spark SQL parser, which consumes
    // one level of backslash escaping — double them for the literal
    def sqlLit(p: String) = p.replace("\\", "\\\\")
    size(expr(s"regexp_extract_all(text, '${sqlLit(emailPattern)}', 0)")) +
      size(expr(s"regexp_extract_all(text, '${sqlLit(digitRunPattern)}', 0)"))
  }

  /** TF-IDF-style token weighting: per (doc, token) term frequency ×
    * inverse document frequency. Kept engine-side (ln() differs in the
    * last ulp across libm implementations, so this is spec-checked, not
    * oracle-hashed). Returns (doc_id, token, tf, df, tfidf). */
  def tfidf(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    val n = docs.count().toDouble
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(df, "token")
      .withColumn("tfidf",
        col("tf") * log(lit(n) / col("df").cast("double")))
      .select("doc_id", "token", "tf", "df", "tfidf")
  }

  /** Exact phrase search over the corpus: per document, every token
    * position where the query phrase occurs verbatim (same tokenizer
    * as everything else, so "Table,  TABLE!" matches "table table").
    * The retrieval twin of [[graft.text.Bm25]]'s bag-of-words scoring —
    * quote-level lookup for takedown checks, contamination forensics,
    * boilerplate hunting. Pure nested array expressions over the token
    * array (the winnowing discipline): zero shuffle, embarrassingly
    * parallel; joined-slice equality ≡ token-sequence equality because
    * tokens cannot contain the join character. Returns (doc_id,
    * n_hits, first_pos — 0-based) for matching docs only. */
  def phraseSearch(docs: org.apache.spark.sql.DataFrame, phrase: String,
      idCol: String = "doc_id", textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    val ptoks = phrase.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").filter(_.nonEmpty)
    require(ptoks.nonEmpty, s"phrase has no tokens: '$phrase'")
    val l = ptoks.length
    val pJoined = ptoks.mkString(" ")
    // GENERATOR shape, deliberately: the obvious "positions array +
    // filter(size > 0)" plan lets Catalyst push the row filter below
    // the projections, substituting the alias so the Filter node
    // re-tokenizes the document PER WINDOW POSITION (measured ~10×
    // slower). Exploding (pos, gram) rows instead evaluates the gram
    // array once per row; the phrase filter is a cheap string equality
    // on the GENERATED attribute (nothing to inline), and the final
    // per-doc aggregation shuffles matching positions only.
    // codegen'd all-shingles (r16): posexplode supplies the SAME
    // 0-based position the struct-building HOF carried, without the
    // per-position slice/join/struct interpreter allocations; the
    // generator shape (and its filter-inlining protection) is
    // unchanged — the phrase filter still tests a GENERATED attribute.
    val t = col("__t")
    docs.select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), posexplode(
        graft.functions.TextExpressions.allWordShingles(t, l))
        .as(Seq("pos", "gram")))
      .filter(col("gram") === pJoined)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("pos")).cast("long").as("first_pos"))
  }

  /** Winnowing-style selected-hash fingerprints: min rolling k-gram hash
    * per sliding window, deduplicated — the standard plagiarism/near-dup
    * sketch. Pure nested array expressions (codegen'd). */
  def winnowing(text: Column, k: Int = 5, window: Int = 4): Column = {
    val grams = transform(
      sequence(lit(0), greatest(size(tokens(text)) - k, lit(0))),
      i => conv(substring(md5(array_join(
        slice(tokens(text), i + 1, lit(k)), " ")), 1, 15), 16, 10).cast("long"))
    array_distinct(transform(
      sequence(lit(0), greatest(size(grams) - window, lit(0))),
      w => array_min(slice(grams, w + 1, lit(window)))))
  }

  /** Compression-proxy quality signal: DEFLATE(level 9) byte size of
    * the UTF-8 text, beside the raw size — highly compressible text
    * (boilerplate, repeated spans, generated filler) scores low
    * ratios, high-entropy gibberish scores ≈ 1; real prose sits in
    * between. The per-doc (deflate_bytes, raw_bytes) integers are
    * returned raw so the keep/drop threshold downstream is a
    * cross-multiplied integer decision, not FP.
    *
    * Engine-side only (spec-checked, like TF-IDF): DEFLATE output is
    * deterministic for a fixed level/strategy within a JDK but is NOT
    * a cross-engine-stateable formula, so there is no SQL oracle form.
    * Batched partition-local work, one Deflater per partition —
    * embarrassingly parallel; null texts yield null sizes. */
  def deflateSizes(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).map { r =>
      if (r.isNullAt(1)) (r.getLong(0), null.asInstanceOf[java.lang.Long],
        null.asInstanceOf[java.lang.Long])
      else {
        val raw = r.getString(1)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.BEST_COMPRESSION)
        d.setInput(raw); d.finish()
        val buf = new Array[Byte](8192)
        var n = 0L
        while (!d.finished()) n += d.deflate(buf)
        d.end()
        (r.getLong(0), java.lang.Long.valueOf(n),
          java.lang.Long.valueOf(raw.length.toLong))
      }
    }.toDF(idCol, "deflate_bytes", "raw_bytes")
  }

  /** Lexical-diversity sufficient statistics per doc: (n_tokens) total
    * tokens, (n_types) distinct tokens, (n_hapax) tokens occurring
    * exactly once — the type-token ratio TTR = n_types/n_tokens and
    * hapax ratio derive consumer-side (integers gate, FP follows — the
    * q87 discipline). Low TTR at normal length flags template/generated
    * filler the char-level repetition filters (q106) can miss.
    *
    * Shape: one explode + (doc, token) hash count with map-side
    * partials, one per-doc aggregation, and a left join back so
    * token-free docs keep an all-zeros row. No windows, no UDFs. */
  def lexicalStats(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val perTok = docs
      .select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col("id"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val stats = perTok.groupBy(col("id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        count(when(col("cnt") === 1, 1)).as("n_hapax"))
    docs.select(col(idCol).as("id"))
      .join(stats, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"))
  }

  /** Longest run of consecutive IDENTICAL tokens — the degenerate-
    * generation / OCR-stutter detector ("the the the …"): a single
    * sequential fold over the token array (zero shuffle, no explode;
    * `tokens` drops empties so the "" init sentinel can never collide
    * with a real token). Returns 0 for token-free text. */
  def maxTokenRun(text: Column): Column = {
    val folded = aggregate(
      tokens(text),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, t) => {
        val r = when(t === acc("prev"), acc("run") + 1).otherwise(lit(1L))
        struct(t.as("prev"), r.as("run"),
          greatest(acc("best"), r).as("best"))
      })
    folded("best")
  }

  /** Tokenizer-vocabulary coverage audit: per doc, total tokens beside
    * the out-of-vocabulary token count and distinct OOV types against
    * a vocab table (one `token` column — e.g. [[graft.text.Bpe.vocab]]
    * output or the q32 df-top-K). High OOV ratio = wrong-language /
    * encoding-damaged / domain-shifted text, and the corpus-level OOV
    * mass is the signal a tokenizer retrain is due.
    *
    * Shape: explode + broadcast-friendly left join on the (small,
    * vocab-bounded) token list, per-doc count/count-distinct, join
    * back for token-free docs. The vocab side is dimension-sized by
    * construction — Spark broadcasts it; the corpus never shuffles. */
  def oovStats(docs: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val v = broadcast(
      vocab.select(col("token")).distinct().withColumn("in_v", lit(1)))
    val stats = docs
      .select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("token"))
      .join(v, Seq("token"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_v").isNull, 1)).as("n_oov"),
        countDistinct(when(col("in_v").isNull, col("token")))
          .as("n_oov_types"))
    docs.select(col(idCol).as("id"))
      .join(stats, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("n_oov_types"), lit(0L)).as("n_oov_types"))
  }
}
