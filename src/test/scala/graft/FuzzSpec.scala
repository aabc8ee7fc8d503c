package graft

import org.apache.spark.sql.functions._

/** CROSS-ENGINE FUZZ: run ALL 216 gates over a seeded EDGE-CASE
  * corpus and compare against the real DuckDB oracles via the real
  * `scripts/selfcheck.py` — the driver's exact comparison path, on
  * value domains the generated testdata never exercises (empty /
  * whitespace-only / unicode / combining-char / regex-metachar /
  * repeated-token / very-long documents; tiny / negative / one-hot /
  * all-equal embedding vectors; same-microsecond event ties,
  * interval-bound and session-gap boundaries, NaN values, malformed
  * JSON; zero/negative/huge/tied decimals, orphan foreign keys,
  * unicode names). A drift here is a REAL cross-engine parity bug in
  * an operator or its oracle SQL, found before a user's corpus finds
  * it — round 12's runs surfaced and closed ten distinct classes
  * (empty-list stringification, whitespace classes, signed zero,
  * NULL quantile/rank domains, NaN casts, byte-vs-char levenshtein,
  * JSON error-vs-null, INT64 moment overflow, decimal half-ties
  * (documented as a precondition), full-outer plan strata).
  *
  * Deterministic: fixed literals + a seeded LCG, no wall clock. The
  * non-fuzzed dimension tables come from sf0.001 so every oracle view
  * binds. */
class FuzzSpec extends SparkSpec {

  private val repo = new java.io.File(".").getCanonicalPath
  private def haveTool: Boolean =
    try {
      new ProcessBuilder("python3", "-c", "import duckdb").start()
        .waitFor() == 0
    } catch { case _: Throwable => false }

  // the fuzz-relevant gate subset: text analysis, dedup, stats,
  // similarity, sketches, CSV/JSONL prediction — gates whose math is
  // sensitive to text/vector value domains. Heavy e2e compositions and
  // TPC-H-only gates are exercised by the main battery instead.
  private val gates = Seq(
    "q16_text_quality", "q17_langid", "q18_token_count",
    "q19_fingerprint", "q37_normalize", "q45_length_quantiles",
    "q55_sentence_stats", "q164_readability", "q173_mojibake",
    "q184_lexical_stats", "q185_token_runs", "q106_repetition",
    "q53_boilerplate", "q20_dedup_exact", "q21_ngram_jaccard",
    "q22_minhash_sig", "q24_simhash", "q47_dup_lines",
    "q127_line_dedup_global", "q205_repeated_ngrams",
    "q201_auc", "q198_pr_curve", "q215_drift_buckets",
    "q25_ann_topk", "q195_gram_matrix", "q196_int8_quant",
    "q216_ivf_recall", "q217_ivf_recall_curve",
    "q69_cms_registers", "q63_hll_registers",
    "q211_csv_quarantine", "q112_chunk",
    "q200_dataset_card", "q71_pipeline_e2e")

  // tranche 2: the remaining documents/embeddings-derived gates —
  // URL/HTML synthesis, PII/blocklist regexes, BM25/PMI ratios,
  // decontamination, LSH/IVF lanes, samplers, mixers. Event- and
  // TPC-H-only gates are excluded (their inputs are the copied real
  // tables — no fuzz value).
  private val gates2 = Seq(
    "q23_minhash_lsh", "q26_ann_lsh", "q28_embed_neardup",
    "q29_simhash_neardup", "q30_ivf_assign", "q32_vocab_topk",
    "q33_lang_stats", "q34_redact", "q35_ivf_topk",
    "q36_neardup_clusters", "q38_contamination", "q42_lang_vocab",
    "q43_fixed_sample", "q44_quantize", "q46_bigram_coverage",
    "q50_dedup_corpus", "q52_kmeans_partial", "q64_postings",
    "q83_heavy_hitters", "q84_span_dedup", "q92_pmi",
    "q102_containment", "q109_neardup_search", "q110_pii",
    "q111_decontaminate", "q115_quality_model", "q118_rag_prep",
    "q120_lm_components", "q123_corpus_shuffle", "q125_semdedup",
    "q126_dsir_components", "q128_cluster_balance",
    "q129_ccnet_buckets", "q132_html_extract", "q133_link_graph",
    "q134_script_detect", "q136_source_overlap", "q139_global_rank",
    "q141_url_canon", "q142_entity_resolution", "q143_split_assign",
    "q144_web_prep", "q145_weighted_choice", "q146_temperature_mix",
    "q147_anchor_text", "q148_bm25", "q149_cdc_chunk",
    "q150_leakage_split", "q151_knn_topics", "q153_keep_best",
    "q154_jsonl_quarantine", "q155_matryoshka_topk", "q156_rrf_fusion",
    "q157_negative_samples", "q158_corpus_diff", "q159_robots_match",
    "q160_phrase_search", "q161_sitemap_frontier", "q163_weighted_sample",
    "q165_line_shape", "q166_main_content", "q167_comparable_pairs",
    "q168_fertility", "q169_embedding_health", "q170_rank_blend",
    "q177_blocklist", "q179_encoding_audit", "q183_oov_audit",
    "q186_crawl_delay", "q188_pair_calibration", "q190_card_luhn",
    "q192_url_features", "q194_corpus_overlap", "q197_knn_label_noise",
    "q202_robots_wildcard", "q203_contam_report", "q206_bloom_decontam",
    "q207_kmv_overlap", "q209_takedown", "q212_retrieval_metrics",
    "q214_lang_confusion")

  // tranche 3: every gate deriving from the EVENTS table — directly
  // (sessionize/funnel/windows/rolling/intervals) or through
  // EventGraph (the whole weave family and the graph analytics built
  // on it). Edge cases target the classic cross-engine traps:
  // same-microsecond ties, interval-bound inclusivity, session-gap
  // boundaries, value ties and extremes (0 / negative / 1e15 / 1e-7 /
  // NaN), unknown and empty event types, malformed/missing JSON props.
  private val gates3 = Seq(
    "q01_p1_interval", "q02_p2_latest_per_node", "q03_a1_unify_latest",
    "q04_j4_boundary", "q05_a4_graph_ts", "q08_j5_seqid",
    "q09_p4_negation", "q10_a1_subid", "q11_j2_side_merge",
    "q12_bfs_reachable", "q13_a9_degrees", "q14_a11_summary",
    "q15_j3_combine", "q31_sessionize", "q48_list_merge",
    "q49_triangles", "q51_clustering_coeff", "q56_asof_join",
    "q57_range_join", "q59_sliding_window", "q60_shortest_paths",
    "q62_pivot", "q67_window_funcs", "q68_json_extract", "q70_funnel",
    "q72_hll_grouped", "q73_snapshot_diff", "q74_link_flaps",
    "q75_interval_merge", "q76_rolling", "q77_scc", "q78_rank_funcs",
    "q85_transitions", "q86_cohort_retention", "q88_set_ops",
    "q90_quality_audit", "q91_incremental_agg", "q93_scd2",
    "q95_keep_n", "q96_neighbor_stats", "q97_temporal_reach",
    "q99_debounce", "q100_gap_fill", "q101_outliers",
    "q103_time_rolling", "q104_winsorize", "q108_two_hop",
    "q117_skew_audit", "q135_random_walks", "q137_node2vec_walks",
    "q138_interval_overlap", "q139_global_rank", "q140_label_prop",
    "q162_decayed_counts", "q172_pagerank", "q174_trustrank",
    "q175_hits", "q176_hyperball", "q178_weighted_pagerank",
    "q180_graph_audit", "q182_link_prediction", "q187_degree_histogram",
    "q191_modularity")

  // tranche 4: the relational (TPC-H-shaped) gates — decimal-exact
  // pricing/rollups, top-k with tie-breaks, skyline, regression,
  // fuzzy match, k-anonymity buckets, z-order. Edge cases: zero /
  // negative / huge / cent-tie decimals, boundary dates, orphan
  // foreign keys, duplicate and unicode names, empty flag strings.
  private val gates4 = Seq(
    "q06_agg_pricing", "q07_j1_dim_join", "q41_star_rollup",
    "q58_rollup", "q61_hist_registers", "q65_profile", "q66_cube",
    "q79_semi_anti", "q80_top_orders", "q81_above_brand_avg",
    "q87_regression", "q89_skyline", "q90_quality_audit",
    "q94_fuzzy_match", "q98_weighted_median", "q142_entity_resolution",
    "q204_kanonymity", "q208_zorder", "q213_join_estimate")

  /** (orderkey, partkey, suppkey, linenumber, qty, price, discount,
    * tax, returnflag, linestatus, shipdate_us). */
  private def fuzzLineitem: Seq[(Long, Long, Long, Int, Double, Double,
      Double, Double, String, String, Long)] = {
    val day = 86400000000L // µs
    val base = 1704067200000000L // 2024-01-01 UTC in µs
    var s = 11L
    def nxt(n: Int): Int = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % n).toInt + n) % n }
    val edge = Seq(
      // zero and fractional quantities; prices stay 2-decimal (the
      // generator contract q80's DECIMAL(30,4) revenue cast relies
      // on: a 3-decimal price x 2-decimal discount makes a 5th-
      // decimal HALF-TIE, which Spark rounds via the shortest decimal
      // string and DuckDB via the binary value - an impossible
      // cross-engine parity, so it is a documented PREcondition)
      (1L, 1L, 1L, 1, 0.0, 100.05, 0.05, 0.02, "N", "O", base),
      (1L, 2L, 1L, 2, 0.5, 99.99, 0.0, 0.0, "N", "O", base + day),
      // negative price/qty (returns), discount 0 and 1
      (2L, 1L, 2L, 1, -3.0, -150.25, 1.0, 0.08, "R", "F", base + 2 * day),
      (2L, 3L, 2L, 2, 7.0, 1e12, 0.1, 0.0, "A", "F", base + 2 * day),
      // duplicate (orderkey, part) with different line numbers; an
      // ORPHAN orderkey (no orders row) for join-semantics probing
      (999L, 2L, 1L, 1, 4.0, 42.42, 0.04, 0.04, "N", "O", base + 3 * day),
      (999L, 2L, 1L, 2, 4.0, 42.42, 0.04, 0.04, "N", "O", base + 3 * day),
      // empty flag strings; epoch-adjacent date
      (3L, 4L, 1L, 1, 1.0, 10.10, 0.02, 0.01, "", "", 0L))
    val bulk = (0 until 50).map { i =>
      ((4 + nxt(8)).toLong, (1 + nxt(5)).toLong, (1 + nxt(3)).toLong,
        1 + nxt(4), (1 + nxt(40)).toDouble,
        math.rint(nxt(900000) / 9.0) / 100.0, nxt(11) / 100.0,
        nxt(9) / 100.0, Vector("N", "R", "A")(nxt(3)),
        Vector("O", "F")(nxt(2)), base + nxt(400).toLong * day)
    }
    edge ++ bulk
  }

  /** (orderkey, custkey, status, totalprice, orderdate_us, priority). */
  private def fuzzOrders: Seq[(Long, Long, String, Double, Long, String)] = {
    val day = 86400000000L
    val base = 1704067200000000L
    Seq(
      (1L, 1L, "O", 200.0, base, "1-URGENT"),
      (2L, 2L, "F", 1e12, base + day, "5-LOW"),
      (3L, 3L, "P", -10.5, base + 2 * day, "3-MEDIUM"),
      // ORPHAN custkey; duplicate totalprice tie for top-k ordering
      (4L, 777L, "O", 500.5, base + 3 * day, "2-HIGH"),
      (5L, 1L, "O", 500.5, base + 4 * day, "2-HIGH"),
      (6L, 2L, "", 0.0, 0L, ""),
      (7L, 3L, "O", 500.5, base + 5 * day, "4-NOT SPECIFIED"),
      (8L, 1L, "F", 123.45, base + 6 * day, "1-URGENT"),
      (9L, 2L, "O", 99.99, base + 7 * day, "5-LOW"),
      (10L, 3L, "O", 88.88, base + 8 * day, "3-MEDIUM"),
      (11L, 1L, "F", 77.77, base + 9 * day, "1-URGENT"))
  }

  /** (custkey, name, nationkey, acctbal, mktsegment). */
  private def fuzzCustomer: Seq[(Long, String, Int, Double, String)] = Seq(
    // negative balances and EXACT bucket boundaries for the
    // k-anonymity shift-then-divide (cents at ±100000/200000)
    (1L, "Customer#One", 0, -1000.0, "BUILDING"),
    (2L, "Customer#Two", 1, 1000.0, "BUILDING"),
    (3L, "Cüstömer#Üni", 0, 0.0, "MACHINERY"),
    (4L, "Customer#Four", 2, -999.995, "BUILDING"),
    (5L, "Customer#Five", 1, 2000.0, ""),
    (6L, "Customer#Six", 0, 999.995, "AUTOMOBILE"),
    (7L, "Customer#Seven", 1, 1000.0, "BUILDING"),
    (8L, "Customer#Eight", 9, 50.5, "HOUSEHOLD")) // orphan nationkey

  /** (partkey, name, brand, type, size, retailprice). */
  private def fuzzPart: Seq[(Long, String, String, String, Int, Double)] = Seq(
    // near-identical names (edit-distance ties for fuzzy match),
    // unicode, shared brand prefixes, zero/negative sizes
    (1L, "steel widget large", "Brand#11", "STANDARD", 10, 100.0),
    (2L, "steel widget largo", "Brand#11", "STANDARD", 10, 100.0),
    (3L, "steel widget larg", "Brand#12", "ECONOMY", 0, 50.0),
    (4L, "Stähl Wídget", "Brand#2", "PROMO", -1, 0.0),
    (5L, "completely different part", "Brand#11", "STANDARD", 25, 1e6))

  /** (event_id, ts_micros, user_id, event_type, value, props). */
  private def fuzzEvents: Seq[(Long, Long, Long, String, Double, String)] = {
    val LoMs = 1704844800000L // the q01 interval bounds
    val HiMs = 1705708800000L
    def us(ms: Long, micro: Long = 0L): Long = ms * 1000 + micro
    var s = 7L
    def nxt(n: Int): Int = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % n).toInt + n) % n }
    val types = Vector("view", "click", "purchase", "signup", "error")
    var id = 0L
    def ev(tsUs: Long, u: Long, t: String, v: Double, p: String) = {
      id += 1; (id, tsUs, u, t, v, p)
    }
    val t0 = LoMs + 3600000L // inside the interval
    val edge = Seq(
      // u1: same-MICROSECOND tie (two events, identical ts, different
      // ids) + a third 1µs later with a VALUE tie against the first
      ev(us(t0, 778549), 1, "view", 1.0, """{"k": 1}"""),
      ev(us(t0, 778549), 1, "click", 2.0, """{"k": 2}"""),
      ev(us(t0, 778550), 1, "purchase", 1.0, """{"k": 3}"""),
      // u2: single event, empty-object props
      ev(us(t0 + 60000), 2, "signup", 0.0, "{}"),
      // u3: 5-event burst 200ms apart, then an EXACT 30-minute gap,
      // then +30min+1ms (sessionize/debounce boundaries)
      ev(us(t0 + 100000), 3, "view", 3.0, """{"k": 5}"""),
      ev(us(t0 + 100200), 3, "view", 3.0, """{"k": 5}"""),
      ev(us(t0 + 100400), 3, "view", 3.1, """{"k": 6}"""),
      ev(us(t0 + 100600), 3, "click", 3.2, """{"k": 7}"""),
      ev(us(t0 + 100800), 3, "click", 3.2, """{"k": 8}"""),
      ev(us(t0 + 100800 + 1800000), 3, "view", 4.0, """{"k": 9}"""),
      ev(us(t0 + 100800 + 3600001), 3, "purchase", 5.0, """{"k": 10}"""),
      // u5: interval-bound inclusivity — exactly at LoMs (in),
      // LoMs-1ms (out), HiMs-1ms (in), exactly HiMs (out)
      ev(us(LoMs), 5, "view", 6.0, """{"k": 11}"""),
      ev(us(LoMs - 1), 5, "view", 6.0, """{"k": 12}"""),
      ev(us(HiMs - 1), 5, "click", 6.5, """{"k": 13}"""),
      ev(us(HiMs), 5, "click", 6.5, """{"k": 14}"""),
      // u6: value extremes (zero, negative, huge, tiny, NaN)
      ev(us(t0 + 200000), 6, "error", 0.0, """{"k": 15}"""),
      ev(us(t0 + 201000), 6, "error", -5.5, """{"k": 16}"""),
      ev(us(t0 + 202000), 6, "view", 1e15, """{"k": 17}"""),
      ev(us(t0 + 203000), 6, "view", 1e-7, """{"k": 18}"""),
      ev(us(t0 + 204000), 6, "view", Double.NaN, """{"k": 19}"""),
      // u7: perfect funnel order; u8: purchase BEFORE view; u9:
      // view+click at the same instant
      ev(us(t0 + 300000), 7, "view", 1.0, """{"k": 20}"""),
      ev(us(t0 + 301000), 7, "click", 1.0, """{"k": 21}"""),
      ev(us(t0 + 302000), 7, "purchase", 9.99, """{"k": 22}"""),
      ev(us(t0 + 300000), 8, "purchase", 9.99, """{"k": 23}"""),
      ev(us(t0 + 301000), 8, "view", 1.0, """{"k": 24}"""),
      ev(us(t0 + 300000, 5), 9, "view", 1.0, """{"k": 25}"""),
      ev(us(t0 + 300000, 5), 9, "click", 1.0, """{"k": 26}"""),
      // u10: props edge cases — missing k, null k, big k, malformed,
      // empty string, unknown/empty event types
      ev(us(t0 + 400000), 10, "view", 1.0, "{}"),
      ev(us(t0 + 401000), 10, "view", 1.0, """{"k": null}"""),
      ev(us(t0 + 402000), 10, "view", 1.0, """{"k": 123456789012}"""),
      ev(us(t0 + 403000), 10, "zz_unknown", 1.0, "not json"),
      ev(us(t0 + 404000), 10, "", 1.0, ""))
    // bulk: 90 events across 8 users and ~40 days, µs jitter included
    val bulk = (0 until 90).map { _ =>
      ev(us(LoMs - 86400000L * 5 + nxt(45).toLong * 86400000L +
          nxt(86400000).toLong, nxt(1000000).toLong),
        11 + nxt(8).toLong, types(nxt(5)),
        math.rint(nxt(40000) / 100.0 * 100) / 100.0,
        s"""{"k": ${nxt(100)}}""")
    }
    edge ++ bulk
  }

  private def fuzzDocs: Seq[(Long, String, String, String)] = {
    // seeded LCG for the bulk rows (never java.util.Random — the seed
    // path must be stable across JVMs)
    var s = 0x5DEECE66DL
    def nxt(n: Int): Int = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % n).toInt + n) % n }
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
    val langs = Vector("en", "es", "de", "fr")
    val edge = Seq(
      (0L, "", "en", "src0"),                       // EMPTY text
      (1L, "   ", "en", "src0"),                    // whitespace only
      (2L, "!!! ??? ...", "es", "src1"),            // punctuation only
      (3L, "1234567890 00 42", "de", "src1"),       // digits only
      (4L, "Straße café 日本語 текст", "de", "src2"), // unicode mix
      (5L, "étude résumé naive", "fr", "src2"),   // combining chars (NFC path)
      (6L, "a.b a*b (x) [y] {z} a+b a|b", "en", "src0"), // regex metachars
      (7L, "one", "en", "src1"),                    // single token
      (8L, ("spam " * 200).trim, "en", "src2"),     // heavy repetition
      (9L, (0 until 4000).map(i => words(i % 12)).mkString(" "), "en", "src0"), // very long
      (10L, "comma, \"quoted\" line\nbreak\r tab\t end", "es", "src1"), // CSV metachars
      (11L, "The quick brown fox. Jumps over! The lazy dog? Twice.", "en", "src2"),
      (12L, "MiXeD CaSe TeXt MIXED case text", "en", "src0"),
      (13L, "    odd whitespace here", "en", "src1"), // exotic whitespace
      (14L, "word " + "� broken � encoding", "en", "src2"), // replacement chars
      // NBSP-only sentence segment between terminators (trim-class
      // drift: Java \s and Spark trim are ASCII-only, DuckDB trim
      // eats NBSP) + a trailing exotic-whitespace-only doc
      (60L, "first.\u00A0\u00A0. second!", "en", "src0"),
      (61L, "\u00A0\u2028\u2029", "en", "src1"),
      // three docs sharing EVERY non-blank line: the boilerplate
      // remover strips all of them (empty clean stream must hash as
      // md5('') on both engines)
      (62L, "shared hot line", "en", "src0"),
      (63L, "shared hot line", "en", "src1"),
      (64L, "shared hot line", "en", "src2")) // all-boilerplate trio
    val dup = Seq( // exact-dup pair + near-dup pair for the dedup gates
      (15L, "identical duplicate document body for exact dedup", "en", "src0"),
      (16L, "identical duplicate document body for exact dedup", "en", "src1"),
      (17L, (0 until 40).map(i => s"near_$i").mkString(" ") + " tail_a", "en", "src0"),
      (18L, (0 until 40).map(i => s"near_$i").mkString(" ") + " tail_b", "en", "src1"))
    val bulk = (19L until 60L).map { id =>
      val n = 20 + nxt(60)
      val body = (0 until n).map(_ => words(nxt(12))).mkString(" ")
      (id, body, langs(nxt(4)), s"src${nxt(3)}")
    }
    // targeted rows so the benchmark/search/e2e gates FIRE on this
    // corpus (the vacuity audit's findings — every prior id is < 97,
    // so the %97/%100 benchmark selectors only ever caught the empty
    // doc 0, and the all-gibberish vocabulary langids to "und", which
    // the q71 sampler drops):
    //  - 98: a natural-English passage (>=30 tokens, en markers, no
    //    digits) carrying the q148 BM25 terms (spark/vector/customer),
    //    the q160 phrase "table table", and the q177 blocklist phrases
    //    ("table table key", "data query") — and it survives the q71
    //    quality gate, so the e2e emits rows;
    //  - 99: exact duplicate of doc 11's token stream (a TRAIN doc);
    //  - 100: the q38 benchmark (%100): same token stream -> exact
    //    n-gram contamination against 11 and 99;
    //  - 97 / 194: the %97 benchmarks (q111/q203/q206, buckets b1/b2):
    //    97 shares doc 11's trigrams, 194 shares doc 8's "spam spam"
    //    bigram.
    val aimed = Seq(
      (97L, "the quick brown fox jumps over the lazy dog twice", "en",
        "src1"),
      (98L, "the spark engine keeps a vector for every customer and " +
        "the table table key layout makes a data query fast because " +
        "the planner reads the table table twice while the customer " +
        "vector stays warm for the next data query pass", "en", "src0"),
      (99L, "The quick brown fox. Jumps over! The lazy dog? Twice.",
        "en", "src2"),
      (100L, "The quick brown fox. Jumps over! The lazy dog? Twice.",
        "en", "src0"),
      (194L, "spam spam detection notes", "en", "src1"))
    // near-dup CHAIN (adversarial structure): doc j = a 40-token
    // window at stride 2 over one 50-token base — every consecutive
    // pair is a deterministic LSH candidate (J ≈ .90; the fixed hash
    // constants make bucketing reproducible — PipelineOpsSpec pins the
    // exact pair set) while doc 65 reaches the rest ONLY through 66
    // and the chain ends are never a direct pair. Any gate that
    // clusters transitively (q36/q50/q125/q193 & the keep-best/overlap
    // families) must propagate the min label across multiple hops;
    // DuckDB states it as a recursive CTE, Spark runs the CC rounds —
    // a premature-convergence bug on either side breaks the hash
    // match.
    val chain = (0 until 6).map { j =>
      (65L + j,
        (2 * j until 2 * j + 40).map(i => s"link_$i").mkString(" "),
        "en", s"src${j % 3}")
    }
    edge ++ dup ++ bulk ++ aimed ++ chain
  }

  private def fuzzEmbeddings: Seq[(Long, Array[Float], Int)] = {
    var s = 42L
    def nxt: Float = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % 2000).toInt - 1000) / 1000.0f }
    val edge = Seq(
      (0L, Array.fill(64)(1e-30f), 0),              // tiny norm
      (1L, Array.tabulate(64)(i => if (i == 0) 1f else 0f), 1), // one-hot
      (2L, Array.fill(64)(0.5f), 2),                // all-equal
      (3L, Array.fill(64)(-0.25f), 0),              // all-negative
      (4L, Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f), 1))
    val bulk = (5L until 40L).map(id =>
      (id, Array.fill(64)(nxt), (id % 3).toInt))
    // cosine CHAIN at the q28 near-dup threshold (.999): unit vectors
    // rotating 2° per step in the (e0, e1) plane — adjacent cos ≈
    // .99939 (pair), distance-2 cos ≈ .99756 (NOT a pair). Without
    // these the random bulk almost surely yields ZERO near-dup pairs,
    // leaving the .999-threshold comparison fuzz-vacuous; the margin
    // (4e-4 from the threshold) stays far outside float/decimal
    // rounding drift so the gate decision is engine-stable.
    val chain = (0 until 6).map { j =>
      val th = math.toRadians(2.0 * j)
      (40L + j, Array.tabulate(64)(i =>
        if (i == 0) math.cos(th).toFloat
        else if (i == 1) math.sin(th).toFloat else 0f), j % 3)
    }
    edge ++ bulk ++ chain
  }

  // corpus built once, shared by both tranches
  private lazy val fuzzSfDir: String = {
    import spark.implicits._
    val sf = java.nio.file.Files.createTempDirectory("fuzz_sf").toString
    // DuckDB's oracle views read single parquet FILES (the driver's
    // testdata layout), so copy the static tables byte-for-byte and
    // relocate each fuzz table's single part file.
    for (t <- Seq("region", "nation", "supplier"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        java.nio.file.Paths.get(s"$sf/$t.parquet"))
    def writeAsFile(df: org.apache.spark.sql.DataFrame, t: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"fuzz_$t").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$sf/$t.parquet"))
    }
    writeAsFile(fuzzDocs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text")).cast("long")),
      "documents")
    writeAsFile(fuzzEmbeddings.toDF("vec_id", "embedding", "label"),
      "embeddings")
    // events/lineitem/orders carry real timestamp[us] like the
    // driver's generator
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    val tsu = org.apache.spark.sql.functions.timestamp_micros _
    writeAsFile(fuzzLineitem.toDF("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "ship_us")
      .withColumn("l_shipdate", tsu(col("ship_us"))).drop("ship_us"),
      "lineitem")
    writeAsFile(fuzzOrders.toDF("o_orderkey", "o_custkey",
        "o_orderstatus", "o_totalprice", "od_us", "o_orderpriority")
      .withColumn("o_orderdate", tsu(col("od_us"))).drop("od_us")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")),
      "orders")
    writeAsFile(fuzzCustomer.toDF("c_custkey", "c_name", "c_nationkey",
      "c_acctbal", "c_mktsegment"), "customer")
    writeAsFile(fuzzPart.toDF("p_partkey", "p_name", "p_brand",
      "p_type", "p_size", "p_retailprice"), "part")
    writeAsFile(fuzzEvents
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        org.apache.spark.sql.functions.timestamp_micros(col("ts_us"))
          .as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")),
      "events")
    sf
  }

  /** Verify-dump the named gates over the fuzz corpus and compare via
    * the real selfcheck.py; fails with the FAIL lines as the clue. */
  private def runTranche(names: Seq[String]): Unit = {
    val sf = fuzzSfDir
    val out = java.nio.file.Files.createTempDirectory("fuzz_out").toString
    // the Verify dump itself
    Verify.dump(spark, sf, out, names.map(n => n -> SparkEntry.queries(n)),
      SparkEntry.oracleSql.filter(kv => names.contains(kv._1))) shouldBe empty

    val pb = new ProcessBuilder("python3", s"$repo/scripts/selfcheck.py",
      sf, out).redirectErrorStream(true)
    val p = pb.start()
    val log = scala.io.Source.fromInputStream(p.getInputStream).mkString
    val rc = p.waitFor()
    val failLines = log.linesIterator
      .filter(l => l.startsWith("FAIL") || l.contains("Error")).toSeq
    // vacuity ledger: per-gate matched row counts ("OK   name: N rows
    // x M cols"), consumed by the final zero-row audit
    val OkRe = """OK\s+(\S+): (\d+) rows.*""".r
    log.linesIterator.foreach {
      case OkRe(n, r) => FuzzSpec.rowsSeen(n) = r.toLong
      case _ => ()
    }
    withClue((if (failLines.nonEmpty) failLines
        else log.linesIterator.toSeq.takeRight(15))
        .mkString("selfcheck output:\n", "\n", "\n")) {
      rc shouldBe 0
      log should include (s"== ${names.size}/${names.size} queries match ==")
    }
    FuzzSpec.tranchesRun.incrementAndGet()
  }

  it("tranche 1: 34 text/dedup/stats/similarity gates match their " +
      "DuckDB oracles on the edge-case corpus") {
    if (!haveTool) cancel("python3/duckdb not available")
    runTranche(gates)
  }

  it("tranche 2: 80 URL/HTML/PII/LSH/IVF/sampler gates match their " +
      "DuckDB oracles on the edge-case corpus") {
    if (!haveTool) cancel("python3/duckdb not available")
    runTranche(gates2)
  }

  it("tranche 3: 63 events/weave/graph gates match their DuckDB " +
      "oracles on the edge-case event stream") {
    if (!haveTool) cancel("python3/duckdb not available")
    runTranche(gates3)
  }

  it("tranche 4: 19 relational gates match their DuckDB oracles on " +
      "the edge-case TPC-H tables") {
    if (!haveTool) cancel("python3/duckdb not available")
    runTranche(gates4)
  }

  // tranche 5: everything left — the e2e compositions, disk-index
  // lanes (fresh temp index per fuzz sfDir), media stubs (md5-derived
  // from the fuzz documents), mixture/split/packing, WARC roundtrip.
  // Slowest tranche; completes full-gate fuzz coverage.
  private val gates5 = Seq(
    "q27_media_features", "q39_stratified_sample", "q40_seq_packing",
    "q54_ivf_disk_search", "q82_bloom_bits", "q105_ivfpq_search",
    "q107_dedup_increment", "q113_bpe_pairs", "q114_lsh_index_search",
    "q116_mixture_plan", "q119_mixture_apply", "q121_daily_ingest",
    "q122_domain_ops", "q124_image_neardup", "q130_audio_neardup",
    "q131_video_neardup", "q152_warc_roundtrip", "q171_curate_e2e",
    "q181_webrank_e2e", "q189_tokenizer_qa_e2e", "q193_cluster_increment",
    "q199_shard_balance", "q210_release_e2e")

  it("tranche 5: the remaining 23 e2e/index/media/mixture gates " +
      "match their DuckDB oracles on the edge-case corpus") {
    if (!haveTool) cancel("python3/duckdb not available")
    runTranche(gates5)
  }

  it("vacuity audit: every fuzzed gate matched on at least one row, " +
      "or is on the documented empty-by-construction list") {
    // a 0-row match is parity-true but fuzz-VACUOUS: the gate's logic
    // never fired on the edge corpus. Each allowlisted gate states why
    // its EMPTY result is itself the meaningful contract here.
    if (!haveTool) cancel("python3/duckdb not available")
    if (FuzzSpec.tranchesRun.get() == 0) cancel("tranches did not run")
    // tranches ran green but the OK-line regex matched nothing: the
    // selfcheck log format drifted — FAIL so the audit can't be
    // silently disabled by a format change
    withClue("tranches passed but no 'OK <name>: <N> rows' line " +
        "matched — selfcheck log format drifted; update OkRe:\n") {
      FuzzSpec.rowsSeen should not be empty
    }
    // currently EMPTY: the first audit found 8 vacuous gates (the
    // benchmark %97/%100 selectors caught only the empty doc 0; the
    // BM25/phrase/blocklist vocabularies were absent; every doc
    // langid'd to "und" so the q71 sampler dropped the corpus) — all
    // fixed by planting aimed rows rather than allowlisting.
    val emptyByConstruction = Map.empty[String, String]
    val zero = FuzzSpec.rowsSeen.filter(_._2 == 0L).keys.toSeq.sorted
      .filterNot(emptyByConstruction.contains)
    withClue(s"fuzz-vacuous gates (0 matched rows): $zero\n" +
        "extend the corpus so the gate fires, or allowlist with a " +
        "stated reason:\n") {
      zero shouldBe empty
    }
    info(s"${FuzzSpec.rowsSeen.size} gates matched, " +
      s"${FuzzSpec.rowsSeen.count(_._2 > 0L)} on >0 rows")
  }
}

object FuzzSpec {
  /** gate → matched row count, filled by every tranche's selfcheck
    * log; read by the vacuity audit (same suite, ordered after). */
  val rowsSeen: scala.collection.mutable.Map[String, Long] =
    scala.collection.concurrent.TrieMap.empty
  /** Tranches that ran to a green finish — lets the vacuity audit
    * distinguish "tranches skipped" (cancel) from "tranches passed but
    * the OK-line regex matched nothing" (a log-format drift that must
    * FAIL, not silently disable the audit). */
  val tranchesRun = new java.util.concurrent.atomic.AtomicInteger(0)
}
