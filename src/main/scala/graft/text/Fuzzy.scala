package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact fuzzy string matching at scale via SYMMETRIC-DELETE blocking
  * (the SymSpell idea, Garbe 2012): if levenshtein(a, b) ≤ d, then
  * deleting the ≤d positions touched by an optimal edit script from
  * each side reaches a common string — so a and b share a member of
  * each other's ≤d-deletion neighborhoods. Candidates therefore come
  * from an EQUI-JOIN on deletion variants (a superset of the true
  * matches), and an exact `levenshtein` verify trims it — never an
  * all-pairs product. A word of length L has O(L^d) variants (≤ ~200
  * for d=2, L=20), so the blocking frame stays linear in the corpus.
  *
  * Everything is column expressions: the deletion neighborhood is a
  * nested higher-order `transform`, the verify is the codegen'd
  * built-in `levenshtein`.
  */
object Fuzzy {

  /** `s` with the character at 1-based position `i` deleted. */
  private def delAt(s: Column, i: Column): Column =
    concat(s.substr(lit(1), (i - 1).cast("int")),
      s.substr((i + 1).cast("int"), length(s)))

  private def del1(s: Column): Column =
    transform(sequence(lit(1), length(s)), i => delAt(s, i))

  /** All distinct strings obtainable from `s` by at most `maxDist`
    * character deletions (including `s` itself). maxDist ∈ {1, 2}. */
  def deletionNeighborhood(s: Column, maxDist: Int): Column = {
    require(maxDist == 1 || maxDist == 2, "maxDist must be 1 or 2")
    val d1 = del1(s)
    if (maxDist == 1) array_distinct(concat(array(s), d1))
    else array_distinct(concat(array(s), d1,
      flatten(transform(d1, v => del1(v)))))
  }

  /** Exact pairs of distinct strings with levenshtein ≤ maxDist:
    * deletion-variant equi-join (blocking) + levenshtein verify.
    * Returns (w1 < w2, dist). */
  def fuzzyPairs(words: DataFrame, wordCol: String,
      maxDist: Int = 2): DataFrame = {
    val w = words.select(col(wordCol).as("w"))
      .filter(col("w").isNotNull && col("w") =!= "").distinct()
    val blocked = w.select(col("w"),
      explode(deletionNeighborhood(col("w"), maxDist)).as("variant"))
    val cands = blocked.as("a").join(blocked.as("b"),
        col("a.variant") === col("b.variant") && col("a.w") < col("b.w"))
      .select(col("a.w").as("w1"), col("b.w").as("w2"))
      .distinct()
    cands
      .withColumn("dist", levenshtein(col("w1"), col("w2")).cast("long"))
      .filter(col("dist") <= maxDist)
  }

  /** ENTITY RESOLUTION e2e (record linkage): every distinct non-empty
    * value gets a canonical `entity_id` = the smallest value in its
    * fuzzy-match component — [[fuzzyPairs]] (symmetric-delete
    * blocking, never all-pairs) feeding
    * [[graft.dedup.Dedup.clusterLabelsStar]] (O(log n) star rounds).
    * Transitivity is deliberate: a~b and b~c merge even when
    * dist(a,c) > maxDist — that is what makes the id canonical; keep
    * `maxDist` tight (1) when chains worry you. Singletons label
    * themselves. */
  def entityIds(words: DataFrame, wordCol: String,
      maxDist: Int = 1): DataFrame = {
    val w = words.select(col(wordCol).as("w"))
      .filter(col("w").isNotNull && col("w") =!= "").distinct()
    val pairs = fuzzyPairs(words, wordCol, maxDist)
      .select(col("w1").as("id1"), col("w2").as("id2"))
    val clustered = graft.dedup.Dedup.clusterLabelsStar(pairs)
    w.join(clustered.withColumnRenamed("id", "w"), Seq("w"), "left")
      .select(col("w").as("value"),
        coalesce(col("cluster"), col("w")).as("entity_id"))
  }
}
