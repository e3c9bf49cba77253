package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate string join bounded by edit distance — the SSJoin /
  * prefix-filtering family (Gravano et al. VLDB'01 q-gram count filtering;
  * Chaudhuri et al. ICDE'06 SSJoin; Xiao et al. WWW'08 Ed-Join), the
  * entity-resolution primitive for dictionary/name matching in a data
  * pipeline (merge near-identical source names, author strings, URLs).
  *
  * Spark-first shape: NO all-pairs anywhere. Candidates come from an
  * equi-join on q-gram signatures; only candidates pay the (codegen'd,
  * threshold-early-exit) `levenshtein` verify.
  *
  * Completeness (recall 1) argument, set semantics: one edit op rewrites
  * at most q of a string's positional q-grams, so ed(a,b) <= tau leaves
  * >= |G(a)| - q*tau of a's distinct gram texts occurring in b, i.e.
  * |G(a) n G(b)| >= max(|G(a)|,|G(b)|) - q*tau. With every string's grams
  * ranked by one GLOBAL order (document frequency asc, gram asc — rarest
  * first), the standard prefix-filter lemma then guarantees the two
  * (q*tau+1)-prefixes intersect, so the signature equi-join finds every
  * true pair — PROVIDED the longer side has more than q*tau grams. Strings
  * at or below that bound (length <= q*(tau+1)-1) fall back to an explicit
  * short-bucket pair join, so recall stays exactly 1 for all lengths.
  *
  * 100 TB posture: the gram-frequency table is one map-combined groupBy;
  * ranking is one per-string sort ([[Prefix]]; tiny groups — one string's grams);
  * hot/frequent grams are naturally EXCLUDED from signatures (rarest-first
  * prefix), which is what caps equi-join fan-out on skewed vocabularies;
  * the short bucket is bounded by the short-string population and joins
  * only within |length diff| <= tau. Verify uses Spark's 3-arg
  * `levenshtein(l, r, threshold)` which abandons a pair as soon as the DP
  * band exceeds tau instead of filling the full matrix.
  */
object Fuzzy {

  /** (__id, gram) rows of each side's q*tau+1 signature: its distinct
    * q-gram texts (positions collapse — the filter argument is about gram
    * TEXT occurrence, so sets suffice), the rarest first under ONE order
    * over the grams of all `sides` (one map-combined shuffle on gram, then
    * a per-string sort). */
  private def signatures(q: Int, tau: Int, sides: DataFrame*): Seq[DataFrame] = {
    val grams = sides.map(_
      .filter(length(col("__s")) >= q)
      .select(col("__id"), explode(array_distinct(
        transform(sequence(lit(0), length(col("__s")) - q),
          i => col("__s").substr(i + lit(1), lit(q))))).as("gram")))
    val gramDf = Prefix.docFreq(grams.reduce(_ union _), "gram")
    grams.map(g => Prefix.prefix(g, Seq("__id"), "gram", gramDf, lit(q * tau + 1))
      .select(col("__id"), col("gram")))
  }

  /** Self-join of `df` on `strCol`: all pairs with edit distance <= tau
    * (and a_id < b_id), via df-ranked q-gram prefix signatures. Output:
    * (a_id, b_id, a_str, b_str, dist). `idCol` must be unique per row;
    * `idCol == strCol` is allowed (string-keyed dictionaries). */
  def fuzzyJoin(df: DataFrame, idCol: String, strCol: String, tau: Int, q: Int = 2): DataFrame = {
    require(tau >= 1, s"tau must be >= 1, got $tau")
    require(q >= 2, s"q must be >= 2, got $q")
    val strings = df.select(col(idCol).as("__id"), col(strCol).as("__s"))
      .filter(col("__s").isNotNull)
    val shortMax = q * (tau + 1) - 1 // gram count <= q*tau: no prefix guarantee
    val Seq(sig) = signatures(q, tau, strings)

    val candLong = sig.as("a").join(sig.as("b"),
        col("a.gram") === col("b.gram") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("__aid"), col("b.__id").as("__bid"))
      .distinct()

    // short-string bucket: all pairs among strings with <= q*tau grams,
    // bounded by |length diff| <= tau (necessary for ed <= tau)
    val shorts = strings.filter(length(col("__s")) <= shortMax)
    val candShort = shorts.as("a").join(shorts.as("b"),
        col("a.__id") < col("b.__id") &&
          abs(length(col("a.__s")) - length(col("b.__s"))) <= tau)
      .select(col("a.__id").as("__aid"), col("b.__id").as("__bid"))

    val cands = candLong.union(candShort).distinct()
    val verified = cands
      .join(strings.select(col("__id").as("__aid"), col("__s").as("__as")), "__aid")
      .join(strings.select(col("__id").as("__bid"), col("__s").as("__bs")), "__bid")
      .filter(abs(length(col("__as")) - length(col("__bs"))) <= tau)
      .withColumn("dist", levenshtein(col("__as"), col("__bs"), tau))
      .filter(col("dist") >= 0) // 3-arg levenshtein returns -1 past tau
    verified.select(
      col("__aid").as("a_id"), col("__bid").as("b_id"),
      col("__as").as("a_str"), col("__bs").as("b_str"), col("dist"))
  }

  /** Two-sided fuzzy match — the entity-resolution deployment shape:
    * match each PROBE string (an incoming batch) against a canonical
    * DICTIONARY within edit distance tau. Same prefix-filter machinery as
    * [[fuzzyJoin]]; gram frequencies rank over the UNION of both sides so
    * one global order covers cross pairs and the recall-1 lemma applies
    * unchanged (a short probe against a long dictionary entry is still
    * caught by the signature join — the short side's signature is its
    * whole gram set; only short-short cross pairs need the fallback
    * bucket). Identical strings match at dist 0 (matching IS the point —
    * no self-exclusion across tables). Output:
    * (probe_id, dict_id, probe_str, dict_str, dist). */
  def fuzzyJoinAgainst(
      dict: DataFrame, probes: DataFrame, idCol: String, strCol: String,
      tau: Int, q: Int = 2): DataFrame = {
    require(tau >= 1, s"tau must be >= 1, got $tau")
    require(q >= 2, s"q must be >= 2, got $q")
    def strings(df: DataFrame) =
      df.select(col(idCol).as("__id"), col(strCol).as("__s"))
        .filter(col("__s").isNotNull)
    val d = strings(dict)
    val p = strings(probes)
    val shortMax = q * (tau + 1) - 1
    // one global rarest-first order over BOTH sides' grams
    val Seq(pSig, dSig) = signatures(q, tau, p, d)

    val candLong = pSig.as("p").join(dSig.as("d"), Seq("gram"))
      .select(col("p.__id").as("__pid"), col("d.__id").as("__did"))
      .distinct()
    val candShort = p.filter(length(col("__s")) <= shortMax).as("p")
      .join(d.filter(length(col("__s")) <= shortMax).as("d"),
        abs(length(col("p.__s")) - length(col("d.__s"))) <= tau)
      .select(col("p.__id").as("__pid"), col("d.__id").as("__did"))

    candLong.union(candShort).distinct()
      .join(p.select(col("__id").as("__pid"), col("__s").as("__ps")), "__pid")
      .join(d.select(col("__id").as("__did"), col("__s").as("__ds")), "__did")
      .filter(abs(length(col("__ps")) - length(col("__ds"))) <= tau)
      .withColumn("dist", levenshtein(col("__ps"), col("__ds"), tau))
      .filter(col("dist") >= 0)
      .select(col("__pid").as("probe_id"), col("__did").as("dict_id"),
        col("__ps").as("probe_str"), col("__ds").as("dict_str"), col("dist"))
  }

  /** Brute-force twin (all pairs + levenshtein) — the oracle shape; for
    * recall tests and tiny dictionaries only. */
  def fuzzyJoinExact(df: DataFrame, idCol: String, strCol: String, tau: Int): DataFrame = {
    val strings = df.select(col(idCol).as("__id"), col(strCol).as("__s"))
      .filter(col("__s").isNotNull)
    strings.as("a").join(strings.as("b"), col("a.__id") < col("b.__id"))
      .filter(abs(length(col("a.__s")) - length(col("b.__s"))) <= tau)
      .withColumn("dist", levenshtein(col("a.__s"), col("b.__s"), tau))
      .filter(col("dist") >= 0)
      .select(col("a.__id").as("a_id"), col("b.__id").as("b_id"),
        col("a.__s").as("a_str"), col("b.__s").as("b_str"), col("dist"))
  }
}
