package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.io.Tables
import graft.llm.{EchoModel, Elo, HashEmbedder, Infer, JudgeScorer, KeywordClassifier, Results, Templates}
import graft.ops.{AggIndex, Corpus, Dedup, Fuzzy, Graph, LangModel, Multimodal, Search, Similarity, Skew, Temporal, TextAnalysis}

/** Driver contract — the operator catalog from SURVEY.md §2.
  *
  * Every `queries` entry is one operator of the engine; `oracleSql` holds
  * the equivalent DuckDB SQL over the same parquet tables. Column names are
  * aligned on both sides (the driver compare sorts columns by name).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Embedding-corpus size for the sizing rules (`lshBitsFor`,
    * `semdedupKFor`, exhaustive rerank), memoized per dataset dir: the
    * rules need n once per dataset, not one extra full-scan count job
    * inside every timed query invocation (at 100 TB an extra corpus scan
    * per query is real). Null-vector rows are excluded — the operators
    * keep them without scoring, so counting them would only inflate the
    * operating point. The count stays exhaustiveness-safe as a rerank
    * bound: candidates can only come from non-null rows. */
  private val embCountFor = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def nEmb(s: SparkSession, dir: String): Long =
    embCountFor.computeIfAbsent(dir, d =>
      math.max(t(s, d, "embeddings").where(col("embedding").isNotNull).count(), 1L)
    ).longValue()

  /** Document-corpus size for the text-side sizing rules
    * (`simhashBlocksFor`), memoized per dataset dir like [[nEmb]]. An
    * upper bound on distinct fingerprints — conservative for the banding
    * rule (may pick one block step more than the distinct-fp count needs,
    * never less). */
  private val docCountFor = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def nDocs(s: SparkSession, dir: String): Long =
    docCountFor.computeIfAbsent(dir, d =>
      math.max(t(s, d, "documents").where(col("text").isNotNull).count(), 1L)
    ).longValue()

  /** Persistent-index table names by (prefix, dataset dir): `build` writes
    * the index under the returned name once per (JVM, prefix, dir), so
    * BENCH times the probe alone and entries naming the same prefix share
    * one index. The name is the prefix plus the dir with every
    * non-alphanumeric character replaced by `_`, lower-cased. */
  private val builtIndexes = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def builtIndex(prefix: String, dir: String)(build: String => Unit): String =
    builtIndexes.computeIfAbsent((prefix, dir), _ => {
      val name = (prefix + dir.replaceAll("[^A-Za-z0-9]", "_")).toLowerCase(java.util.Locale.ROOT)
      build(name)
      name
    })

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q5Multijoin(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- §2.2 relational

  /** TPC-H Q1-style pricing summary. Monetary sums as decimal for exact,
    * order-independent cross-engine aggregation. */
  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // exact long-cents sums (gf.moneySum): bit-identical to the decimal
        // formulation, one codegen long add per row instead of a
        // non-compact BigDecimal add (guide §2.3 narrower types; measured
        // 0.92 -> 0.55 s steady at sf0.1)
        gf.moneySum(col("l_quantity"), 2).as("sum_qty"),
        gf.moneySum(col("l_extendedprice"), 2).as("sum_base_price"),
        gf.moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-style: join + agg + top-k. `customer` is SF-scaled, so it
    * carries NO static broadcast hint — AQE broadcasts it at runtime
    * while it is small and correctly shuffle-joins once it is not (at
    * sf100 the old hint forced a ~1 GB broadcast; the Dedup-probe rule:
    * never statically hint a frame whose size scales with the input). */
  private def q3JoinTopk(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(gf.moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate").cast("date").as("o_orderdate"), col("o_orderpriority"))
  }

  /** TPC-H Q5-style: 6-way join, revenue per nation. Only the FIXED-size
    * dims (nation, region) carry broadcast hints; customer and supplier
    * are SF-scaled and AQE decides for them at runtime (see q3). */
  private def q5Multijoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")))
      .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
    val cust = t(s, dir, "customer")
    val supp = t(s, dir, "supplier")
    val nat = t(s, dir, "nation")
    val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey") && cust("c_nationkey") === supp("s_nationkey"))
      .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(gf.moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q6-style: pushdown-friendly filter + single aggregate. */
  private def q6Filter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
      .filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      .filter(col("l_discount").between(0.05, 0.07))
      .filter(col("l_quantity") < 24)
      .agg(gf.moneySum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"))

  /** ROLLUP aggregate (subtotals + grand total in one pass): Catalyst
    * expands the grouping sets map-side (Expand), then ONE shuffle with
    * partial aggregation — no per-level re-scan. Grouping nulls surfaced
    * as 'ALL' so the marker is engine-neutral. */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      // project the money terms BEFORE the rollup: Expand replicates
      // every input row once per grouping set, and aggregate child
      // expressions evaluate post-Expand — pre-projecting computes the
      // multiply/round once per row instead of once per copy
      // (measured 3.0 s -> 1.5 s steady-state at sf0.1). The terms are
      // long fixed-point units (gf.cents — bit-identical to the former
      // decimal casts), so each Expand copy pays a codegen long add, not
      // a non-compact BigDecimal add, and the shuffle rows are narrower.
      .select(col("l_returnflag"), col("l_linestatus"),
        gf.cents(col("l_quantity"), 2).as("__q"),
        gf.cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("__dp"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        gf.centsToMoney(sum(col("__q")), 2).as("sum_qty"),
        gf.centsToMoney(sum(col("__dp")), 4).as("sum_disc_price"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("sum_qty"), col("sum_disc_price"), col("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** CUBE aggregate (every grouping-set combination in ONE pass): same
    * Expand + single partial-aggregated shuffle shape as [[qRollup]], with
    * 2^n grouping sets instead of n+1 — the OLAP cross-tab primitive. The
    * pre-Expand projection rule applies doubly here (each input row is
    * replicated once per grouping set). */
  private def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        // long fixed-point pre-projection, same rationale as qRollup
        gf.cents(col("l_quantity"), 2).as("__q"),
        gf.cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("__dp"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        gf.centsToMoney(sum(col("__q")), 2).as("sum_qty"),
        gf.centsToMoney(sum(col("__dp")), 4).as("sum_disc_price"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("sum_qty"), col("sum_disc_price"), col("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Event-time RANGE-frame window: per-user 10-minute trailing sum/count
    * over event seconds — the moving-aggregate monitoring shape. The frame
    * sum is an exact decimal (order-independent), so no float-accumulation
    * rounding is needed cross-engine. Scale: one shuffle on user_id; the
    * range frame is evaluated by a single in-partition sort, never a
    * self-join. */
  private def qWindowRange(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("sec")).rangeBetween(-600, 0)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        col("ts").cast("long").as("sec"), col("value"))
      .withColumn("mv_sum", sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .withColumn("mv_n", count(lit(1)).over(w))
      .select("event_id", "user_id", "sec", "mv_sum", "mv_n")
  }

  /** Edit-distance fuzzy join over the distinct part-name dictionary
    * ([[graft.ops.Fuzzy.fuzzyJoin]]: df-ranked q-gram prefix signatures,
    * recall exactly 1, verified by threshold levenshtein — never
    * all-pairs). The oracle recomputes the same pair set brute-force. */
  private def qFuzzyJoin(s: SparkSession, dir: String): DataFrame =
    Fuzzy.fuzzyJoin(
        t(s, dir, "part").select(col("p_name")).distinct(),
        "p_name", "p_name", tau = 2, q = 2)
      .select(col("a_str").as("name_a"), col("b_str").as("name_b"),
        col("dist").cast("long").as("dist"))
      .orderBy("name_a", "name_b")

  /** Two-sided fuzzy match: a probe subset of the part-name dictionary
    * matched against the full dictionary
    * ([[graft.ops.Fuzzy.fuzzyJoinAgainst]] — the entity-resolution
    * deployment shape; identical strings match at dist 0). */
  private def qFuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val dict = t(s, dir, "part").select(col("p_name")).distinct()
    val probes = t(s, dir, "part")
      .filter(pmod(col("p_partkey"), lit(7)) === 0)
      .select(col("p_name")).distinct()
    Fuzzy.fuzzyJoinAgainst(dict, probes, "p_name", "p_name", tau = 2)
      .select(col("probe_str").as("probe"), col("dict_str").as("name"),
        col("dist").cast("long").as("dist"))
      .orderBy("probe", "name")
  }

  /** Per-label embedding centroids ([[graft.ops.Similarity.groupCentroids]]):
    * decimal-exact sums, one partial-aggregated shuffle. */
  private def corpusCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.groupCentroids(t(s, dir, "embeddings"), "label", "embedding")
      .select(col("grp").as("label"), col("pos").cast("long").as("pos"),
        col("mean_x"), col("n"))
      .orderBy("label", "pos")

  /** Semi/anti join (EXISTS / NOT EXISTS): customers partitioned by
    * whether they have any high-value order. left_semi/left_anti move
    * ONLY the left side's columns through the join (no payload from the
    * probe side, no row multiplication from duplicate matches) — the
    * correct plan shape for existence checks at scale. */
  private def qExists(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val big = t(s, dir, "orders").filter(col("o_totalprice") > 150000.0)
      .select(col("o_custkey"))
    val has = cust.join(big, cust("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit(true).as("has_big_order"))
    val hasNot = cust.join(big, cust("c_custkey") === big("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit(false).as("has_big_order"))
    has.union(hasNot).orderBy("c_custkey")
  }

  /** Greatest-n-per-group via the bounded-heap TypedImperativeAggregate
    * (top-3 orders per customer by price): the heap keeps k entries PER
    * GROUP map-side, so the shuffle carries at most k rows per group per
    * partition and nothing is ever sorted — the scale-correct plan for
    * "top N per key" that the usual row_number window (full sort of every
    * group's rows) is not. Same (score desc, id asc) total order as the
    * ANN stack, so the window-rank oracle matches exactly. */
  private def qTopkPerGroup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(graft.functions.TopKByScoreAgg.topK(
        struct(col("o_totalprice").cast("double"), col("o_orderkey").cast("long")), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("rk0", "item")))
      .select(col("o_custkey"), col("item.id").as("o_orderkey"),
        (col("rk0") + 1).cast("long").as("rank"))
      .orderBy("o_custkey", "rank")

  /** Time-series gap fill (the monitoring/feature-store resample shape):
    * the full hourly spine per event_type — missing hours appear with
    * n_events = 0 and the last observed hour's integer cent total carried
    * forward (the "state as of hour h" contract). The spine is a
    * broadcast-sized dimension (types x hours from ONE bounds row), the
    * left join shuffles only the hourly aggregate (already reduced), and
    * the carry-forward is one in-partition window per type — all integer
    * values, so the fill is exact cross-engine. */
  private def qGapFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .where(col("value").isNotNull)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("c"))
    val hourly = ev.groupBy("event_type", "h")
      .agg(count(lit(1)).as("n_events"), sum(col("c")).as("sc"))
    val bounds = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val spine = ev.select("event_type").distinct()
      // scalar broadcast (one (h0, h1) bounds row over a tiny distinct
      // set): file-split parallelism suffices — no Layout.spread needed
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h").as("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("sc"), ignoreNulls = true).over(w).as("filled_cents"))
      .orderBy("event_type", "hour")
  }

  /** Incremental materialized rollup ([[AggIndex]]): the event history
    * before the final day is aggregated once into day-partitioned integer
    * partials, the final day appends as its own partitions (history never
    * rescanned), and the totals are answered from the partials — equal to
    * the full batch aggregate by exact-integer construction, which is
    * precisely what the oracle checks. */
  private def qRollupIncremental(s: SparkSession, dir: String): DataFrame = {
    val table = builtIndex("graft_agg_idx_", dir) { name =>
      val ev = Tables.events(s, dir).where(col("value").isNotNull)
      val lastDay = ev.agg(max(to_date(col("ts")))).head().getDate(0)
      AggIndex.build(ev.where(to_date(col("ts")) < lit(lastDay)), name)
      AggIndex.append(ev.where(to_date(col("ts")) === lit(lastDay)), name)
    }
    AggIndex.query(s, table).orderBy("event_type")
  }

  /** PIVOT (rows -> columns): order counts per priority x status.
    * Spark expands pivot to conditional aggregates — ONE shuffle with
    * partial aggregation, no row explosion; the fixed value list keeps
    * the output schema deterministic (never scan-dependent). */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").as("n_f"),
        col("O").as("n_o"), col("P").as("n_p"))
      .orderBy("o_orderpriority")

  /** Nearest-centroid routing over per-label centroids
    * ([[graft.ops.Similarity.assignToCentroids]]): centroids from
    * decimal-exact sums, assignment a narrow codegen map. */
  private def corpusAssign(s: SparkSession, dir: String): DataFrame =
    Similarity.assignToCentroids(t(s, dir, "embeddings"), "vec_id", "embedding", "label")
      .orderBy("vec_id")

  /** Embedding-space decontamination at the n-gram family's operating
    * point (eval = vec_id % 10 == 0): semantic leakage the shingle
    * variants can't see ([[graft.ops.Dedup.decontaminateEmbeddings]]). */
  private def dedupDecontaminateEmbedding(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Dedup.decontaminateEmbeddings(
        emb.where(pmod(col("vec_id"), lit(10)) =!= 0),
        emb.where(pmod(col("vec_id"), lit(10)) === 0),
        "vec_id", "embedding", minCos = 0.4)
      .orderBy("vec_id")
  }

  /** Temperature resampling at alpha = 0.5 over languages
    * ([[graft.ops.Corpus.temperatureSample]]): the mC4/XLM-R multilingual
    * rebalancing recipe, deterministic md5 acceptance. */
  private def corpusTemperatureSample(s: SparkSession, dir: String): DataFrame =
    Corpus.temperatureSample(t(s, dir, "documents"), "doc_id", "lang", budgetPct = 50)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** ASOF join: each event matched to the user's most recent purchase
    * at-or-before its timestamp (union + carry-forward window — no
    * inequality join). */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
    val purchases = events.filter(col("event_type") === "purchase").select("user_id", "ts")
    Temporal.asofJoin(events, purchases, "user_id", "ts", "ts", Seq("ts"))
      .select(col("event_id"), col("asof_ts"))
      .orderBy("event_id")
  }

  /** Binned range join: clicks within the hour before each purchase,
    * counted per purchase (equi-join on (user, time-bin), exact filter). */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    Temporal.rangeJoinBinned(clicks, purchases, "user_id", "click_ts", "ts",
        windowBeforeSec = 3600, binSec = 3600)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_clicks"))
      .orderBy("event_id")
  }

  /** Window functions: per-supplier ordered row_number + running quantity. */
  private def qWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_shipdate"), col("l_quantity"))
      .withColumn("rn", row_number().over(w))
      .withColumn("running_qty", sum(col("l_quantity")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "rn", "running_qty")
  }

  /** Semi-structured: JSON props extraction + per-type aggregates. */
  private def qEventsJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        gf.moneySum(col("value"), 2).as("sum_value"))
      .orderBy("event_type")

  /** Sessionization: 30-minute-gap sessions per user via lag + conditional sum. */
  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("is_new")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- §2.5 text analysis

  private def textTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
        length(col("text")).cast("long").as("len_chars"))

  private def textQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.qualityLangStats(col("text")).as("__st"))
      .select(col("doc_id"), TextAnalysis.qualityScoreFrom(col("__st")).as("quality"))

  private def textLangid(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.qualityLangStats(col("text")).as("__st"))
      .select(col("doc_id"), TextAnalysis.langIdFrom(col("__st")).as("pred_lang"))

  private def textFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))

  /** Derived multi-line corpus: the flat synthetic text regrouped into
    * 2-word lines (the synthetic docs carry no newlines, so the line-based
    * operators get real line structure this way; short lines from a small
    * vocabulary also recur across documents, which is exactly the
    * boilerplate shape those operators exist for). The DuckDB oracles
    * reconstruct the identical text. */
  private def linedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      graft.functions.gf.regroupLines(col("text"), 2).as("text"))

  /** Gopher-style repetition filters over the derived multi-line corpus. */
  private def textRepetition(s: SparkSession, dir: String): DataFrame =
    linedDocs(s, dir)
      .select(col("doc_id"), TextAnalysis.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"),
        col("r.n_lines").as("n_lines"),
        col("r.dup_line_frac").as("dup_line_frac"),
        col("r.dup_line_char_frac").as("dup_line_char_frac"),
        col("r.top_bigram_frac").as("top_bigram_frac"))
      .orderBy("doc_id")

  /** C4-style global line dedup: 2-word lines occurring in >= 10 distinct
    * docs are boilerplate and get dropped from every document. */
  private def dedupLines(s: SparkSession, dir: String): DataFrame =
    Dedup.dropBoilerplateLines(linedDocs(s, dir), "text", "doc_id", minDocs = 10)
      // the library operator returns the cleaned TEXT (a cleaned corpus is
      // the product); the catalog hashes it for the driver's value compare
      .withColumn("cleaned_key", md5(col("cleaned"))).drop("cleaned")
      .orderBy("doc_id")

  /** PII redaction: deterministic synthetic contact info (derived from the
    * doc id, mirrored in the oracle) appended to each doc, then scrubbed. */
  private def textPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val withPii = t(s, dir, "documents").select(
      col("doc_id"),
      // % (sign-preserving remainder), not pmod: DuckDB's % matches it for
      // negative ids, pmod would diverge
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or +15551"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string")).as("text"))
    withPii
      // fused kernel (gf.piiScrubStats): the former 6 regex passes per row
      // (3x regexp_count each materializing every match via
      // regexp_extract_all + 3x regexp_replace) become 5 Matcher passes
      // with count-only loops and no intermediate column round trips —
      // same java.util.regex patterns in the same order, so the output is
      // identical by construction (TextAnalysisSpec asserts it)
      .select(col("doc_id"), gf.piiScrubStats(col("text")).as("p"))
      .select(col("doc_id"),
        col("p.n_email").as("n_email"),
        col("p.n_ip").as("n_ip"),
        col("p.n_phone").as("n_phone"),
        md5(col("p.scrubbed")).as("scrubbed_key"))
      .orderBy("doc_id")
  }

  /** HTML/markup extraction — the C4-pipeline first step, exercised by
    * the multimodal convention: each document is wrapped in a
    * deterministic, structurally-real HTML page (title carrying the doc
    * id, script/style blocks with angle brackets inside, entity-encoded
    * punctuation), then the REAL extractor strips and decodes it. The
    * oracle rebuilds the same page and applies the same RE2-safe
    * regexes, checking the whole strip/decode/collapse chain verbatim on
    * 500 distinct bodies. */
  /** Unicode normalization (the multilingual-pipeline first step: NFC
    * canonical composition + accent folding). The ASCII corpus gets
    * decomposed accents injected deterministically on BOTH engines
    * (every 'a' -> 'a'+U+0301, every 'n' -> 'n'+U+0303 — the multimodal
    * convention: structurally real input, real kernels), then NFC
    * composes them ('á', 'ñ') and strip-accents folds back to the
    * original text — the `roundtrip` column proves it row-by-row. Both
    * kernels are narrow codegen maps; the oracle runs DuckDB's own
    * nfc_normalize/strip_accents over the identically-injected input. */
  private def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val gfc = graft.functions.gf
    val inj = regexp_replace(regexp_replace(col("text"), "a", "a\u0301"), "n", "n\u0303")
    t(s, dir, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text"), inj.as("__inj"))
      .select(col("doc_id"),
        gfc.nfcNormalize(col("__inj")).as("nfc"),
        gfc.stripAccents(col("__inj")).as("stripped"),
        (length(col("__inj")) - length(gfc.nfcNormalize(col("__inj")))).cast("long").as("n_marks"),
        (gfc.stripAccents(col("__inj")) === col("text")).as("roundtrip"))
      .orderBy("doc_id")
  }

  private def textExtract(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><script type=\"text/javascript\">var x = 1 < 2 && 3 > 0;</script>" +
        "<style>.main { color: #333; }</style></head><body><div class=\"main\"><p>"),
      col("text"),
      lit("</p><br/><a href=\"https://example.com/?a=1&amp;b=2\">link &lt;here&gt;</a>" +
        " &nbsp;&quot;q&quot; &amp; &#39;s&#39;</div></body></html>"))
    t(s, dir, "documents")
      .select(col("doc_id"), html.as("__html"))
      .select(col("doc_id"),
        TextAnalysis.markupTitle(col("__html")).as("title"),
        TextAnalysis.stripMarkup(col("__html")).as("clean_text"))
      .withColumn("n_chars", length(col("clean_text")).cast("long"))
      .orderBy("doc_id")
  }

  /** Corpus-trained char-bigram LM score — the CCNet-style perplexity
    * quality signal (train pass: bounded 16k-row agg; score pass: narrow
    * codegen map over the plan-embedded table). */
  private def textPerplexity(s: SparkSession, dir: String): DataFrame =
    LangModel.perplexityScore(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Composite quality filter: keep/drop + first-failing-rule reason over
    * length, language, repetition, and quality rules. */
  private def corpusFilter(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.filterCorpus(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            graft.functions.gf.regroupLines(col("text"), 2).as("lined")),
        "text", "lined")
      .select(col("doc_id"), col("keep"), col("reason"))
      .orderBy("doc_id")

  /** Mixture rebalancing to en:de:es:fr = 5:2:2:1 (zh dropped): the
    * largest downsample-only corpus hitting those proportions exactly
    * (all-integer cap arithmetic, md5-hash-order survival). */
  private def corpusMix(s: SparkSession, dir: String): DataFrame =
    Corpus.mixToTarget(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 5L, "de" -> 2L, "es" -> 2L, "fr" -> 1L))
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Fixed-size overlapping word chunks (32-word windows, stride 24). */
  private def corpusChunk(s: SparkSession, dir: String): DataFrame =
    Corpus.chunk(t(s, dir, "documents"), "doc_id", "text", chunkWords = 32, strideWords = 24)
      // ops layer returns chunk TEXT; hash it here for the value compare
      .withColumn("chunk_key", md5(col("chunk_text"))).drop("chunk_text")
      .orderBy("doc_id", "chunk_idx")

  /** Composed end-to-end cleaning pipeline: quality filter → exact dedup
    * → MinHash near-dedup → decontamination, each stage on the previous
    * stage's survivors. Every 10th doc plays the held-out eval set (same
    * convention as dedup_decontaminate); output is (doc_id, stage) with
    * stage = first dropping stage's reason, or 'kept'. */
  private def corpusClean(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val evalSet = docs.where(pmod(col("doc_id"), lit(10)) === 0)
    val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
    Corpus.cleanPipeline(corpus, evalSet, "text", "doc_id",
        graft.functions.gf.regroupLines(col("text"), 2))
      .orderBy("doc_id")
  }

  /** Rollup stats per (lang, source) + subtotals + grand total. */
  private def corpusStats(s: SparkSession, dir: String): DataFrame =
    Corpus.stats(t(s, dir, "documents"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)

  /** Engine-reproducible 20% sample by md5 bucket of the doc id. */
  private def corpusSample(s: SparkSession, dir: String): DataFrame =
    Corpus.deterministicSample(t(s, dir, "documents"), "doc_id", pct = 20)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  /** Token-budget sequence packing per source (2048-token sequences). */
  private def corpusPack(s: SparkSession, dir: String): DataFrame =
    Corpus.packSequences(t(s, dir, "documents"), "doc_id", "text", "source", 2048)
      .orderBy("source", "doc_id")

  /** Deterministic per-language cap at 75 docs: downsamples the
    * overrepresented language (en) while smaller ones pass through. */
  private def corpusCap(s: SparkSession, dir: String): DataFrame =
    Corpus.capPerStratum(t(s, dir, "documents"), "lang", "doc_id", maxRows = 75)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Corpus-wide top-50 word trigrams by true occurrence count
    * (TakeOrderedAndProject top-k — no global sort shuffle). */
  private def corpusNgrams(s: SparkSession, dir: String): DataFrame =
    Corpus.topNgrams(t(s, dir, "documents"), "text", n = 3, k = 50)
      .orderBy(col("cnt").desc, col("ngram").asc)

  /** Quality-proportional weighted sampling: keep with p = quality%
    * (all-integer acceptance — bucket in [0,10000) vs quality*100), the
    * deterministic classifier-weighted data-selection recipe. */
  private def corpusWeightedSample(s: SparkSession, dir: String): DataFrame =
    Corpus.weightedSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          (TextAnalysis.qualityScore(col("text")).cast("long") * 100).as("w")),
        "doc_id", "w", den = 10000)
      .select(col("doc_id"), col("lang"), (col("w") / 100).cast("long").as("quality"))
      .orderBy("doc_id")

  /** Top-50 PMI collocations with support >= 3 — the phrase-mining cut
    * (rounded-PMI + bigram tie-break is a cross-engine total order). */
  private def corpusCooccurrence(s: SparkSession, dir: String): DataFrame =
    Corpus.cooccurrencePmi(t(s, dir, "documents"), "text", k = 50, minCount = 3L)
      .orderBy(col("pmi").desc, col("bigram").asc)

  /** BPE merge training, 10 merges over the corpus word-frequency
    * vocabulary ([[graft.ops.Corpus.bpeTrain]] — the tokenizer-vocab
    * construction step; iterations run over the vocab, not the corpus).
    * The oracle unrolls the identical 10 iterations as a DuckDB CTE
    * chain ([[bpeOracle]]). */
  private def corpusBpe(s: SparkSession, dir: String): DataFrame =
    graft.ops.Corpus.bpeTrain(t(s, dir, "documents"), "text", merges = 10)
      .orderBy("step")

  /** BPE tokenization (the apply step: train once on the vocab, tokenize
    * the corpus through a broadcast word->symbol-count join): per-doc
    * word and BPE token counts under the same 10 trained merges. */
  private def corpusBpeTokenize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Corpus.bpeTokenize(t(s, dir, "documents"), "text", "doc_id", merges = 10)
      .orderBy("doc_id")

  /** Generates the unrolled BPE oracle: v0 = the double-spaced symbol
    * vocabulary, then per step i a pair-count CTE, an argmax CTE, and the
    * merged vocabulary — the same (count desc, pair asc) tie-break and
    * the same left-to-right non-overlapping replace semantics as the
    * engine. Multiply-referenced CTEs are MATERIALIZED so the 10-level
    * chain does not inline exponentially. */
  private def bpeOracle(steps: Int): String = {
    val union = (1 to steps)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, pair, replace(pair, ' ', '') AS merged, CAST(c AS BIGINT) AS cnt FROM b$i")
      .mkString(" UNION ALL ")
    bpeChain(steps) + s"\nSELECT * FROM ($union) ORDER BY step"
  }

  /** The shared WITH-chain prefix of the BPE oracles (words, v0, then
    * p_i/b_i/v_i per step). */
  private def bpeChain(steps: Int): String = {
    val head = Seq(
      """WITH words AS MATERIALIZED (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS word
        |  FROM documents WHERE text IS NOT NULL)""".stripMargin,
      """v0 AS MATERIALIZED (
        |  SELECT ' ' || trim(regexp_replace(word, '(.)', '\1  ', 'g')) || ' ' AS r, count(*) AS cnt
        |  FROM words GROUP BY 1)""".stripMargin)
    val stages = (1 to steps).flatMap { i =>
      Seq(
        s"""p$i AS (SELECT pair, sum(cnt) AS c FROM (
           |  SELECT sy[i] || ' ' || sy[i+1] AS pair, cnt FROM
           |    (SELECT string_split(trim(r), '  ') AS sy, cnt FROM v${i - 1}), unnest(generate_series(1, len(sy)-1)) s(i))
           |  GROUP BY pair)""".stripMargin,
        s"b$i AS (SELECT pair, c FROM p$i ORDER BY c DESC, pair LIMIT 1)",
        s"""v$i AS MATERIALIZED (SELECT replace(r, ' ' || string_split(pair, ' ')[1] || '  ' || string_split(pair, ' ')[2] || ' ', ' ' || replace(pair, ' ', '') || ' ') AS r, cnt FROM v${i - 1}, b$i)""")
    }
    (head ++ stages).mkString(",\n")
  }

  /** BPE tokenization oracle: the same merge chain, then the post-merge
    * vocabulary (word -> symbol count) joined back to the corpus word
    * stream. */
  private def bpeTokenizeOracle(steps: Int): String =
    bpeChain(steps) +
      s""",
         |ws AS (SELECT replace(r, ' ', '') AS word, len(string_split(trim(r), '  ')) AS n_sym FROM v$steps),
         |dw AS (
         |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id, count(*) AS n_words, CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
         |FROM dw JOIN ws USING (word) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** PageRank oracle: the same synthetic edge formulas, then each
    * iteration unrolled as a contribution CTE + a rank CTE. Every
    * operation is integer (`//` = floor division, matching Spark's DIV on
    * the non-negative values here) so the chain is bit-exact, and
    * multiply-referenced CTEs are MATERIALIZED so five levels do not
    * inline exponentially. */
  private def pagerankOracle(iters: Int): String = {
    val head =
      """WITH nv AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |ids AS MATERIALIZED (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT id AS src, (id * 7 + 1) % (SELECT n FROM nv) AS dst FROM ids
        |    UNION ALL SELECT id, (id * 13 + 3) % (SELECT n FROM nv) FROM ids
        |    UNION ALL SELECT id, id % 10 FROM ids)
        |  WHERE src <> dst),
        |outdeg AS MATERIALIZED (
        |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
        |r0 AS MATERIALIZED (
        |  SELECT id, 1000000000000 // (SELECT n FROM nv) AS pr FROM ids)""".stripMargin
    val stages = (1 to iters).flatMap { i =>
      Seq(
        s"""c$i AS (
           |  SELECT e.dst AS id, sum(r.pr // o.outdeg) AS incoming
           |  FROM r${i - 1} r JOIN outdeg o ON o.src = r.id JOIN edges e ON e.src = r.id
           |  GROUP BY e.dst)""".stripMargin,
        s"""r$i AS MATERIALIZED (
           |  SELECT ids.id,
           |    (1000000000000 * 15) // (100 * (SELECT n FROM nv))
           |      + (coalesce(c.incoming, 0) * 85) // 100 AS pr
           |  FROM ids LEFT JOIN c$i c ON ids.id = c.id)""".stripMargin)
    }
    (head +: stages).mkString(",\n") +
      s"\nSELECT id AS doc_id, CAST(pr AS BIGINT) AS rank_e12 FROM r$iters ORDER BY doc_id"
  }

  /** Bounded-memory heavy hitters (Misra–Gries typed aggregate): top-25
    * words with capacity 256 — far above the corpus vocabulary, so the
    * counts are exact and the plain word-count oracle applies verbatim.
    * The under-capacity approximate regime (the open-key-domain scale
    * path: shuffle carries <= capacity entries per partition regardless
    * of distinct keys) is spec-verified against the n/(capacity+1)
    * bound. */
  private def corpusHeavyHitters(s: SparkSession, dir: String): DataFrame =
    Corpus.heavyHitters(t(s, dir, "documents"), "text", capacity = 256, k = 25)
      .orderBy(col("cnt").desc, col("word").asc)

  /** Corpus-overlap profile between two overlapping doc_id slices (even
    * ids vs ids divisible by 3 — shared contents ~ ids divisible by 6):
    * exact distinct-content Jaccard + the k=64 MinHash estimate, both
    * cross-engine exact (the estimate's permutation hashes are md5-derived
    * integers both engines compute bit-identically). */
  private def corpusOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Corpus.overlap(
      docs.where(pmod(col("doc_id"), lit(2)) === 0),
      docs.where(pmod(col("doc_id"), lit(3)) === 0),
      "text", k = 64)
  }

  /** PageRank over a deterministic synthetic link graph: doc i links to
    * (7i+1) mod N, (13i+3) mod N, and its hub i mod 10 — docs 0..9 are
    * ~N/10-in-degree authorities, exactly the in-degree skew partial
    * aggregation must absorb. Fixed-point integer arithmetic end-to-end
    * ([[Graph.pageRank]]), so the unrolled-iteration oracle is
    * hash-exact, not approximately close. */
  private def corpusPagerank(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id").cast("long").as("id"))
    val n = ids.count()
    val edges = ids.select(col("id").as("src"),
        explode(array(
          pmod(col("id") * 7 + 1, lit(n)),
          pmod(col("id") * 13 + 3, lit(n)),
          pmod(col("id"), lit(10L)))).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    Graph.pageRank(ids, edges, iters = 5)
      .select(col("id").as("doc_id"), col("rank_e12"))
      .orderBy("doc_id")
  }

  /** Exact per-language quantiles of document length (linear
    * interpolation; the approx_percentile twin is the sketch scale path,
    * spec-verified against this exact formulation). */
  private def corpusQuantiles(s: SparkSession, dir: String): DataFrame =
    Corpus.quantiles(t(s, dir, "documents"), "n_chars", "lang",
        Seq(0.25, 0.5, 0.75, 0.95))
      .orderBy(col("lang").asc_nulls_first)

  /** Per-source exact duplication-rate profile (the HLL
    * approx_count_distinct twin is the single-pass scale path,
    * spec-verified within its rsd against this exact formulation). */
  private def corpusDupeProfile(s: SparkSession, dir: String): DataFrame =
    Corpus.dupeProfile(t(s, dir, "documents"), "text", "source")
      .orderBy(col("source").asc_nulls_first)

  // ---------------------------------------------------------------- §2.3 dedup

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "text", "doc_id")
      .orderBy("content_key")

  /** Exact word-trigram Jaccard >= 0.5 pairs at every scale: hot shingles
    * sit outside the rare-first prefixes instead of being dropped, so the
    * uncapped all-pairs oracle applies unchanged. */
  private def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", n = 3, threshold = 0.5)
      .orderBy("a_id", "b_id")

  /** LSH candidates + exact-Jaccard verify: every emitted pair is a true
    * J>=0.5 pair, so the DuckDB exact-Jaccard oracle checks both precision
    * (definitionally 1) and banding recall (1 on this corpus — the planted
    * near-dups sit far above the ~0.42 banding midpoint). */
  private def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairsVerified(t(s, dir, "documents"), "text", "doc_id",
        n = 3, numHashes = 128, bands = 32, threshold = 0.5)
      .orderBy("a_id", "b_id")

  /** Canonical (distinct-fingerprint) banding: candidate cost per bucket
    * is occupancy², counted over distinct fingerprints (a 10x
    * template-heavy rehearsal measured 52M candidate rows with naive
    * banding). No bucket is dropped: the maximum distinct-fingerprint
    * occupancy is 26 at sf0.01, 187 at sf0.1 and 155 at GenScale sf1 and
    * sf10 (`graft.Diag simhash`), so the all-pairs oracle applies at
    * every scale. Block count follows `simhashBlocksFor`
    * (Manku-style multi-block banding): past ~16k distinct fingerprints
    * the minimal 4-block/16-bit-key scheme goes quadratic on RANDOM key
    * collisions (n²/2^16), so the rule widens keys by keying on block
    * subsets — recall stays exactly 1 at every block count (candidates are
    * hamming-verified), so the oracle is unaffected at any scale. */
  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsCanonical(t(s, dir, "documents"), "text", "doc_id", maxHamming = 3,
        numBlocks = Dedup.simhashBlocksFor(nDocs(s, dir)))
      .orderBy("a_id", "b_id")

  /** Duplicate clusters over the exact-Jaccard pair graph:
    * large-star/small-star connected components, component id = canonical
    * keeper. */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
      n = 3, threshold = 0.5)
    Dedup.connectedComponents(pairs).orderBy("id")
  }

  /** End-to-end dedup application: corpus minus non-keeper cluster
    * members (pairs → components → anti-join). */
  private def dedupApply(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
    Dedup.dropNearDuplicates(docs, pairs, "doc_id")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Decontamination demo: every 10th doc plays the held-out eval set; the
    * rest is the training corpus, cleaned of near-matches against it. */
  private def dedupDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val evalSet = docs.where(pmod(col("doc_id"), lit(10)) === 0)
    val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
    Dedup.decontaminate(corpus, evalSet, "text", "doc_id")
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** N-gram-collision decontamination (the GPT-3 13-gram recipe, at n=8
    * for this short-document corpus): drops corpus docs sharing ANY word
    * 8-gram with the eval slice — catches eval CONTAINMENT inside long
    * documents, which a Jaccard threshold structurally misses. */
  private def dedupDecontaminateNgram(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val evalSet = docs.where(pmod(col("doc_id"), lit(10)) === 0)
    val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
    Dedup.decontaminateNgram(corpus, evalSet, "text", "doc_id", n = 8, minHits = 1)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Incremental dedup against the PERSISTENT fingerprint index — the
    * daily-crawl-delta deployment shape (index the corpus snapshot once,
    * probe each delta batch; the corpus is never re-deduplicated). The
    * index is built lazily once per (JVM, sf dir) so BENCH times the probe
    * alone — the build-once/probe-many economics. Output is EXACT (not
    * banding-approximate): shared-shingle candidacy has recall 1 and every
    * candidate is verified with the sorted-fp Jaccard kernel, so the
    * per-delta-doc (status, min-matching-corpus-id, jaccard) verdicts admit
    * a first-principles SQL oracle. */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val table = builtIndex("graft_dedup_idx_", dir) { name =>
      Dedup.dedupIndexBuild(docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        "text", "doc_id", name)
    }
    Dedup.dedupIndexProbe(docs.where(pmod(col("doc_id"), lit(10)) === 0),
        "text", "doc_id", table, threshold = 0.5)
      .orderBy("doc_id")
  }

  /** Incremental EMBEDDING dedup against the persistent LSH index
    * ([[graft.ops.Dedup.embIndexBuild]]/[[graft.ops.Dedup.embIndexProbe]]
    * — the embedding twin of `dedup_incremental`, 4th member of the
    * persistent-index family). Corpus = 90% of vectors; delta = exact
    * copies of the vec_id % 20 == 1 slice under shifted ids (the re-crawl
    * shape) plus the held-out vec_id % 10 == 0 slice as genuinely new
    * vectors. Bits follow the §9.2 sizing rule (`lshBitsFor`): at the
    * oracle's sf0.01 scale that gives bits=3 with tables=48 — the
    * full-recall operating point (miss ~1e-6/pair at cos 0.4), so the
    * brute-force exact/cosine oracle applies verbatim; at bench scales
    * the bits grow with the corpus, pinning bucket occupancy (and probe
    * cost) instead of letting it grow linearly — the documented
    * recall-trading scale path every LSH family member takes. */
  private def dedupEmbeddingIncremental(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val corpus = emb.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val table = builtIndex("graft_emb_idx_", dir) { name =>
      val bits = graft.ops.Similarity.lshBitsFor(math.max(corpus.count(), 1L))
      Dedup.embIndexBuild(corpus, "embedding", "vec_id", name, bits = bits, tables = 48)
    }
    val delta = emb.where(pmod(col("vec_id"), lit(20)) === 1)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .unionByName(emb.where(pmod(col("vec_id"), lit(10)) === 0)
        .select(col("vec_id"), col("embedding")))
    Dedup.embIndexProbe(delta, "embedding", "vec_id", table, threshold = 0.4)
      .orderBy("vec_id")
  }

  /** Exact-substring duplicated spans (Lee-2022 shape): word-5-gram
    * fingerprints recurring anywhere in the corpus (>=2 occurrences,
    * self-repetition included) merged into maximal per-document spans. */
  private def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(t(s, dir, "documents"), "text", "doc_id", k = 5, minOcc = 2)
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        col("span_words").cast("long").as("span_words"))
      .orderBy("doc_id", "span_start")

  /** Top 30% by quality score per language — the classifier-filtered-web
    * curation cut, with the md5-hash tie-break making the selection
    * deterministic under heavy score ties. */
  private def corpusTopFrac(s: SparkSession, dir: String): DataFrame =
    Corpus.topFractionPerStratum(
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).cast("long").as("q")),
      "lang", "doc_id", "q", fracPct = 30)
      .orderBy("doc_id")

  /** Salted join equals the plain join: per-segment order rollup through
    * an 8-way salted orders-customer join (the skew-mitigation utility;
    * correctness gate is equality with the unsalted SQL). */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame =
    Skew.saltedJoin(
      t(s, dir, "orders").select("o_custkey", "o_totalprice"),
      t(s, dir, "customer").select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
      Seq("o_custkey"), salt = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        gf.moneySum(col("o_totalprice"), 2).as("total_price"))
      .orderBy("c_mktsegment")

  /** Compression-ratio quality signal (DEFLATE). JVM-zlib sizes are not
    * SQL-reproducible -> rows-only driver check; TextAnalysisSpec pins
    * the semantics (repetitive < prose < random, determinism). */
  private def textCompression(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.compressionStats(t(s, dir, "documents"), "text", "doc_id")
      .orderBy("doc_id")

  /** Substring-dedup application: every duplicated span dropped in place
    * (drop-all policy); cleaned text compared verbatim vs the oracle. */
  private def dedupSubstringApply(s: SparkSession, dir: String): DataFrame =
    Dedup.removeDuplicatedSpans(t(s, dir, "documents"), "text", "doc_id", k = 5, minOcc = 2)
      .orderBy("doc_id")

  /** Contamination audit report at the dedup_decontaminate operating
    * point: (corpus doc, eval doc, rounded exact Jaccard) matches. */
  private def dedupDecontaminateReport(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val evalSet = docs.where(pmod(col("doc_id"), lit(10)) === 0)
    val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
    Dedup.decontaminateReport(corpus, evalSet, "text", "doc_id")
      .orderBy("doc_id", "eval_id")
  }

  /** Deterministic training shards (16-way) + within-shard order key —
    * the engine-reproducible corpus-shuffle-and-shard materialization. */
  private def corpusShard(s: SparkSession, dir: String): DataFrame =
    Corpus.assignShards(t(s, dir, "documents"), "doc_id", nShards = 16)
      .select(col("doc_id"), col("shard").cast("long").as("shard"), col("sort_key"))
      .orderBy("doc_id")

  /** Deterministic 80/10/10 train/val/test split by md5 bucket — the
    * engine-reproducible alternative to randomSplit. */
  private def corpusSplit(s: SparkSession, dir: String): DataFrame =
    Corpus.assignSplits(t(s, dir, "documents"), "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .select("doc_id", "lang", "split")
      .orderBy("doc_id")

  /** BM25 top-20 for a fixed 3-term keyword query; ordering uses the
    * rounded score (+ id tie-break) so the cut is a shared total order. */
  private def textSearch(s: SparkSession, dir: String): DataFrame =
    Search.bm25(t(s, dir, "documents"), "text", "doc_id",
      Seq("spark", "join", "window"), k = 20)

  /** Per-doc top-3 TF-IDF keywords; the rounded-score + term total order
    * makes the per-doc cut exact cross-engine. */
  private def textTfidf(s: SparkSession, dir: String): DataFrame =
    Search.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("score_r").desc, col("term"))

  /** Persistent BM25 inverted index: built once per sf dir, then answered
    * from the index alone — the postings scan statically partition-pruned
    * to the query terms' hash buckets. Different terms from text_search so
    * the two entries exercise distinct score distributions. */
  private def textSearchIndexed(s: SparkSession, dir: String): DataFrame = {
    val table = builtIndex("graft_search_idx_", dir) { name =>
      Search.bm25IndexBuild(t(s, dir, "documents"), "text", "doc_id", name)
    }
    Search.bm25IndexQuery(s, table, Seq("data", "vector", "query"), k = 20)
  }

  /** Takedown shape for the search index: build on the FULL corpus, remove
    * 10% by tombstone (O(removed) — no postings rewrite), query. The lazy
    * exact corrections make the answer identical to an index built on the
    * retained 90%, which is exactly what the oracle computes. */
  private def textSearchIndexRemove(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val table = builtIndex("graft_search_rm_", dir) { name =>
      Search.bm25IndexBuild(docs, "text", "doc_id", name)
      Search.bm25IndexRemove(docs.where(pmod(col("doc_id"), lit(10)) === 0),
        "text", "doc_id", name)
    }
    Search.bm25IndexQuery(s, table, Seq("filter", "group", "stream"), k = 20)
  }

  /** Index-lifecycle closure: build, tombstone 10%, then COMPACT — the
    * tombstones fold into the physical tables from the index alone (the
    * corpus is never re-read) and clear; the query must still answer
    * exactly like an index over the retained 90%, now with no anti-join
    * in its plan. */
  private def textSearchIndexCompact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val table = builtIndex("graft_search_cp_", dir) { name =>
      Search.bm25IndexBuild(docs, "text", "doc_id", name)
      Search.bm25IndexRemove(docs.where(pmod(col("doc_id"), lit(10)) === 0),
        "text", "doc_id", name)
      Search.bm25IndexCompact(s, name)
    }
    Search.bm25IndexQuery(s, table, Seq("line", "value", "small"), k = 20)
  }

  /** The daily-crawl increment for the search index: build on 90% of the
    * corpus, append the remaining 10%, query — postings/dfs/stats after the
    * append are exactly the full-build ones, so the SAME whole-corpus BM25
    * oracle checks the entire append path. */
  private def textSearchIndexAppend(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val table = builtIndex("graft_search_app_", dir) { name =>
      Search.bm25IndexBuild(docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        "text", "doc_id", name)
      Search.bm25IndexAppend(docs.where(pmod(col("doc_id"), lit(10)) === 0),
        "text", "doc_id", name)
    }
    Search.bm25IndexQuery(s, table, Seq("table", "scan", "merge"), k = 20)
  }

  /** Embedding clustering at the oracle-able iters=0 operating point
    * (md5-hash-order leader seeds, argmax cosine, k=8); the trained
    * iters>0 path is covered by DedupSpec. */
  private def corpusCluster(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterEmbeddings(t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
      .withColumn("cluster", col("cluster").cast("long"))
      .orderBy("vec_id")

  /** SemDeDup at the oracle-able operating point: md5-hash-order leader
    * seeds (iters=0, no float-mean refinement), within-cluster cos>=0.4
    * components, min-id keepers. The trained (iters>0) path is covered
    * by DedupSpec recall/determinism tests.
    *
    * k follows `semdedupKFor`: ceil(sqrt(n/8)) balances the flat argmax
    * assignment (n·k·d) against the within-cluster pair stage (n²·d/k),
    * making both O(n^1.5·d); the SQL oracle computes the same k from its
    * own vector count (8 at sf0.01, 16 at sf0.1). A fixed k would leave
    * the pair stage quadratic at 100x. */
  private def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Dedup.semdedup(emb, "vec_id", "embedding",
        k = Dedup.semdedupKFor(nEmb(s, dir)), minCos = 0.4)
      .withColumn("cluster", col("cluster").cast("long"))
      .orderBy("vec_id")
  }

  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding", minCos = 0.4)
      .orderBy("a_id", "b_id")

  /** Hyperplane-LSH candidates + exact-cosine verify. Bits follow the
    * §9.2 corpus-sizing rule (`lshBitsFor`): at the oracle's sf0.01
    * scale (n=500) that gives bits=3 with tables=48 — a full-recall
    * operating point for cos>=0.4 (per-pair miss ~1e-4), so the exact
    * all-pairs cosine oracle applies verbatim; at bench scales the bits
    * grow with the corpus, pinning bucket occupancy (~64) so the O(b²)
    * in-bucket kernel stays constant-cost per bucket — the documented
    * recall-trading scale path. (A fixed bits=4 here measured 30+ min
    * PER RUN at sf10: 12.5k-vector buckets x 48 tables of quadratic
    * scoring — the exact blowup the sizing rule exists to prevent.) */
  private def dedupEmbeddingLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val n = nEmb(s, dir)
    val bits = Similarity.lshBitsFor(n)
    // partition the banded shuffle by its (tables-amplified) byte volume —
    // at sf100 the default 32 partitions put 1.9 GB of bucket lists in
    // each aggregation task (measured spill storm); 0 = default layout
    val parts = Similarity.lshPartsFor(n, tables = 48, dim = 64,
      s.sparkContext.defaultParallelism)
    Dedup.embeddingPairsLsh(emb, "vec_id", "embedding",
        minCos = 0.4, bits = bits, tables = 48, numParts = parts)
      .orderBy("a_id", "b_id")
  }

  // ---------------------------------------------------------------- §2.4 similarity

  private def annBruteforce(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
  }

  /** Radius search, exact baseline: all neighbors with cos >= 0.3 per
    * query ([[graft.ops.Similarity.rangeSearch]]). */
  private def annRange(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.rangeSearch(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", minCos = 0.3)
      .orderBy("query_id", "neighbor_id")
  }

  /** LSH radius search at a full-recall operating point (48 tables at
    * `lshBitsFor` bits — 3 at the oracle's sf0.01 scale: per-pair miss
    * probability ~1e-5 at cos 0.3, zero misses here — driver-checked),
    * so the exact range oracle applies verbatim; at bench scales bits
    * grow with the corpus, pinning per-query probe cost (occupancy ~64
    * per bucket) instead of letting it grow linearly. */
  private def annRangeLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val bits = Similarity.lshBitsFor(nEmb(s, dir))
    Similarity.rangeSearchLsh(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", minCos = 0.3, bits = bits, tables = 48)
      .orderBy("query_id", "neighbor_id")
  }

  /** Exact media dedup over the synthesized binary column. The oracle
    * groups by (doc_id % 4, text) instead of payload bytes: the container
    * is a pure function of (format = doc_id % 4, body = utf8(text)) with
    * the body embedded verbatim, so payload equality holds exactly when
    * (format, body) match — byte-level grouping and (format, body)
    * grouping are the same partition of the corpus. */
  private def multimodalDedup(s: SparkSession, dir: String): DataFrame =
    Multimodal.exactDedup(
        Multimodal.withBinaryPayload(t(s, dir, "documents"), "doc_id", "text"),
        "doc_id")
      .select(col("keeper_id"), col("n_copies"))
      .orderBy("keeper_id")

  /** INTERSECT (distinct set semantics): customers with orders in BOTH
    * 1995 and 1996 — Catalyst plans distinct + left-semi join, the
    * set-op shape. */
  private def qIntersect(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    def custIn(year: Int) = ord
      .where(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(s"$year-01-01 00:00:00")))
      .where(col("o_orderdate") < lit(java.sql.Timestamp.valueOf(s"${year + 1}-01-01 00:00:00")))
      .select(col("o_custkey"))
    custIn(1995).intersect(custIn(1996)).orderBy("o_custkey")
  }

  /** EXCEPT (distinct set semantics): customers active in 1995 but gone
    * in 1996 — the churn query; Catalyst plans distinct + left-anti. */
  private def qExcept(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    def custIn(year: Int) = ord
      .where(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(s"$year-01-01 00:00:00")))
      .where(col("o_orderdate") < lit(java.sql.Timestamp.valueOf(s"${year + 1}-01-01 00:00:00")))
      .select(col("o_custkey"))
    custIn(1995).except(custIn(1996)).orderBy("o_custkey")
  }

  /** UNPIVOT (wide metrics -> long key/value rows — the melt step feeding
    * metric stores and per-metric aggregation): Catalyst Expand replicates
    * each row once per value column map-side — no join, no shuffle; the
    * inverse of q_pivot. */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .unpivot(Array(col("doc_id")), Array(col("n_chars"), col("n_tokens")), "metric", "value")
      .orderBy("doc_id", "metric")

  /** URL dedup over deterministically synthesized crawl URLs (the
    * multimodal convention: structurally real inputs, real kernel). Each
    * doc gets a URL with scheme-case / default-port / trailing-slash /
    * param-order / utm-tracking variants driven by doc_id residues;
    * [[graft.ops.Dedup.urlDedup]] must collapse all variants of the same
    * resource. The oracle derives the canonical form INDEPENDENTLY from
    * the residue formula — it never parses the URL, so the kernel's
    * parse + normalize chain is verified end-to-end. */
  private def dedupUrl(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val scheme = when(pmod(id, lit(2)) === 0, lit("https")).otherwise(lit("HTTPS"))
    val port = when(pmod(id, lit(11)) === 0, lit(":443")).otherwise(lit(""))
    val path = concat(lit("/p"), pmod(id, lit(7)).cast("string"),
      when(pmod(id, lit(3)) === 0, lit("/")).otherwise(lit("")))
    val ref = pmod(id, lit(7)).cast("string")
    val query = when(pmod(id, lit(5)) === 0,
      concat(lit("?ref="), ref, lit("&utm_source=feed")))
      .otherwise(concat(lit("?utm_source=feed&ref="), ref))
    // fragments never identify a distinct resource — the kernel must drop
    // them (including a '?' hiding after '#', which is NOT a real query)
    val frag = when(pmod(id, lit(13)) === 0, lit("#sec?fake=1")).otherwise(lit(""))
    val url = concat(scheme, lit("://"), col("source"), lit(".Example.COM"), port, path, query, frag)
    Dedup.urlDedup(
        t(s, dir, "documents").select(id, col("source"), url.as("url")),
        "url", "doc_id")
      .orderBy("canonical_url")
  }

  /** Pixel-tier 2x2 average-pool resize over synthetic rasters
    * ([[graft.ops.Multimodal.poolRasters]]): the pool kernel reads dims
    * from the payload header BYTES; the oracle recomputes pooled values
    * from the pixel formula without ever seeing bytes. */
  private def multimodalResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.poolRasters(t(s, dir, "documents").select(col("doc_id")), "doc_id")
      .orderBy("doc_id")

  /** PCM energy stats over WAV-wrapped payloads
    * ([[graft.ops.Multimodal.audioEnergyStats]]): real RIFF walk, integer
    * stats; the oracle rebuilds every field from the text bytes. */
  private def multimodalAudio(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioEnergyStats(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Strided video-frame sampling over synthetic multi-frame rasters
    * ([[graft.ops.Multimodal.sampleVideoFrames]]): the kernel parses
    * (w, h, n_frames) from header bytes and checksums every 3rd frame;
    * the oracle recomputes each checksum from the pixel formula. */
  private def multimodalFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleVideoFrames(t(s, dir, "documents").select(col("doc_id")),
        "doc_id", stride = 3)
      .orderBy("doc_id", "frame_idx")

  /** LSH ANN at its full-recall operating point (`lshBitsFor` bits — 3
    * at the oracle's sf0.01 scale — with tables=48 recovers the exact
    * top-5 for every query here), so the brute-force ANN oracle applies
    * verbatim; at bench scales bits grow with the corpus, pinning
    * per-query probe cost instead of letting it grow linearly. */
  private def annLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val bits = Similarity.lshBitsFor(nEmb(s, dir))
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, bits = bits, tables = 48)
      .orderBy("query_id", "rank")
  }

  /** IVF is the one genuinely recall-trading entry left (cell pruning on
    * uniform-random vectors can't reach recall 1 at a sensible nprobe), so
    * it stays ScalaTest-verified (recall vs brute force + determinism)
    * rather than SQL-oracled. */
  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4)
      .orderBy("query_id", "rank")
  }
  /** IVF probed at nprobe = nlist — EXHAUSTIVE: every query searches every
    * cell, so the candidate set is the full corpus and the result equals
    * brute force by construction. This is the operating point that lets
    * the exact SQL oracle apply verbatim (like the full-recall LSH
    * points); cell-pruned recall stays ScalaTest-covered on ann_ivf. */
  private def annIvfFull(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 16)
      .orderBy("query_id", "rank")
  }

  /** PQ + exact re-rank. Rows-only like ann_ivf: the approximate phase is
    * honestly recall-trading; SimilaritySpec checks recall vs brute force
    * and partition-layout determinism. */
  private def annPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, m = 8, ksub = 16, rerank = 50)
      .orderBy("query_id", "rank")
  }

  /** PQ at its exhaustive operating point: rerank = corpus size, so the
    * approximate ADC phase prunes nothing and the exact-cosine re-rank —
    * the same scoring and tie-breaking as brute force — ranks EVERY
    * neighbor. Result equals ann_bruteforce by construction and the exact
    * SQL oracle applies verbatim (the ann_ivf_full convention); the
    * recall-trading rerank=50 point stays ScalaTest-covered on ann_pq. */
  private def annPqFull(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, m = 8, ksub = 16, rerank = nEmb(s, dir).toInt)
      .orderBy("query_id", "rank")
  }

  /** SQ8 at its exhaustive operating point (rerank = corpus size): the
    * scalar-quantized approximate phase prunes nothing, so the exact
    * re-rank equals brute force by construction and the exact SQL oracle
    * applies verbatim; the recall-trading rerank=50 point is
    * SimilaritySpec-covered. */
  private def annSqFull(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.sqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, rerank = nEmb(s, dir).toInt)
      .orderBy("query_id", "rank")
  }

  /** IVF x PQ composed (IVFADC). Rows-only like ann_ivf/ann_pq: cell
    * pruning + residual-code scoring are honestly recall-trading;
    * SimilaritySpec checks recall vs brute force, partition-layout
    * determinism, and persistent-index/direct equality. */
  private def annIvfpq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfpqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4, m = 8, ksub = 16, rerank = 50)
      .orderBy("query_id", "rank")
  }

  /** IVFADC at its exhaustive operating point: nprobe = nlist (every cell
    * probed) AND rerank = corpus size (no candidate pruning), so both
    * approximations vanish and the exact-cosine re-rank equals brute force
    * by construction — the exact SQL oracle applies verbatim. The
    * recall-trading (nprobe=4, rerank=50) point stays ScalaTest-covered on
    * ann_ivfpq. */
  private def annIvfpqFull(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfpqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 16, m = 8, ksub = 16, rerank = nEmb(s, dir).toInt)
      .orderBy("query_id", "rank")
  }

  /** The ADC numeric core of PQ, SQL-oracled: all-pairs ADC scores, top-50
    * per query by (rounded score, id) — a total order shared with the
    * DuckDB re-derivation. The codebooks are deterministic (hash-sample +
    * seeded Lloyd's), so the oracle embeds their exact values as literals
    * (the elo/perplexity convention) and recomputes encode -> table ->
    * lookup-sum from first principles with matching float accumulation
    * order. This closes the "PQ scores have no cross-engine check" gap;
    * ann_pq/ann_ivfpq stay rows-only for their recall-trading pruning. */
  private def annPqAdc(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.pqAdcScores(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        topPerQuery = 50, m = 8, ksub = 16)
      .orderBy("query_id", "rank")
  }

  /** Query-only probe of the persistent IVFADC index — the 100 TB
    * deployment shape (build once, query many). The index is built lazily
    * once per (JVM, sf dir), so BENCH's median-of-3 times the probe alone;
    * the probe plan prunes unprobed cells AT THE SCAN via dynamic
    * partition pruning (LayoutSpec asserts it). Rows-only like ann_ivfpq:
    * index/direct equality is ScalaTest-asserted. */
  private def annIvfpqQuery(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val table = builtIndex("graft_ivfpq_idx_", dir) { name =>
      Similarity.ivfpqBuildIndex(emb, "vec_id", "embedding", name, nlist = 16, m = 8, ksub = 16)
    }
    Similarity.ivfpqQueryIndex(emb.filter(col("vec_id") < 10), "vec_id", "embedding", table,
        k = 5, nprobe = 4, rerank = 50)
      .orderBy("query_id", "rank")
  }

  /** Incrementally-grown persistent index at the exhaustive operating
    * point: the index is built on HALF the corpus (even vec_ids), the
    * other half APPENDED with the index's frozen quantizers
    * (ivfpqAppendIndex — the growing-embedding-store shape), then probed
    * with zero pruning. Exhaustive probing makes the quantizer question
    * moot (every cell read, every candidate exact-re-ranked), so the
    * result equals brute force over the FULL corpus and the exact SQL
    * oracle checks the append path end-to-end: encode-with-loaded-
    * codebooks, partition routing of appended files, probe join over
    * mixed build+append partitions, re-rank. */
  private def annIvfpqAppendFull(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val table = builtIndex("graft_ivfpq_app_", dir) { name =>
      Similarity.ivfpqBuildIndex(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", name, nlist = 16, m = 8, ksub = 16)
      Similarity.ivfpqAppendIndex(emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", name)
    }
    Similarity.ivfpqQueryIndex(emb.filter(col("vec_id") < 10), "vec_id", "embedding", table,
        k = 5, nprobe = 16, rerank = nEmb(s, dir).toInt)
      .orderBy("query_id", "rank")
  }

  /** The persistent-index probe at its exhaustive operating point
    * (nprobe = nlist, rerank = corpus size): same index, zero pruning, so
    * the result equals brute force by construction and the exact SQL
    * oracle applies verbatim. Closes the cross-engine check over the
    * WHOLE persistent path — build, cell partitioning, code round-trip,
    * probe join, re-rank — leaving only cell-pruned recall to ScalaTest. */
  private def annIvfpqQueryFull(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val table = builtIndex("graft_ivfpq_idx_", dir) { name =>
      Similarity.ivfpqBuildIndex(emb, "vec_id", "embedding", name, nlist = 16, m = 8, ksub = 16)
    }
    Similarity.ivfpqQueryIndex(emb.filter(col("vec_id") < 10), "vec_id", "embedding", table,
        k = 5, nprobe = 16, rerank = nEmb(s, dir).toInt)
      .orderBy("query_id", "rank")
  }

  /** Vector takedown at the exhaustive operating point: build on ALL
    * embeddings, tombstone 20% (no retrain, no rewrite — the FAISS
    * remove_ids contract), probe every cell with full re-rank. The oracle
    * is brute force over the RETAINED vectors, so the hash checks that
    * tombstoned vectors are invisible end-to-end. */
  private def annIvfpqRemoveFull(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val table = builtIndex("graft_ivfpq_rm_", dir) { name =>
      Similarity.ivfpqBuildIndex(emb, "vec_id", "embedding", name, nlist = 16, m = 8, ksub = 16)
      Similarity.ivfpqRemoveIndex(emb.filter(pmod(col("vec_id"), lit(5)) === 0),
        "vec_id", name)
    }
    Similarity.ivfpqQueryIndex(emb.filter(col("vec_id") < 10), "vec_id", "embedding", table,
        k = 5, nprobe = 16, rerank = nEmb(s, dir).toInt)
      .orderBy("query_id", "rank")
  }

  /** Index-lifecycle closure for IVFADC: build, tombstone 20%, COMPACT
    * (affected cells rewritten, dead cells dropped, tombstones cleared),
    * probe exhaustively — must still equal brute force over the retained
    * vectors, now with no anti-join in the probe. */
  private def annIvfpqCompactFull(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val table = builtIndex("graft_ivfpq_cp_", dir) { name =>
      Similarity.ivfpqBuildIndex(emb, "vec_id", "embedding", name, nlist = 16, m = 8, ksub = 16)
      Similarity.ivfpqRemoveIndex(emb.filter(pmod(col("vec_id"), lit(5)) === 0),
        "vec_id", name)
      Similarity.ivfpqCompactIndex(s, name)
    }
    Similarity.ivfpqQueryIndex(emb.filter(col("vec_id") < 10), "vec_id", "embedding", table,
        k = 5, nprobe = 16, rerank = nEmb(s, dir).toInt)
      .orderBy("query_id", "rank")
  }

  private def knnLabel(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.knnLabel(emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding", "label", k = 10)
      .orderBy("query_id")
  }

  /** LSH-backed kNN vote at its full-recall operating point
    * (`lshBitsFor` bits — 3 at the oracle's sf0.01 scale — with
    * tables=48 recovers the exact top-10 for every query on this
    * corpus), so the brute-force kNN oracle applies verbatim; at bench
    * scales bits grow with the corpus, pinning per-query probe cost. */
  private def knnLabelLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val bits = Similarity.lshBitsFor(nEmb(s, dir))
    Similarity.knnLabelLsh(emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding", "label",
        k = 10, bits = bits, tables = 48)
      .orderBy("query_id")
  }

  // ---------------------------------------------------------------- §2.1 LLM surface

  private def inferRender(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "documents")
    df.select(col("doc_id"), Infer.renderPrompt(df, Seq("source", " | ", "lang", " | ", "text")).as("prompt"))
  }

  private def inferEcho(s: SparkSession, dir: String): DataFrame =
    Infer.infer(t(s, dir, "documents"), EchoModel(maxChars = 100), Seq("text"))
      .select("doc_id", "inference_result")

  private def inferStructured(s: SparkSession, dir: String): DataFrame = {
    val inferred = Infer.infer(
      t(s, dir, "documents"), JudgeScorer(0, 10), Seq("text"), truncateRows = false)
    Results.unpackJson(inferred).select("doc_id", "score")
  }

  private def classifyKeyword(s: SparkSession, dir: String): DataFrame =
    Templates.classify(t(s, dir, "documents"), Seq("join", "window", "stream"), Seq("text"),
        outputColumn = "classification_result")
      .select("doc_id", "classification_result")

  private def scoreJudge(s: SparkSession, dir: String): DataFrame =
    Templates.score(t(s, dir, "documents"), Seq("text"), Seq("clarity"), range = (1, 5))
      .select(col("doc_id"), col("score").cast("long").as("score"))

  private def truncateTokensQ(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "documents")
    df.select(col("doc_id"),
      Infer.truncateTokens(col("text"), 20).as("truncated"))
  }

  private def resultsJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val results = Infer.infer(docs, EchoModel(maxChars = 50), Seq("text"))
      .select("doc_id", "inference_result")
    Results.withOriginalDf(docs, results, "doc_id").orderBy("doc_id")
  }

  private def rankOptions(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "documents")
      .select(col("doc_id"), col("text").as("opt_text"), col("source").as("opt_src"))
    Templates.rank(df, Seq("opt_text", "opt_src"))
      .select(col("doc_id"), array_join(col("ranking"), ",").as("ranking_str"), col("winner"))
  }

  /** Feature-hash embedding, projected to scalars: the driver's compare
    * (pandas sort + hash) can't order raw array<float> columns, so the
    * catalog entry emits a scalar fingerprint of the vector — dimension,
    * first component, and the component sum — all reproducible in DuckDB
    * from the same FNV-1a / signed-bucket / L2-normalize semantics. The
    * full array stays available via Templates.embed / Graft.embed. */
  private def embedHash(s: SparkSession, dir: String): DataFrame = {
    val emb = Templates.embed(t(s, dir, "documents"), Seq("text"), outputColumn = "embedding", dim = 64)
    emb.select(
      col("doc_id"),
      size(col("embedding")).cast("long").as("dim"),
      round(element_at(col("embedding"), 1).cast("double"), 6).as("e0"),
      round(aggregate(col("embedding"), lit(0.0d), (a, x) => a + x.cast("double")), 5).as("e_sum"))
  }

  /** Hash-feature linear quality classifier: one narrow codegen map
    * (features + fixed-weight dot), bit-reproducible keep decisions. */
  private def corpusClassifierFilter(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.classifierScore(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Elo over per-document language-ranking ballots: each doc ranks the
    * five langId marker languages by marker occurrences (desc, lang asc) —
    * a deterministic stand-in for LLM ranking ballots. Ballot explosion and
    * pair counting run distributed; the 5x5 Bradley–Terry solve is driver
    * side (reference: sutro/templates/evals.py:182). */
  private def eloRatings(s: SparkSession, dir: String): DataFrame = {
    // ballots from the one-pass qualityLangStats kernel: elements 4+ are
    // the per-language marker totals — the same non-overlapping occurrence
    // counts over the padded lower-cased text that the 15-regexp_replace
    // formulation computed, in ONE pass per document. Projection barrier so
    // the kernel evaluates once, not once per ballot entry.
    val entries = TextAnalysis.langMarkers.zipWithIndex.map { case ((lang, _), i) =>
      struct(
        (lit(0) - element_at(col("__st"), lit(i + 4))).as("negscore"),
        lit(lang).as("lang"))
    }
    val ballots = t(s, dir, "documents")
      .select(TextAnalysis.qualityLangStats(col("text")).as("__st"))
      .select(transform(array_sort(array(entries: _*)), e => e.getField("lang")).as("ballot"))
    Elo.ratings(ballots, "ballot")
      .select(col("label"), round(col("elo"), 2).as("elo"),
        round(col("wins"), 1).as("wins"), round(col("losses"), 1).as("losses"),
        round(col("matches"), 1).as("matches"))
      .orderBy("label")
  }

  // ---------------------------------------------------------------- §2.6 multimodal + streaming

  private def multimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val withPayload = Multimodal.withBinaryPayload(t(s, dir, "documents"), "doc_id", "text")
    Multimodal.extractFeatures(withPayload).toDF().orderBy("doc_id")
  }

  private def streamWindowAgg(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.windowAggAvailableNow(s, dir)
      .orderBy("window_start", "event_type")

  /** Append-mode variant — watermark finalizes + evicts every window, so
    * the emitted stream equals the batch answer (the production contract;
    * complete mode above is the test-harness variant). */
  private def streamWindowAggAppend(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.windowAggAppendAvailableNow(s, dir)
      .orderBy("window_start", "event_type")

  /** Streaming exact dedup — per-content-key state; single-batch
    * AvailableNow run equals the batch dedup, so it shares that oracle. */
  private def streamDedupExact(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.dedupExactAvailableNow(s, dir)
      .orderBy("content_key")

  /** Streaming contamination monitor (stateless stream-static verify):
    * same pairs as the batch report, so it shares that oracle. */
  private def streamDecontaminate(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.decontaminateMonitorAvailableNow(s, dir)
      .orderBy("doc_id", "eval_id")

  /** Streaming intake quality filter (stateless admission control): the
    * same decision kernels as batch corpus_filter, so the AvailableNow run
    * shares that oracle verbatim. */
  private def streamClean(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.cleanFilterAvailableNow(s, dir)
      .orderBy("doc_id")

  /** Streaming per-window top-k via the shared bounded-heap aggregate
    * ([[graft.streaming.Streams.windowTopKAvailableNow]]): state = one
    * k-heap per window; equals the batch rank-by-window answer, which is
    * the oracle. */
  private def streamWindowTopk(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.windowTopKAvailableNow(s, dir, k = 5)
      .orderBy("window_start", "rank")

  /** Streaming heavy hitters: Misra–Gries summary over the ingest stream
    * — same kernel as corpus_heavy_hitters, O(capacity) state forever
    * ([[graft.streaming.Streams.heavyHittersAvailableNow]]); at the
    * capacity >= vocabulary operating point it equals the batch answer,
    * so it shares that oracle verbatim. */
  private def streamHeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.heavyHittersAvailableNow(s, dir, capacity = 256, k = 25)
      .orderBy(col("cnt").desc, col("word").asc)

  /** Streaming embedding drift monitor: bounded labels x dim running-sum
    * state, drift verdict vs static baseline centroids
    * ([[graft.streaming.Streams.driftMonitorAvailableNow]]). */
  private def streamDrift(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.driftMonitorAvailableNow(s, dir)
      .orderBy("label")

  /** Streaming per-user anomaly monitor: running integer value moments in
    * complete mode (state = one row per user forever), z-scored against
    * the global distribution at snapshot time — bit-identical to the
    * batch twin by construction. */
  private def streamAnomaly(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.anomalyMonitorAvailableNow(s, dir)
      .orderBy("user_id")

  /** Streaming ETL into the incremental aggregate: per-batch idempotent
    * partial appends, final query equals the batch rollup — shares
    * q_rollup_incremental's oracle verbatim. */
  private def streamRollupIncremental(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.rollupIncrementalAvailableNow(s, dir)
      .orderBy("event_type")

  /** Streaming sessionization (flatMapGroupsWithState) — same semantics as
    * the batch q_sessionize, so it shares that oracle's shape. */
  private def streamSessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.sessionizeAvailableNow(s, dir, gapMinutes = 30)
      .select(col("user_id"), col("n_sessions"), col("n_events"))
      .orderBy("user_id")

  /** Engine-native session_window sessionization — the bounded-memory
    * streaming path (spillable in-operator sort + state-store session
    * merging; a skewed user cannot OOM an executor). Same gap semantics as
    * the batch q_sessionize, so it shares that oracle's shape. */
  private def streamSessionizeSw(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.sessionizeSessionWindowsAvailableNow(s, dir, gapMinutes = 30)
      .select(col("user_id"), col("n_sessions"), col("n_events"))
      .orderBy("user_id")

  /** Stream-stream watermarked inner join: purchases attributed to the
    * same user's clicks in the preceding hour; both buffers
    * watermark-evicted. Single-batch real data under AvailableNow, so the
    * emitted set equals the batch join. */
  private def streamJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.clickAttributionAvailableNow(s, dir)
      .orderBy("click_id", "purchase_id")

  /** Left-outer stream-stream join: every click emitted once, null
    * purchase columns when nothing followed within the hour — the
    * unmatched rows come from real state-watermark eviction (sentinel
    * batches advance the watermark past the join window). */
  private def streamJoinOuter(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.clickAttributionOuterAvailableNow(s, dir)
      .orderBy(col("click_id"), col("purchase_id").asc_nulls_first)

  // ---------------------------------------------------------------- catalog

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "q3_join_topk" -> (q3JoinTopk _),
    "q5_multijoin" -> (q5Multijoin _),
    "q6_filter" -> (q6Filter _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_window_range" -> (qWindowRange _),
    "q_pivot" -> (qPivot _),
    "q_unpivot" -> (qUnpivot _),
    "q_intersect" -> (qIntersect _),
    "q_except" -> (qExcept _),
    "q_exists" -> (qExists _),
    "q_topk_per_group" -> (qTopkPerGroup _),
    "q_gap_fill" -> (qGapFill _),
    "q_rollup_incremental" -> (qRollupIncremental _),
    "q_fuzzy_join" -> (qFuzzyJoin _),
    "q_fuzzy_match" -> (qFuzzyMatch _),
    "corpus_centroids" -> (corpusCentroids _),
    "corpus_assign" -> (corpusAssign _),
    "dedup_decontaminate_embedding" -> (dedupDecontaminateEmbedding _),
    "q_asof_join" -> (qAsofJoin _),
    "q_range_join" -> (qRangeJoin _),
    "q_window" -> (qWindow _),
    "q_events_json" -> (qEventsJson _),
    "q_sessionize" -> (qSessionize _),
    "text_tokens" -> (textTokens _),
    "text_quality" -> (textQuality _),
    "text_langid" -> (textLangid _),
    "text_fingerprint" -> (textFingerprint _),
    "text_repetition" -> (textRepetition _),
    "text_pii_scrub" -> (textPiiScrub _),
    "text_extract" -> (textExtract _),
    "text_normalize" -> (textNormalize _),
    "text_perplexity" -> (textPerplexity _),
    "dedup_lines" -> (dedupLines _),
    "corpus_stats" -> (corpusStats _),
    "corpus_sample" -> (corpusSample _),
    "corpus_pack" -> (corpusPack _),
    "corpus_cap" -> (corpusCap _),
    "corpus_chunk" -> (corpusChunk _),
    "corpus_mix" -> (corpusMix _),
    "corpus_ngrams" -> (corpusNgrams _),
    "corpus_cooccurrence" -> (corpusCooccurrence _),
    "corpus_bpe" -> (corpusBpe _),
    "corpus_bpe_tokenize" -> (corpusBpeTokenize _),
    "corpus_heavy_hitters" -> (corpusHeavyHitters _),
    "corpus_overlap" -> (corpusOverlap _),
    "corpus_pagerank" -> (corpusPagerank _),
    "corpus_weighted_sample" -> (corpusWeightedSample _),
    "corpus_temperature_sample" -> (corpusTemperatureSample _),
    "corpus_quantiles" -> (corpusQuantiles _),
    "corpus_dupe_profile" -> (corpusDupeProfile _),
    "corpus_filter" -> (corpusFilter _),
    "corpus_clean" -> (corpusClean _),
    "dedup_exact" -> (dedupExact _),
    "dedup_url" -> (dedupUrl _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_apply" -> (dedupApply _),
    "dedup_decontaminate" -> (dedupDecontaminate _),
    "dedup_decontaminate_ngram" -> (dedupDecontaminateNgram _),
    // the Bloom-prefiltered path is the only one; the name stays for
    // catalog stability
    "dedup_decontaminate_bloom" -> (dedupDecontaminate _),
    "dedup_decontaminate_report" -> (dedupDecontaminateReport _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_embedding_incremental" -> (dedupEmbeddingIncremental _),
    "dedup_substring" -> (dedupSubstring _),
    "dedup_substring_apply" -> (dedupSubstringApply _),
    "corpus_split" -> (corpusSplit _),
    "corpus_shard" -> (corpusShard _),
    "corpus_cluster" -> (corpusCluster _),
    "corpus_top_frac" -> (corpusTopFrac _),
    "text_search" -> (textSearch _),
    "text_tfidf" -> (textTfidf _),
    "text_search_indexed" -> (textSearchIndexed _),
    "text_search_index_append" -> (textSearchIndexAppend _),
    "text_search_index_remove" -> (textSearchIndexRemove _),
    "text_search_index_compact" -> (textSearchIndexCompact _),
    "text_compression" -> (textCompression _),
    "q_salted_join" -> (qSaltedJoin _),
    "infer_render" -> (inferRender _),
    "infer_echo" -> (inferEcho _),
    "infer_structured" -> (inferStructured _),
    "classify_keyword" -> (classifyKeyword _),
    "score_judge" -> (scoreJudge _),
    "truncate_tokens" -> (truncateTokensQ _),
    "results_join" -> (resultsJoin _),
    "rank_options" -> (rankOptions _),
    "embed_hash" -> (embedHash _),
    "corpus_classifier_filter" -> (corpusClassifierFilter _),
    "elo_ratings" -> (eloRatings _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_semantic" -> (dedupSemantic _),
    "dedup_embedding_lsh" -> (dedupEmbeddingLsh _),
    "ann_bruteforce" -> (annBruteforce _),
    "ann_range" -> (annRange _),
    "ann_range_lsh" -> (annRangeLsh _),
    "multimodal_dedup" -> (multimodalDedup _),
    "multimodal_resize" -> (multimodalResize _),
    "multimodal_frames" -> (multimodalFrames _),
    "multimodal_audio" -> (multimodalAudio _),
    "ann_lsh" -> (annLsh _),
    "ann_ivf" -> (annIvf _),
    "ann_ivf_full" -> (annIvfFull _),
    "ann_pq" -> (annPq _),
    "ann_pq_full" -> (annPqFull _),
    "ann_sq_full" -> (annSqFull _),
    "ann_pq_adc" -> (annPqAdc _),
    "ann_ivfpq" -> (annIvfpq _),
    "ann_ivfpq_full" -> (annIvfpqFull _),
    "ann_ivfpq_query" -> (annIvfpqQuery _),
    "ann_ivfpq_query_full" -> (annIvfpqQueryFull _),
    "ann_ivfpq_remove_full" -> (annIvfpqRemoveFull _),
    "ann_ivfpq_compact_full" -> (annIvfpqCompactFull _),
    "ann_ivfpq_append_full" -> (annIvfpqAppendFull _),
    "knn_label" -> (knnLabel _),
    "knn_label_lsh" -> (knnLabelLsh _),
    "multimodal_meta" -> (multimodalMeta _),
    "stream_window_agg" -> (streamWindowAgg _),
    "stream_window_agg_append" -> (streamWindowAggAppend _),
    "stream_sessionize" -> (streamSessionize _),
    "stream_sessionize_sw" -> (streamSessionizeSw _),
    "stream_join" -> (streamJoin _),
    "stream_join_outer" -> (streamJoinOuter _),
    "stream_dedup_exact" -> (streamDedupExact _),
    "stream_decontaminate" -> (streamDecontaminate _),
    "stream_clean" -> (streamClean _),
    "stream_heavy_hitters" -> (streamHeavyHitters _),
    "stream_window_topk" -> (streamWindowTopk _),
    "stream_drift" -> (streamDrift _),
    "stream_anomaly" -> (streamAnomaly _),
    "stream_rollup_incremental" -> (streamRollupIncremental _)
  )

  /** sf0.01-trained PQ codebooks (m=8, ksub=16, dsub=8 -> 1024 doubles),
    * baked for the ann_pq_adc oracle. Deterministic given the testdata:
    * regenerate via [[graft.ops.Similarity.pqCodebooks]] if it changes. */
  private val pqCodebookLiteral: String =
    "0.06868264141182105,-0.004119942249316309,0.05689722439274192,0.0371019489183608,0.03584599608762397,-0.012365372541050116,0.22579730633232328,-0.03730716668845465,-0.08231185963377356,0.030208949698135257,-8.433453117807706E-4,0.10921409158036113,-0.027966590660313765,-0.030410407413728534,0.10054261504362026,0.13079694428791602,0.04180737880661207,-0.09899217394344947,0.044915322789593655,-0.07951222631313346,0.060059746891698414,-0.027022475369877237,-0.06687912201125394,-0.2271961955463185,-0.054732589765863364,0.004549392212052332,0.1231528264037225,0.038186635849131054,-0.006449112311265496,-0.14367577469864384,0.01913659592960463,-0.06025477231555987,-0.028218159545212985,-0.028341140348597298,-0.06265069346409291,0.04274764056982738,0.14355909693986177,-0.09948917229194194,-0.11572591086317385,0.04826007536279836,0.06852756906300783,-0.17003614102539263,-0.05657304360188151,-0.051887379371021926,-0.02683810590717353,-0.16272547720980488,0.05741891677347379,0.09600385383237153,0.03718636476831442,0.005792840047635966,0.13430777068155025,-0.08462259459688708,0.13921551130436086,-0.04118203740842916,-0.08332215306452578,0.14189689252870502,0.0814192306314563,0.12099634945906441,-0.1389538966890039,-0.011584812983998964,0.022409910520795603,0.056980250322998596,-0.02455417812071291,0.15356891310035153,0.056223964178934695,-0.0013950630091130733,-0.006281131928387497,0.08102970612235368,0.048049315570720605,0.10635732654482126,-0.205926128583295,-0.07738255105380501,-0.02699913052033241,0.16005815973039716,0.10060150579144982,-0.005532600935303459,-0.013760103145614266,0.12718029417048551,-0.03096127215968935,-0.03151896890669473,-0.0403595008505767,-0.026552265134847,0.055102441335394464,-0.1652123760432005,0.09350243382828517,0.06692953198540232,0.010095954724723319,-0.01351991830031491,-0.07465353823925663,0.030822514958123153,-0.01915071175217901,-0.02690676832003746,-0.1985990456873324,0.01865315482747264,-0.06772408495577643,0.01073319408701869,0.19968494845013465,0.01599733286627358,0.03064631169000941,-0.05427835657141141,-0.0652687014531224,-0.07550820756624753,-0.034553890101491444,0.06133329591924144,-0.11502203295204902,-0.02312178776782909,-0.15351477808982247,-0.05764640012586659,0.08685749115873918,0.08781933722396691,0.09916034118611027,-0.02093482483178377,-0.011551877374408721,-0.15829091909818532,0.029396102957501325,0.04535171414566476,-0.020028446440403237,0.10992943787402133,-0.06824050047264503,0.07721433631235325,0.0714669368678221,-0.023912330020081113,-0.1226927307865548,0.06036476687909777,-0.03355246164870483,0.03325918118503911,0.0530702298231147,-0.16340023056707448,-0.08129585846499712,-0.11619375383964291,-0.035570837229628255,-0.005085012720276912,-0.05759015792002039,-0.038138008745456184,-0.04982733429857978,-0.20600908842903595,0.023806518419673118,-0.022293106984922335,-0.04518639393534292,0.11310535382397253,0.08387728268280625,0.006964396390899578,0.07990296524675454,0.1509116763687309,0.06246004048389969,-0.1594432171917072,-0.011463904546366798,-0.16174167204924203,-0.009299079818582093,0.12196929514822033,0.0205221118543435,-0.0030753763944462494,-0.08919731768615105,0.042903689037570185,0.16678256563404026,-0.08397279368021854,0.03836303224157104,-0.10810774018960621,-0.031682775753057175,0.04205409044345074,0.11342924674972892,0.07998573940712958,0.02516432477714261,-0.04009774381993338,0.04422999055095715,0.15623055645228306,0.0722181309829466,0.06596947857178748,-0.04690776258707047,0.02630661744624376,0.099094182215631,0.0012008286640048027,-0.025874120788648723,0.09019685987383128,-0.16203824259340763,-0.07386390209197997,-0.0819214174633089,0.165862279915018,-0.03287691508594435,-0.0356570317002479,0.08139263596385718,-0.0724921214277856,0.05844862184021622,-0.027397722050955052,-0.0355747164649074,-0.038039251587179024,0.09047051903326064,-0.04525481793098152,-0.13320197640859988,-0.010189640408498235,0.12370296410517767,-0.04866663660504855,0.05399568590025107,0.056403556698933245,-0.06326832117823263,-0.07845482431973021,-0.15929852152864138,-0.04872480064320068,-0.09166490312976142,-0.06410407971125096,-0.04608771387275363,0.12098389958812143,-1.9976317279917353E-4,0.18054197494433644,-0.10482051928856355,0.025860965854543096,-0.06651142542250454,0.026851496618131503,0.02454056355636567,-0.058799058529548344,0.14657541017979384,0.10734496673569083,0.10179391055367887,0.030588375753723085,0.06998095335438848,-0.08557150119100697,-0.04993837221211704,0.05203492653423122,-0.17452287482696452,0.11309198183672768,0.06786368448436926,0.09233674747104358,-0.014354482134097322,-0.026400158614186302,0.0989565771445632,0.0011890308931469917,-0.10594206467270852,0.016524774990975856,-0.003012733981013298,-0.14501464039087295,0.1679403179883957,-0.019186725877225398,-0.1422547961194669,-0.15131503782205044,-0.01011114321168392,0.030099306187983,-0.04809003491179958,0.07406449008304926,-0.006100632505671632,0.0921306096302766,0.12310662848624186,-0.05118519094629356,0.03536056427177615,0.03538957104543582,-0.025687169570189256,-0.11340660472901967,-0.014526985925980486,-0.039781589849063985,0.04847638836751381,-0.06291754036058028,0.010940925750349249,-0.05386105902670395,0.055633392390085475,-0.037277957148728,-0.14423064131378419,0.15350554345197798,-0.039050000101061806,-0.09224667293019592,-0.008808372688612768,0.019167634432337113,-0.1116207507971142,-0.05398280242058848,0.06442986420754876,0.16046402816261565,0.07100333916263052,-0.07037424421458341,0.09313205994583447,0.06885535423369969,0.03361057585639441,-0.042966499280951476,0.1274300146409694,-0.09482324985540747,-0.06967424800426796,-0.12381253931029089,0.10484508665856616,-0.033051737985605824,0.08518987669256227,-0.06084724377583841,-0.11727525392579365,0.0012499046479833536,0.0585950290750167,0.09436718327924609,-0.06461145014717902,0.08324024879668908,-0.036818426806570555,-0.11802559662837445,0.037461377549689354,-0.0737189123940813,-0.1310865099852284,-0.041871985668937364,-0.10305580880376511,-0.008629327810679873,-0.07954723457805812,-0.041677547215173645,-0.06557463991145293,-0.09386255651091537,-0.024664938916935678,-0.13710056305959975,-0.1581250705445806,0.0010860840144838828,0.047340513823049456,0.06981032158849605,-0.05173920240809417,-0.012465556882994456,-0.015022479893209843,0.12821317920819497,0.05738907911402818,-0.06660050927446438,0.1275801960952007,0.10334815484328339,-0.028929434806251757,-0.0658953134686901,-0.021741630521435767,0.1327931723700693,0.03006680404098752,0.023706568130411398,-0.14186376340400714,0.11198518918946576,-0.0024049987013523397,-0.06408320816281514,-0.059284546948038044,0.04433287191204727,0.020146966038737446,-0.1172715124906972,0.10031202654354274,0.002944407961331308,0.14640077095245943,-0.23797755278646945,-0.10650206670503724,0.06664285967197044,-0.017780529927801002,0.08137481876253856,0.10691669723900939,-0.05334998612560219,-0.026269821779957663,0.05283968954234186,0.04885479049698915,0.002904170243709814,-0.06352135512861423,0.14012491970788687,0.031048778095282614,0.12057778908638284,0.07635511873741052,0.0809083764324896,-0.04141599755698385,-0.00196294159664271,0.13716178985599142,-0.06689510206342675,-0.026531301367168244,0.15075432794849172,0.019961204348454394,0.15085404452223045,0.14063612856261898,-0.05933404198731296,-0.045828608475858346,-0.09426524661830626,-0.10205365327419713,0.003066273799049668,-0.054537272022571415,-0.09817228009706014,0.14636003728418684,-0.012468876715642042,-0.11054998607589649,-0.10937912267847703,0.05535230036968222,-0.009568815155384632,0.06346336734266235,0.09168922000278074,-0.043225497082208415,0.19926051822091853,0.054720480618665794,-0.12752244591579906,-0.02230951055285654,-0.07213765218122196,0.03224427194800228,-0.005544558184088341,0.10349283605870424,-0.016634905054657298,0.12418541823739582,0.07644565533282179,-0.01835784078998999,-0.03388686791401018,-0.11496416485699062,0.044280412211788425,-0.005675039756377893,-0.05841679654217192,-0.016136778039591654,0.06566816149279475,0.019713303366942065,-0.1339421977688159,-0.13604123576411178,-0.06374650930187532,0.12028916630773775,0.11420671262538,-0.010201825039281,-0.05419754348094425,0.006645412281936695,0.0926255008821646,0.13314457541151392,-0.05637575354757569,0.03690641659611304,-0.13634858493294036,0.07519751085533893,-0.010897383821429685,0.09187201201649649,-0.053591760380991865,0.10469878214810575,-0.017731890062402403,0.05275133722170722,-0.1287575088790618,-0.11654904799343058,0.011365105106960982,-0.07900337683531689,0.046383654149394715,0.10083355469396338,0.058494715183769586,-0.10505388781247246,0.06670522146547835,-0.14273035620701396,0.03097313447182791,0.013988229708047584,0.08751699431902832,-0.06469726381409499,0.07558588497340679,-0.011992447595629428,0.12490112217212165,0.016388208087947633,0.08674954590215175,-0.17279403856783002,0.029284829385923566,-0.10768147990866392,-0.014598460678287127,-0.026480568799888714,-0.009436863870359958,-0.0475527408067137,0.08484524650654444,-0.15607062115256365,-0.06689663594588638,0.12293327879160643,-0.11110967709028045,0.14934900846371116,0.0534322414593286,0.060842314191783466,-0.008422254007503701,-0.01508421404772283,-0.01046426782462125,-0.04838504584040493,0.1279444478083557,-0.11525442687875162,-0.01884651288855821,-0.07039683997237052,-0.11297021757882948,0.1377300563483284,0.005704205724983835,-0.04781112777821433,-0.15320294701422638,-0.08895600231517165,-0.08084436690114671,0.03969120455440134,-0.10781618845066987,-0.11372126900096191,0.036412506975466385,-0.05964922015846241,0.02101300557842478,-0.029086805259188015,-0.014049875949110304,0.2102148500936372,-0.005166603407512109,0.01054033940835368,0.1378749915498442,-0.013362587562629155,-0.13034174045242253,-0.09793395564891398,0.014399752430617809,-0.05466016569174826,-0.1517162425071001,0.02553413382265717,-0.04613972804043442,0.12005254197865725,-0.0024337437003850936,0.13218631437330536,0.05095238863864462,-0.07836788513161468,0.11903027783740651,0.07161088888956742,0.07224578134518003,-0.05777261490143384,-0.057457201394506476,-0.05333626173342054,0.1317712249001488,0.14172000589314848,0.001609423970876378,0.07726573139370885,-0.004130033521505538,-0.034276057696843054,0.12688215039634088,-0.0336234504934039,0.18678148861589103,-0.01716078745887679,0.020062249635571038,-0.0024441007709387562,-0.17362707011915487,0.08454473477242322,-0.06620815926199329,-0.08936486152067248,-0.09133416409271636,0.015824456216900477,0.17291819068902572,0.06577194599334948,0.02496177262738846,0.0499597966845613,0.02003636091415371,-0.09325202143351946,0.07637453463061579,-0.05833549892829199,0.020591007425848927,0.04269163844042591,-0.043819451666370565,0.03396753283533534,-0.127621754125825,0.016799807781353593,-0.0880824166815728,-0.0925591839865471,-0.11705677079347272,0.05055845381381611,-0.15007958483571807,-0.0783765491602632,0.12594584623972574,-0.06644266573208812,0.0803464007991794,-0.061858291863589675,-0.0805468843633158,-0.10836133542722343,0.10670874958757211,-0.07370115856866578,-0.010546401331855639,-0.08745853864372923,0.013102753320708871,0.04632468066679744,-0.06354084854515699,0.019850283592509534,0.06670763485957511,-0.0892374891286286,0.1470438979852658,0.061880198918515816,-0.13562533457297832,-0.10320717685390264,0.03577448812429793,0.025051947112660854,0.08823223829385825,-0.042702875996474175,0.08183423174778,0.06743443570105062,-0.018660922069102526,-0.06368522965269884,0.16384460487064312,0.07865019788203592,-0.04562892199663276,0.08620627824811064,-0.01459246197084047,0.11770494596234389,0.14573933593928814,0.04994921369943768,0.04249898359578635,0.04897441595260586,-0.11928201408258506,-0.11855129317513534,-0.04665346180887094,-0.02637229221207755,0.022320912846009292,0.03187127446844464,0.15921576234645077,-0.1624894007330849,-0.05619400127657822,-0.026998067969023914,0.14455894682378995,0.06986227259039879,-0.014044075680430979,-0.024214743341872236,-0.12205295273452066,-0.11436098153353669,-0.06500880460890812,0.16442520698183216,-0.014280939554737415,-0.001798531642028441,-0.04626389554080864,0.0518049325425333,0.0027006747429065094,0.1437480312306434,0.1300890847511861,-0.1163700850835691,-0.08102182302597309,0.06962748080129838,0.1446037846908439,0.07896216524144013,2.562291661484374E-4,0.0100605716320893,0.04464906735423332,0.09815621215420833,0.11275604714561875,-0.11620420505488782,-0.06216504863512359,0.13068843565538132,0.06734592835786507,0.0043675485434696865,-0.040277834491510144,0.058652377613869155,0.010962852984544282,-0.06545202790099817,-0.046594334028971694,0.08264128452477355,-0.039153689499168344,-0.07575519879659016,-5.863637973864874E-4,-0.21012931565443674,-0.14800856177074215,0.0016141621823850517,-0.08846714105960485,0.024905462648618867,-0.12743512620343952,-0.01300449002332784,-0.12432579235551325,-0.040109304833930694,-0.04646420597123939,-0.07350504823293506,-0.1280120756963025,0.006273205108616663,0.05823507349249785,-0.17414146402607794,0.06543176823660084,0.029179419137780434,-0.10549861555109205,0.1357071384166678,-0.028912709406641725,0.05843009564301206,-0.02898688415168888,0.011955714448251657,0.12424702457469215,0.08307123945188424,-0.07627966158906929,-0.06403257586167786,0.1301244888878004,-0.17014832599935206,0.034991330625912684,-0.08959171103990891,-0.013228397752920335,0.0873160323720764,0.06452529414937916,0.010793658184064995,-0.008836479131354108,0.1585765168545636,0.05129708296624899,-0.11722115203294725,0.06347521337946611,-0.1090035056709201,-0.08884301180729554,-0.05314850941209531,-0.03154599337580205,-0.10543509388751374,0.08798103444931302,-0.0019610869334783496,0.059317867598132935,0.04973893775888605,-0.09787889750583506,-0.04056339915749911,-0.03061558651786886,-0.0650508797016779,-0.16604302889716469,-0.10013736032047554,-0.024356382961789342,-0.06254207215725298,-0.04615880648826102,-0.07186628984183902,-0.03669468554451467,-0.0965904987598252,-0.053109876979659826,0.10357515433699721,0.041899973649479866,-0.10872995254531917,0.10048630476618807,0.07324830778507573,-0.028245792117421373,0.1819922190272447,-0.0945372652667257,0.020297101077934105,0.021071933626169055,0.06645843444504973,-0.028088878480378877,0.05786675551518846,0.12539536520389133,-0.040057188815212454,-0.05624273824023789,0.05063017430426232,-0.05228446652020874,-0.1121527348727325,-0.029480548623692374,0.12933102764117604,-0.10970080955303274,-0.01898722736950731,0.023178123705572665,-0.01050741024216852,0.11130102867117295,-0.01111389740029923,0.08089818637325571,0.08944478951362443,0.028898160920703207,0.002118583897064472,0.17489552896084457,0.006114055675550781,-0.0866827446212671,0.016036416219290476,0.022500029369658822,0.0812211451544003,0.010142784015360203,-0.04842220162126151,0.0839236161925576,-0.21389931372620843,0.1424530768259005,0.1578664897136729,-0.108028285946189,0.028036811160854994,0.07265577685087919,-0.024320627031847834,-0.1128039701583475,-0.03690804960206151,-0.03469280318357051,0.03687875403091311,0.1708362478762865,0.14310925654493845,0.15398730163892302,0.09370266545850497,-0.013865794538735198,-0.04467195544678431,-0.011504958741939984,0.093375005830939,-0.18675273857437646,-0.08506564397364855,0.022739253118634225,0.027016580533236266,-0.02854879543185234,-0.03608951322501525,-0.22579607158899306,-0.05279433662304655,0.06258449736982584,-0.08071306197061426,0.14920697360122132,0.06506275101786568,0.017799460772602332,0.16346972417973338,0.013844470981331099,0.093321721468653,0.08370789626081075,-0.14005755698093234,-0.09260444245908571,0.0471551453380886,0.08649094925899788,-0.046180163314681485,0.039740444996151265,-8.107905817704033E-4,0.08198809944113473,-0.005783535942837999,-0.15785566827508848,-0.018775480881182326,-0.045389682325106616,0.0803224943402047,-0.07974288046573969,0.08937664445791696,-0.09241936032383426,0.01083580863529018,-0.06123832512114729,-0.05707170272778187,0.20529492912547928,0.02414103549505983,-0.05073862852794783,-0.0036027803351836546,0.03177770593735788,0.1339825552493108,0.048781361882433746,-0.11299263790362712,-0.04213252306737669,0.015653419257212205,0.08591275474508152,0.09424279170167266,0.046555426246909934,2.588453996730478E-4,-0.006353210398964093,-0.0380920219222868,-0.20424853422139821,0.007220308627247026,-0.023988252894732318,0.0502249182103888,-0.09666523010788583,-0.10286562290099083,-0.05504254232668741,-0.11957126201102228,-0.013888802940279922,0.031906775678649094,-0.008739679501476612,-0.11376071169577313,0.07805480163854857,0.027754209055494743,0.021881789850974172,0.17490015969131933,0.05842347084685708,-0.023638821178765007,0.015841836145034795,-0.057740025532742344,0.06340197656148423,-0.08930369009936436,-0.022871566341362067,-0.043460730385656156,-0.0026887829266747255,0.10628919645852067,0.08958799108060905,0.07724687864538282,-0.08592723530212727,0.1456587652621024,-0.16196662960026195,0.05731036313056179,-0.054826068678213394,0.0028802547877764,0.03599608278668979,-0.03624892180018565,0.07675102863269036,-0.05161725047219079,-0.06420434015835154,0.08841287049240079,-0.0692447447418717,0.1625860594213009,-0.019940257527541062,-0.08210151086978872,-0.05776889386169355,-0.08845522081920583,-0.08423153534654136,0.04890287122505374,0.01931677221268489,-0.0824721187144812,0.13270058754929587,0.06332268328773544,0.08765975148171971,-0.09456632050892545,-0.12515250784862372,0.07057999462510149,-0.03600111903829707,-0.1459088408931469,-0.1696044740577539,-0.05857577547430992,-0.014535151603114273,-0.05039730525512079,0.07082472279540855,0.04873426897154952,0.035631159061185,0.11035742564126849,-0.10963251559032043,0.05933387071656233,0.08202978746690363,0.10345260551548563,0.14848351174441632,0.0752463642093062,-0.059508831836865284,0.04081862681050552,-0.015876366654993035,-0.09231000984436832,-0.07176570287992945,-0.10582966505385497,0.07382771909675177,-0.07358625961590887,0.05807418148855076,-0.19701522347681663,0.004861959968419636,0.01462955168886658,-0.11477336725767921,0.11640689952210301,-0.013255723663384006,-0.09334996151959613,0.03281079946706692,-0.030823627714112047,-0.17392770023573012,-0.021957090257533958,-0.06845988472923636,-0.03767810895553102,-0.011806538045082403,0.052392127852805934,0.02306139052076184,-0.09340262080988158,0.07200664307152771,-0.11842065589482208,-0.21297557068907697,0.011951356327626854,0.04123237270861864,0.03511303998529911,0.05506747353356332,-0.08535067901015282,0.010005230298265815,0.20916817903518678,-0.010807068180292844,0.06304566065305249,-0.04911415151597813,0.03832656091594316,0.1421471104432056,-0.10071208933368325,-0.07303228838266458,0.031029694498159944,-0.019580542419521892,0.0719769967365123,0.03792550887668594,-0.02157834288664162,0.015576296031386369,0.06156290997751057,-0.03975580673709157,-0.01703678521638115,0.16974662993812845,0.041414887849609124,-0.030095387329837603,-0.044237440908833185,0.020703814752203852,0.05319661312540503,0.2033366874644631,0.09102737279241219,-0.007159295056848542,-0.17021198570728302,0.07282063877210021,0.034320124156822986,-0.054376280299038626,-0.050478957659964054,0.0030174108396749943,-0.08108058016348098,0.05597325757012835,0.16037869691434833,0.07495499686855409,0.03781959444232699,-0.05690232413730377,0.12661282423262796,-0.10680876372821836,0.03865247080102563,-0.16669573883215585,0.04418988579085895,0.11578964106073338,0.0440051375834238,-0.09930109914525279,-0.1715261141902634,-0.025395644159289077,-0.0011638773971104196,-0.047933545728613226,-0.01727235394840439,-0.10188320757758144,-0.19161645897353688,-0.010767235207216194,-0.009089613178124031,-0.13640471320013603,0.025660705907891195,-0.06462069682311267,-0.016919886651025576,-0.03528864158910106,-0.03136139762831259,0.1249063723212616,0.14637267640368504,-0.023390047760172325,-0.09601002132165543,-0.053073227281195366,0.002855984196283443,-6.54524265312005E-4,-0.025783555001442776,0.022503869488921968,-0.06360569947930851,0.1285632292260849,-0.1022489395122542,-0.11581273619518724,-7.259835614737623E-4,-0.16821642660694877,-0.023088211511693348,-0.10738812342694984,0.0028498496451392404,0.03167523539670539,0.008763495866754433,0.066149088701733,4.923650302697677E-4,0.03270303378057842,-0.11369296290433488,-0.17505968966194102,0.08775685321086564,-0.037063797382084096,0.0020034922714773063,-0.06560199817869107,-0.08384729518244664,0.04749910780228674,0.05009221957686047,-0.005884858751960565,0.004959991661598906,-0.09464845496889514,0.18377765851716202,0.031180801917798817,0.10543164414619761,0.06941042871247712,0.16633690148591995,-0.04910396545061043,-6.33944191836885E-4,0.11163270759529301,-0.1063638990079718,0.0030723523814231157,-0.03993633966176556,0.1080939568256816,-0.20990597026852462,0.05989640406691111,-0.0643877865603337,0.002034287219150708,0.01258754932608169,0.06499894593770687,-0.07591401221445547,-0.08490711150135702,0.1131963552630996,-0.034611480932933494,0.021745716579831563,-0.003034949160885448,0.008687166115030264,-0.13911839532785308,-0.032596816308796406,0.0069645388672749204,0.21369330916139814,0.17907567624934018,0.10966474562883377,0.05985205496350924,-0.10176697249213855,0.03701021411042246"

  private val annRangeOracleSql: String =
    """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      |FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      |WHERE q.vec_id < 10
      |  AND list_cosine_similarity(q.embedding, c.embedding) >= 0.3
      |ORDER BY query_id, neighbor_id""".stripMargin

  /** Exact brute-force top-5 of the first 10 vectors (cosine desc, id
    * asc). Shared by every ANN entry run at an operating point where its
    * approximation vanishes: ann_bruteforce, the exhaustive ann_ivf_full,
    * ann_pq_full, ann_sq_full, ann_ivfpq_full, the persistent-index
    * ann_ivfpq_query_full and ann_ivfpq_append_full, and the full-recall
    * ann_lsh. */
  private val annExactTop5OracleSql: String =
    """WITH scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10)
      |SELECT query_id, neighbor_id, rank FROM scored
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** [[annExactTop5OracleSql]] over the vectors retained after removing
    * vec_id % 5 = 0: ann_ivfpq_remove_full (tombstones must be invisible)
    * and ann_ivfpq_compact_full (the fold must keep that view). */
  private val annRetainedTop5OracleSql: String =
    """WITH scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings c
      |    ON c.vec_id <> q.vec_id AND c.vec_id % 5 <> 0
      |  WHERE q.vec_id < 10)
      |SELECT query_id, neighbor_id, rank FROM scored
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Exact kNN majority label (k = 10, ties -> smallest label) of the
    * first 50 vectors: knn_label, and knn_label_lsh at its full-recall
    * operating point. */
  private val knnVoteOracleSql: String =
    """WITH scored AS (
      |  SELECT q.vec_id AS qid, c.label AS n_label,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rk
      |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 50),
      |votes AS (
      |  SELECT qid, n_label, count(*) AS votes FROM scored WHERE rk <= 10 GROUP BY qid, n_label),
      |best AS (
      |  SELECT qid, n_label, votes,
      |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, n_label) AS rk
      |  FROM votes)
      |SELECT qid AS query_id, n_label AS pred_label, votes
      |FROM best WHERE rk = 1 ORDER BY query_id""".stripMargin

  private val rollupIncrementalOracleSql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(c) AS BIGINT) AS sum_cents,
      |  CAST(count(DISTINCT day) AS BIGINT) AS n_days
      |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin

  private val corpusFilterOracleSql: String =
    """WITH w0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |lined AS (
      |  SELECT doc_id, array_to_string(list_transform(
      |      generate_series(0, greatest(CAST(floor((len(w)-1)/2.0) AS BIGINT), 0)),
      |      i -> array_to_string(list_slice(w, i*2+1, i*2+2), ' ')), chr(10)) AS text
      |  FROM w0),
      |ln AS (
      |  SELECT doc_id, regexp_replace(l, '^[ \t\r\f]+|[ \t\r\f]+$', '', 'g') AS line
      |  FROM lined, unnest(string_split(text, chr(10))) AS u(l)),
      |lc AS (
      |  SELECT doc_id, line, count(*) AS cnt FROM ln WHERE line <> '' GROUP BY doc_id, line),
      |ls AS (
      |  SELECT doc_id,
      |    CAST(sum(cnt) - count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS dup_line_frac
      |  FROM lc GROUP BY doc_id),
      |bg AS (
      |  SELECT doc_id, w[i] || ' ' || w[i+1] AS b
      |  FROM w0, unnest(generate_series(1, len(w)-1)) AS g(i)),
      |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
      |bs AS (
      |  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_bigram_frac
      |  FROM bc GROUP BY doc_id),
      |tok AS (SELECT doc_id, len(regexp_split_to_array(text, '\s+')) AS n FROM documents),
      |q AS (SELECT doc_id, CAST(
      |  greatest(0, least(100,
      |    least(len(regexp_split_to_array(text, '\s+')), 50)
      |    + floor(len(list_distinct(regexp_split_to_array(text, '\s+'))) * 40.0
      |            / greatest(len(regexp_split_to_array(text, '\s+')), 1))
      |    - least(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')), 10)
      |    + 10)) AS INTEGER) AS quality
      |  FROM documents),
      |p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS pt FROM documents),
      |sc AS (SELECT doc_id,
      |  (length(pt)-length(replace(pt,' the ','')))/5 + (length(pt)-length(replace(pt,' a ','')))/3 + (length(pt)-length(replace(pt,' of ','')))/4 AS s_en,
      |  (length(pt)-length(replace(pt,' der ','')))/5 + (length(pt)-length(replace(pt,' und ','')))/5 + (length(pt)-length(replace(pt,' die ','')))/5 AS s_de,
      |  (length(pt)-length(replace(pt,' el ','')))/4 + (length(pt)-length(replace(pt,' la ','')))/4 + (length(pt)-length(replace(pt,' que ','')))/5 AS s_es,
      |  (length(pt)-length(replace(pt,' le ','')))/4 + (length(pt)-length(replace(pt,' et ','')))/4 + (length(pt)-length(replace(pt,' les ','')))/5 AS s_fr,
      |  (length(pt)-length(replace(pt,' zh ','')))/4 + (length(pt)-length(replace(pt,' zhong ','')))/7 + (length(pt)-length(replace(pt,' wen ','')))/5 AS s_zh
      |  FROM p),
      |lang AS (
      |  SELECT doc_id, CASE
      |    WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'en'
      |    WHEN s_de = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'de'
      |    WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'es'
      |    WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'fr'
      |    WHEN s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'zh'
      |    ELSE 'unknown' END AS pred_lang
      |  FROM sc),
      |dec AS (
      |  SELECT d.doc_id, CASE
      |    WHEN tok.n < 12 THEN 'too_short'
      |    WHEN tok.n > 100000 THEN 'too_long'
      |    WHEN lang.pred_lang = 'unknown' THEN 'lang_unknown'
      |    WHEN coalesce(ls.dup_line_frac, 0) > 0.08 THEN 'dup_lines'
      |    WHEN coalesce(bs.top_bigram_frac, 0) > 0.09 THEN 'repetitive_bigrams'
      |    WHEN q.quality < 50 THEN 'low_quality'
      |    ELSE 'keep' END AS reason
      |  FROM documents d
      |  JOIN tok ON d.doc_id = tok.doc_id
      |  JOIN q ON d.doc_id = q.doc_id
      |  JOIN lang ON d.doc_id = lang.doc_id
      |  LEFT JOIN ls ON d.doc_id = ls.doc_id
      |  LEFT JOIN bs ON d.doc_id = bs.doc_id)
      |SELECT doc_id, reason = 'keep' AS keep, reason FROM dec ORDER BY doc_id""".stripMargin

  /** The uncapped exact word-3-gram Jaccard >= 0.5 pair CTEs (norm, sh,
    * ex, prs, jac(a_id, b_id)) every Jaccard-pair oracle starts from. */
  private val jaccardPairsCte: String =
    """norm AS (
      |  SELECT doc_id AS id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT id, list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0)),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shl
      |  FROM norm),
      |ex AS (SELECT id, len(shl) AS sz, unnest(shl) AS shingle FROM sh),
      |prs AS (
      |  SELECT a.id AS a_id, b.id AS b_id, any_value(a.sz) AS a_size, any_value(b.sz) AS b_size, count(*) AS shared
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
      |  GROUP BY a.id, b.id),
      |jac AS (
      |  SELECT a_id, b_id FROM prs
      |  WHERE CAST(shared AS DOUBLE) / (a_size + b_size - shared) >= 0.5)""".stripMargin

  /** Decontamination = corpus docs with no exact word-3-gram
    * Jaccard >= 0.5 match to any eval-slice doc. Every candidacy stage of
    * Dedup.decontaminate has recall 1, so the exact SQL applies. Shared by
    * dedup_decontaminate and dedup_decontaminate_bloom (one operator). */
  private val decontaminateOracleSql: String =
    "WITH " + jaccardPairsCte + """
      |SELECT d.doc_id, d.lang FROM documents d
      |WHERE d.doc_id % 10 <> 0
      |  AND NOT EXISTS (
      |    SELECT 1 FROM jac j
      |    WHERE (j.a_id = d.doc_id AND j.b_id % 10 = 0)
      |       OR (j.b_id = d.doc_id AND j.a_id % 10 = 0))
      |ORDER BY d.doc_id""".stripMargin

  /** Contamination report: the same exact-Jaccard pairs, emitted instead
    * of anti-joined. Shared by dedup_decontaminate_report and
    * stream_decontaminate: the monitor emits exactly the batch report's
    * pairs under AvailableNow (stateless stream-static join). */
  private val decontaminateReportOracleSql: String =
    """WITH norm AS (
      |  SELECT doc_id AS id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT id, list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0)),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shl
      |  FROM norm),
      |ex AS (SELECT id, len(shl) AS sz, unnest(shl) AS shingle FROM sh),
      |prs AS (
      |  SELECT a.id AS corpus_id, b.id AS eval_id,
      |    any_value(a.sz) AS a_size, any_value(b.sz) AS b_size, count(*) AS shared
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle
      |  WHERE a.id % 10 <> 0 AND b.id % 10 = 0
      |  GROUP BY a.id, b.id)
      |SELECT corpus_id AS doc_id, eval_id,
      |  round(CAST(shared AS DOUBLE) / (a_size + b_size - shared), 4) AS jaccard
      |FROM prs
      |WHERE CAST(shared AS DOUBLE) / (a_size + b_size - shared) >= 0.5
      |ORDER BY doc_id, eval_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // RANGE frame over floored epoch seconds: peers (same second, same
    // user) are identical sets on both engines, and the frame sum is an
    // exact decimal — no float-accumulation order to align
    "q_window_range" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec, value
        |  FROM events)
        |SELECT event_id, user_id, sec,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY sec
        |    RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mv_sum,
        |  count(*) OVER (
        |    PARTITION BY user_id ORDER BY sec
        |    RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS mv_n
        |FROM e""".stripMargin,
    // brute-force twin of the prefix-filtered fuzzy join: the signature
    // equi-join's recall-1 guarantee means the candidate pruning must be
    // invisible — identical pair set, identical distances
    "q_fuzzy_join" ->
      """WITH d AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  levenshtein(a.p_name, b.p_name) AS dist
        |FROM d a JOIN d b ON a.p_name < b.p_name
        |WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,
    // the VARCHAR hop replicates Spark's double->decimal semantics
    // EXACTLY: Spark's Cast goes through BigDecimal(Double.toString(d))
    // — the shortest round-trip decimal repr — then HALF_UP at scale 10,
    // while DuckDB's direct cast rounds the exact binary value; the two
    // differ at the 10th decimal on ~1/1000 elements. Both engines print
    // doubles as shortest round-trip, so casting that string matches.
    "q_fuzzy_match" ->
      """WITH d AS (SELECT DISTINCT p_name FROM part),
        |p AS (SELECT DISTINCT p_name FROM part WHERE p_partkey % 7 = 0)
        |SELECT p.p_name AS probe, d.p_name AS name,
        |  levenshtein(p.p_name, d.p_name) AS dist
        |FROM p JOIN d ON abs(length(p.p_name) - length(d.p_name)) <= 2
        |WHERE levenshtein(p.p_name, d.p_name) <= 2
        |ORDER BY probe, name""".stripMargin,
    "corpus_centroids" ->
      """SELECT label, pos - 1 AS pos,
        |  CAST(sum(CAST(CAST(CAST(x AS DOUBLE) AS VARCHAR) AS DECIMAL(25,10))) AS DOUBLE)
        |    / count(*) AS mean_x,
        |  count(*) AS n
        |FROM (SELECT label, unnest(embedding) AS x,
        |        generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings WHERE embedding IS NOT NULL)
        |GROUP BY label, pos
        |ORDER BY label, pos""".stripMargin,
    "q_exists" ->
      """SELECT c_custkey,
        |  EXISTS (SELECT 1 FROM orders
        |          WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
        |    AS has_big_order
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    // build on days < max, append the max day, query the partials: the
    // result must equal this full batch aggregate bit-for-bit (integer
    // partials cannot drift)
    "q_rollup_incremental" -> rollupIncrementalOracleSql,
    // the streaming ingestion path (idempotent per-batch partial appends)
    // must land on the identical totals — same oracle verbatim
    "stream_rollup_incremental" -> rollupIncrementalOracleSql,
    // the heap's (price desc, orderkey asc) total order == this window
    "q_topk_per_group" ->
      """WITH rk AS (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,
    // integer cent totals + IGNORE NULLS carry-forward over the full
    // hourly spine — exact fill on both engines
    "q_gap_fill" ->
      """WITH ev AS (
        |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |    CAST(round(value * 100, 0) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |hourly AS (
        |  SELECT event_type, h, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(c) AS BIGINT) AS sc
        |  FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
        |spine AS (
        |  SELECT t.event_type, g.h
        |  FROM (SELECT DISTINCT event_type FROM ev) t, b,
        |    unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS g(h)),
        |filled AS (
        |  SELECT s.event_type, s.h, coalesce(hh.n_events, 0) AS n_events, hh.sc
        |  FROM spine s LEFT JOIN hourly hh
        |    ON s.event_type = hh.event_type AND s.h = hh.h)
        |SELECT event_type, h AS hour, CAST(n_events AS BIGINT) AS n_events,
        |  last_value(sc IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
        |FROM filled ORDER BY event_type, hour""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_intersect" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY o_custkey""".stripMargin,
    "q_except" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |EXCEPT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY o_custkey""".stripMargin,
    // melt as UNION ALL — metric names match Spark's unpivot (the source
    // column names), token count shares text_tokens' formulation
    "q_unpivot" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, metric, value FROM (
        |  SELECT doc_id, 'n_chars' AS metric, n_chars AS value FROM m
        |  UNION ALL
        |  SELECT doc_id, 'n_tokens' AS metric, n_tokens AS value FROM m)
        |ORDER BY doc_id, metric""".stripMargin,
    // centroid lists rebuilt with the same decimal-exact sums (VARCHAR
    // hop, see corpus_centroids), cosine against them via DuckDB's
    // double-accumulating list_cosine_similarity (order-matching: the
    // dedup_semantic precedent), argmax ties -> lowest label — exactly
    // the nearestCos kernel contract
    "corpus_assign" ->
      """WITH cent AS (
        |  SELECT label, list(mean_x ORDER BY pos) AS c FROM (
        |    SELECT label, pos,
        |      CAST(sum(CAST(CAST(CAST(x AS DOUBLE) AS VARCHAR) AS DECIMAL(25,10))) AS DOUBLE)
        |        / count(*) AS mean_x
        |    FROM (SELECT label, unnest(embedding) AS x,
        |            generate_subscripts(embedding, 1) AS pos
        |          FROM embeddings WHERE embedding IS NOT NULL)
        |    GROUP BY label, pos)
        |  GROUP BY label),
        |asg AS (
        |  SELECT e.vec_id, e.label, cent.label AS assigned,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cent.c) DESC,
        |        cent.label ASC) AS rn
        |  FROM embeddings e CROSS JOIN cent
        |  WHERE e.embedding IS NOT NULL)
        |SELECT vec_id, label, assigned FROM asg WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    "dedup_decontaminate_embedding" ->
      """WITH ev AS (
        |  SELECT embedding FROM embeddings
        |  WHERE vec_id % 10 = 0 AND embedding IS NOT NULL),
        |hits AS (
        |  SELECT c.vec_id, count(*) AS n_hits
        |  FROM embeddings c CROSS JOIN ev
        |  WHERE c.vec_id % 10 <> 0 AND c.embedding IS NOT NULL
        |    AND list_cosine_similarity(c.embedding, ev.embedding) >= 0.4
        |  GROUP BY c.vec_id)
        |SELECT c.vec_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  coalesce(h.n_hits, 0) = 0 AS keep
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 <> 0) c
        |LEFT JOIN hits h ON c.vec_id = h.vec_id
        |ORDER BY c.vec_id""".stripMargin,
    "q3_join_topk" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_multijoin" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q6_filter" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q_asof_join" ->
      """SELECT e.event_id, p.ts AS asof_ts
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
        |ASOF LEFT JOIN (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin,
    "q_range_join" ->
      """SELECT p.event_id, count(*) AS n_clicks
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type = 'click') c
        |ON p.user_id = c.user_id
        |  AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin,
    "q_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS UNBOUNDED PRECEDING) AS running_qty
        |FROM lineitem""".stripMargin,
    "q_events_json" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        |x AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM e)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)|\p{L}+|\p{N}+|[^\s\p{L}\p{N}]')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(length(text) AS BIGINT) AS len_chars
        |FROM documents""".stripMargin,
    // the lined CTE reconstructs linedDocs' 2-word-line text identically;
    // repetition stats then recomputed from first principles over it
    "text_repetition" ->
      """WITH w0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id, array_to_string(list_transform(
        |      generate_series(0, greatest(CAST(floor((len(w)-1)/2.0) AS BIGINT), 0)),
        |      i -> array_to_string(list_slice(w, i*2+1, i*2+2), ' ')), chr(10)) AS text
        |  FROM w0),
        |ln AS (
        |  SELECT doc_id, regexp_replace(l, '^[ \t\r\f]+|[ \t\r\f]+$', '', 'g') AS line
        |  FROM lined, unnest(string_split(text, chr(10))) AS u(l)),
        |lc AS (
        |  SELECT doc_id, line, count(*) AS cnt, len(line) AS lln
        |  FROM ln WHERE line <> '' GROUP BY doc_id, line),
        |ls AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
        |    CAST(sum(cnt) - count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS dup_line_frac,
        |    CAST(sum((cnt-1)*lln) AS DOUBLE) / CAST(sum(cnt*lln) AS DOUBLE) AS dup_line_char_frac
        |  FROM lc GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] AS b
        |  FROM w0, unnest(generate_series(1, len(w)-1)) AS g(i)),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
        |bs AS (
        |  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_bigram_frac
        |  FROM bc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(ls.n_lines, 0) AS n_lines,
        |  coalesce(ls.dup_line_frac, 0.0) AS dup_line_frac,
        |  coalesce(ls.dup_line_char_frac, 0.0) AS dup_line_char_frac,
        |  coalesce(bs.top_bigram_frac, 0.0) AS top_bigram_frac
        |FROM documents d
        |LEFT JOIN ls ON d.doc_id = ls.doc_id
        |LEFT JOIN bs ON d.doc_id = bs.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // same lined construction; boilerplate = normalized line in >= 10
    // distinct docs; reassembly preserves original line order
    "dedup_lines" ->
      """WITH w0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id, array_to_string(list_transform(
        |      generate_series(0, greatest(CAST(floor((len(w)-1)/2.0) AS BIGINT), 0)),
        |      i -> array_to_string(list_slice(w, i*2+1, i*2+2), ' ')), chr(10)) AS text
        |  FROM w0),
        |lx AS (
        |  SELECT doc_id, ls, i AS idx, ls[i] AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
        |       unnest(generate_series(1, len(ls))) AS g(i)),
        |fp AS (
        |  SELECT doc_id, idx, line,
        |    md5(trim(regexp_replace(lower(line), '\s+', ' ', 'g'))) AS f,
        |    trim(regexp_replace(lower(line), '\s+', ' ', 'g')) AS nrm
        |  FROM lx),
        |hot AS (
        |  SELECT f FROM fp WHERE nrm <> ''
        |  GROUP BY f HAVING count(DISTINCT doc_id) >= 10),
        |kept AS (SELECT doc_id, idx, line FROM fp WHERE f NOT IN (SELECT f FROM hot)),
        |re AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY idx) AS cleaned
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines FROM lined)
        |SELECT t.doc_id, t.n_lines,
        |  coalesce(CAST(re.n_kept AS BIGINT), 0) AS n_kept,
        |  t.n_lines - coalesce(CAST(re.n_kept AS BIGINT), 0) AS n_dropped,
        |  md5(coalesce(re.cleaned, '')) AS cleaned_key
        |FROM tot t LEFT JOIN re ON t.doc_id = re.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // identical synthetic contact-info injection, counts on the raw text,
    // then the same email -> IP -> phone replacement chain
    "text_pii_scrub" ->
      """WITH withpii AS (
        |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@mail.example.com or +15551' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |    ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(text, '\+\d{7,15}')) AS BIGINT) AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{7,15}', '<PHONE>', 'g')) AS scrubbed_key
        |FROM withpii ORDER BY doc_id""".stripMargin,
    // markup extraction: the oracle rebuilds the identical synthetic page
    // and applies the identical RE2-safe regex chain — script/style blocks
    // first (contents removed), then tags, then entities (ampersand LAST),
    // then whitespace collapse. Same patterns, same order, any engine.
    "text_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><script type="text/javascript">var x = 1 < 2 && 3 > 0;</script><style>.main { color: #333; }</style></head><body><div class="main"><p>' ||
        |    text ||
        |    '</p><br/><a href="https://example.com/?a=1&amp;b=2">link &lt;here&gt;</a> &nbsp;&quot;q&quot; &amp; &#39;s&#39;</div></body></html>' AS html
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, html,
        |    trim(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        regexp_replace(regexp_replace(regexp_replace(html,
        |          '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '<[^>]+>', ' ', 'g'),
        |          '&lt;', '<', 'g'),
        |          '&gt;', '>', 'g'),
        |          '&quot;', '"', 'g'),
        |          '&#39;', '''', 'g'),
        |          '&nbsp;', ' ', 'g'),
        |      '&amp;', '&', 'g'),
        |      '\s+', ' ', 'g')) AS clean_text
        |  FROM h)
        |SELECT doc_id, regexp_extract(html, '(?s)<title>(.*?)</title>', 1) AS title,
        |  clean_text, CAST(length(clean_text) AS BIGINT) AS n_chars
        |FROM c ORDER BY doc_id""".stripMargin,
    // the same decomposed-accent injection, then DuckDB's OWN
    // nfc_normalize/strip_accents — two independent UAX #15
    // implementations must agree byte-for-byte
    "text_normalize" ->
      """WITH i AS (
        |  SELECT doc_id, text,
        |    replace(replace(text, 'a', 'a' || chr(769)), 'n', 'n' || chr(771)) AS inj
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, nfc_normalize(inj) AS nfc, strip_accents(inj) AS stripped,
        |  CAST(length(inj) - length(nfc_normalize(inj)) AS BIGINT) AS n_marks,
        |  (strip_accents(inj) = text) AS roundtrip
        |FROM i ORDER BY doc_id""".stripMargin,
    // bigram counts recomputed globally in SQL; per-doc score = left-fold
    // of count*ln(smoothed P) over ASCENDING codes (list ORDER BY code +
    // list_reduce), mirroring the kernel's accumulation order exactly;
    // ln()'s last ulp absorbed by round(..., 6)
    "text_perplexity" ->
      """WITH codes AS (
        |  SELECT doc_id, list_transform(range(1, len(text)+1), i -> least(unicode(text[i]), 127)) AS cs
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, cs[i]*128 + cs[i+1] AS code
        |  FROM codes, unnest(generate_series(1, len(cs)-1)) AS g(i)),
        |cnt AS (SELECT code, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY code),
        |rowtot AS (SELECT code // 128 AS a, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY 1),
        |docbg AS (SELECT doc_id, code, CAST(count(*) AS BIGINT) AS dc FROM bg GROUP BY doc_id, code),
        |terms AS (
        |  SELECT d.doc_id, d.code, d.dc,
        |    d.dc * ln((CAST(cnt.c AS DOUBLE) + 1) / (CAST(rowtot.tot AS DOUBLE) + 128)) AS term
        |  FROM docbg d JOIN cnt USING (code) JOIN rowtot ON d.code // 128 = rowtot.a),
        |score AS (
        |  SELECT doc_id, CAST(sum(dc) AS BIGINT) AS n_bigrams,
        |    list_reduce(list(term ORDER BY code), (x, y) -> x + y) AS s
        |  FROM terms GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, round(s / CAST(n_bigrams AS DOUBLE), 6) AS avg_logprob
        |FROM score ORDER BY doc_id""".stripMargin,
    // 32-word windows, stride 24; list_slice clamps at the end like slice
    "corpus_chunk" ->
      """WITH w0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS chunk_idx,
        |    list_slice(w, i*24+1, least(i*24+32, len(w))) AS c
        |  FROM w0, unnest(generate_series(0,
        |    greatest(CAST(floor((len(w) - 32 + 23)/24.0) AS BIGINT), 0))) AS g(i)
        |  WHERE len(w) > 0)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(c) AS BIGINT) AS n_words,
        |  md5(array_to_string(c, ' ')) AS chunk_key
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, CAST(
        |  greatest(0, least(100,
        |    least(len(regexp_split_to_array(text, '\s+')), 50)
        |    + floor(len(list_distinct(regexp_split_to_array(text, '\s+'))) * 40.0
        |            / greatest(len(regexp_split_to_array(text, '\s+')), 1))
        |    - least(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')), 10)
        |    + 10)) AS INTEGER) AS quality
        |FROM documents""".stripMargin,
    "text_langid" ->
      """WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS pt FROM documents),
        |s AS (SELECT doc_id,
        |  (length(pt)-length(replace(pt,' the ','')))/5 + (length(pt)-length(replace(pt,' a ','')))/3 + (length(pt)-length(replace(pt,' of ','')))/4 AS s_en,
        |  (length(pt)-length(replace(pt,' der ','')))/5 + (length(pt)-length(replace(pt,' und ','')))/5 + (length(pt)-length(replace(pt,' die ','')))/5 AS s_de,
        |  (length(pt)-length(replace(pt,' el ','')))/4 + (length(pt)-length(replace(pt,' la ','')))/4 + (length(pt)-length(replace(pt,' que ','')))/5 AS s_es,
        |  (length(pt)-length(replace(pt,' le ','')))/4 + (length(pt)-length(replace(pt,' et ','')))/4 + (length(pt)-length(replace(pt,' les ','')))/5 AS s_fr,
        |  (length(pt)-length(replace(pt,' zh ','')))/4 + (length(pt)-length(replace(pt,' zhong ','')))/7 + (length(pt)-length(replace(pt,' wen ','')))/5 AS s_zh
        |FROM p)
        |SELECT doc_id, CASE
        |  WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'en'
        |  WHEN s_de = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'de'
        |  WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'es'
        |  WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'fr'
        |  WHEN s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'zh'
        |  ELSE 'unknown' END AS pred_lang
        |FROM s""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_key,
        |  min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_key""".stripMargin,
    // the canonical form derived from the residue formula, never by
    // parsing — scheme case, :443, trailing slash, param order, and utm_*
    // must all vanish through the engine's kernel for the groups to match
    "dedup_url" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example.com/p' || CAST(doc_id % 7 AS VARCHAR)
        |      || '?ref=' || CAST(doc_id % 7 AS VARCHAR) AS canonical_url
        |  FROM documents)
        |SELECT canonical_url, min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,
    "dedup_ngram_jaccard" ->
      ("WITH " + jaccardPairsCte + "\nSELECT a_id, b_id FROM jac ORDER BY a_id, b_id"),
    "infer_render" ->
      """SELECT doc_id,
        |  coalesce(CAST(source AS VARCHAR), '') || ' | ' || coalesce(CAST(lang AS VARCHAR), '') || ' | ' || coalesce(CAST(text AS VARCHAR), '') AS prompt
        |FROM documents""".stripMargin,
    "infer_echo" ->
      """SELECT doc_id, substr(coalesce(text, ''), 1, 100) AS inference_result
        |FROM documents""".stripMargin,
    "infer_structured" ->
      """SELECT doc_id, CAST(length(coalesce(text,'')) % 11 AS BIGINT) AS score
        |FROM documents""".stripMargin,
    "classify_keyword" ->
      """SELECT doc_id, CASE
        |  WHEN contains(lower(coalesce(text,'')), 'join') THEN 'join'
        |  WHEN contains(lower(coalesce(text,'')), 'window') THEN 'window'
        |  WHEN contains(lower(coalesce(text,'')), 'stream') THEN 'stream'
        |  ELSE 'other' END AS classification_result
        |FROM documents""".stripMargin,
    "score_judge" ->
      """SELECT doc_id, 1 + length(coalesce(text,'')) % 5 AS score
        |FROM documents""".stripMargin,
    "truncate_tokens" ->
      """SELECT doc_id, CASE WHEN len(regexp_split_to_array(text, '\s+')) <= 20 THEN text
        |  ELSE array_to_string((regexp_split_to_array(text, '\s+'))[1:20], ' ') END AS truncated
        |FROM documents""".stripMargin,
    "results_join" ->
      """SELECT doc_id, text, lang, source, n_chars,
        |  substr(coalesce(text, ''), 1, 50) AS inference_result
        |FROM documents ORDER BY doc_id""".stripMargin,
    "rank_options" ->
      """SELECT doc_id,
        |  CASE WHEN length(coalesce(text,'')) > length(coalesce(source,''))
        |    THEN 'opt_text,opt_src' ELSE 'opt_src,opt_text' END AS ranking_str,
        |  CASE WHEN length(coalesce(text,'')) > length(coalesce(source,''))
        |    THEN 'opt_text' ELSE 'opt_src' END AS winner
        |FROM documents""".stripMargin,
    "dedup_embedding" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,
    // SemDeDup from first principles: the first k md5-order leaders (k by
    // semdedupKFor's rule max(8, ceil(sqrt(n/8))) over the non-null
    // vectors), argmax-cosine assignment (ties -> lowest leader index),
    // within-cluster pairs, recursive-CTE components, min-id keepers.
    "dedup_semantic" ->
      """WITH RECURSIVE nk AS (
        |  SELECT greatest(8, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE) / 8.0)) AS BIGINT)) AS k
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |ld AS (
        |  SELECT embedding, idx FROM (
        |    SELECT embedding,
        |      row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS idx
        |    FROM embeddings WHERE embedding IS NOT NULL)
        |  WHERE idx < (SELECT k FROM nk)),
        |asg AS (
        |  SELECT e.vec_id, e.embedding, ld.idx,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding, ld.embedding) DESC, ld.idx ASC) AS rn
        |  FROM embeddings e CROSS JOIN ld
        |  WHERE e.embedding IS NOT NULL),
        |cl AS (SELECT vec_id, embedding, idx AS cluster FROM asg WHERE rn = 1),
        |prs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM cl a JOIN cl b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4),
        |edges AS (SELECT a_id AS u, b_id AS v FROM prs UNION SELECT b_id, a_id FROM prs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |compn AS (SELECT u AS id, least(u, min(v)) AS comp FROM reach GROUP BY u)
        |SELECT cl.vec_id, cl.cluster, (compn.comp IS NULL OR compn.comp = cl.vec_id) AS keep
        |FROM cl LEFT JOIN compn ON cl.vec_id = compn.id
        |ORDER BY cl.vec_id""".stripMargin,
    // ADC numeric core recomputed from FIRST PRINCIPLES with the trained
    // codebooks as literals (deterministic: hash-sample + seeded Lloyd's —
    // the elo/perplexity baked-literal convention): per-vector encode is
    // argmin over codewords of the sub-space squared distance (ordered
    // i-ascending fold, ties -> smallest code, matching the kernel), the
    // query table is the same distances, and ADC is the j-ascending fold
    // of the table entries the codes select — bit-identical accumulation.
    "ann_pq_adc" ->
      ("""WITH cb AS (SELECT [""" + pqCodebookLiteral + """]::DOUBLE[] AS v),
        |dists AS (
        |  SELECT e.vec_id, j.j, c.c,
        |    list_reduce(list_transform(range(0, 8), i ->
        |      (CAST(e.embedding[j.j*8 + i + 1] AS DOUBLE) - cb.v[(j.j*16 + c.c)*8 + i + 1]) *
        |      (CAST(e.embedding[j.j*8 + i + 1] AS DOUBLE) - cb.v[(j.j*16 + c.c)*8 + i + 1])),
        |      (x, y) -> x + y) AS dist
        |  FROM embeddings e, cb, range(0, 8) j(j), range(0, 16) c(c)),
        |codes AS (
        |  SELECT vec_id, j, c AS code
        |  FROM (SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist ASC, c ASC) AS rk FROM dists)
        |  WHERE rk = 1),
        |adc AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    list_reduce(list(q.dist ORDER BY n.j), (x, y) -> x + y) AS araw
        |  FROM codes n JOIN dists q ON q.j = n.j AND q.c = n.code
        |  WHERE q.vec_id < 10 AND q.vec_id <> n.vec_id
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT query_id, neighbor_id, round(araw, 6) AS adc_dist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY round(araw, 6) ASC, neighbor_id ASC) AS rnk
        |  FROM adc)
        |SELECT query_id, neighbor_id, adc_dist, CAST(rnk AS INTEGER) AS "rank"
        |FROM rk WHERE rnk <= 50 ORDER BY query_id, rnk""").stripMargin,
    "ann_range" -> annRangeOracleSql,
    // full-recall operating point: the exact radius oracle verbatim
    "ann_range_lsh" -> annRangeOracleSql,
    // payload bytes are a pure function of (doc_id % 4, utf8(text)) with
    // the body embedded verbatim, so byte-equality groups == these groups
    "multimodal_dedup" ->
      """SELECT min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY doc_id % 4, text
        |ORDER BY keeper_id""".stripMargin,
    // pooled values recomputed from the pixel formula
    // p(x,y) = (x*31 + y*17 + doc_id*13) mod 256 — the engine's kernel
    // must parse the same dims from header bytes and pool identically
    "multimodal_resize" ->
      """WITH g AS (
        |  SELECT doc_id, (8 + doc_id % 5) // 2 AS ow, (6 + doc_id % 3) // 2 AS oh
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, ow, oh, x, y,
        |    (((2*x)*31   + (2*y)*17   + doc_id*13) % 256
        |   + ((2*x+1)*31 + (2*y)*17   + doc_id*13) % 256
        |   + ((2*x)*31   + (2*y+1)*17 + doc_id*13) % 256
        |   + ((2*x+1)*31 + (2*y+1)*17 + doc_id*13) % 256) // 4 AS pooled
        |  FROM g, unnest(generate_series(0, ow - 1)) sx(x),
        |    unnest(generate_series(0, oh - 1)) sy(y))
        |SELECT doc_id, CAST(max(ow) AS BIGINT) AS out_w, CAST(max(oh) AS BIGINT) AS out_h,
        |  CAST(sum(pooled * (1 + x + y * ow)) AS BIGINT) AS pool_checksum
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // frame checksums recomputed from the pixel formula
    // p(x,y,f) = (x*31 + y*17 + f*7 + doc_id*13) mod 256; the engine's
    // kernel must parse the same dims from header bytes, address each
    // sampled frame plane, and position-weight identically
    "multimodal_frames" ->
      """WITH dims AS (
        |  SELECT doc_id, 6 + doc_id % 4 AS w, 4 + doc_id % 3 AS h, 8 + doc_id % 5 AS nf
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, w, h, f FROM dims, unnest(generate_series(0, nf - 1)) AS s(f)
        |  WHERE f % 3 = 0),
        |px AS (
        |  SELECT doc_id, f, x, y, w FROM fr,
        |    unnest(generate_series(0, w - 1)) AS sx(x),
        |    unnest(generate_series(0, h - 1)) AS sy(y)),
        |ck AS (
        |  SELECT doc_id, f,
        |    CAST(sum(((x*31 + y*17 + f*7 + doc_id*13) % 256) * (1 + x + y*w)) AS BIGINT) AS frame_checksum
        |  FROM px GROUP BY doc_id, f)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, frame_checksum
        |FROM ck ORDER BY doc_id, frame_idx""".stripMargin,
    // every *_full entry runs where its approximation vanishes (nprobe =
    // nlist, rerank = N), and ann_lsh / knn_label_lsh at full recall, so
    // the exact brute-force oracles apply verbatim
    "ann_bruteforce" -> annExactTop5OracleSql,
    "ann_ivf_full" -> annExactTop5OracleSql,
    "ann_pq_full" -> annExactTop5OracleSql,
    "ann_sq_full" -> annExactTop5OracleSql,
    "ann_ivfpq_full" -> annExactTop5OracleSql,
    // the persistent index probed exhaustively: build, partitioning, code
    // round-trip, probe join and re-rank against the exact oracle; the
    // append variant grows a half-corpus index by the other half first
    "ann_ivfpq_query_full" -> annExactTop5OracleSql,
    "ann_ivfpq_append_full" -> annExactTop5OracleSql,
    // tombstoned (vec_id % 5 = 0) vectors must be invisible, before and
    // after compaction folds them into the cell partitions
    "ann_ivfpq_remove_full" -> annRetainedTop5OracleSql,
    "ann_ivfpq_compact_full" -> annRetainedTop5OracleSql,
    "ann_lsh" -> annExactTop5OracleSql,
    "knn_label" -> knnVoteOracleSql,
    "knn_label_lsh" -> knnVoteOracleSql,
    "stream_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_key,
        |  min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_key""".stripMargin,
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        |x AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM e)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin,
    // session_window merge semantics equal the lag formulation (an event
    // joins its predecessor's session iff ts <= prev + gap), so the same
    // oracle applies
    "stream_sessionize_sw" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        |x AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM e)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin,
    // left-outer variant: unmatched clicks surface as null purchase
    // columns once the purchase-side state watermark passes their join
    // window — under AvailableNow single-batch real data that equals the
    // batch left join. NULLS FIRST mirrors Spark's asc_nulls_first.
    "stream_join_outer" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase')
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
        |  c.ts AS click_ts, p.ts AS purchase_ts
        |FROM c LEFT JOIN p ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin,
    // stream-stream join under AvailableNow single-batch real data = the
    // batch join (watermarks only bound state, never drop in-batch rows)
    "stream_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events)
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
        |  c.ts AS click_ts, p.ts AS purchase_ts
        |FROM e c JOIN e p ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,
    "stream_window_agg" ->
      """SELECT time_bucket(INTERVAL '1' HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // the k-heap keeps (value desc, event_id asc) — identical to this
    // rank-by-window batch formulation; ids only, no float emit
    "stream_window_topk" ->
      """WITH e AS (
        |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT time_bucket(INTERVAL '1' HOUR, ts) AS window_start, event_id,
        |    row_number() OVER (PARTITION BY time_bucket(INTERVAL '1' HOUR, ts)
        |      ORDER BY value DESC, event_id) AS rank
        |  FROM e)
        |SELECT window_start, CAST(rank AS BIGINT) AS rank, event_id
        |FROM r WHERE rank <= 5 ORDER BY window_start, rank""".stripMargin,
    // append mode emits each window exactly once when the watermark passes
    // it, so the emitted set equals the batch aggregation — same oracle.
    "stream_window_agg_append" ->
      """SELECT time_bucket(INTERVAL '1' HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // kernel tokenization = lower, split \s+, drop empties; ngrams carry
    // multiplicity. (cnt DESC, ngram ASC) is a total order, so the top-50
    // cut is identical on both engines.
    "corpus_ngrams" ->
      """WITH w0 AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS ngram
        |  FROM w0, unnest(generate_series(1, greatest(len(w)-2, 0))) AS s(i))
        |SELECT ngram, count(*) AS cnt FROM g GROUP BY ngram
        |ORDER BY cnt DESC, ngram LIMIT 50""".stripMargin,
    // the 10 BPE iterations unrolled as a CTE chain — same argmax
    // tie-break, same replace scan semantics (see bpeOracle)
    "corpus_bpe" -> bpeOracle(10),
    "corpus_bpe_tokenize" -> bpeTokenizeOracle(10),
    // Misra-Gries at capacity >= vocabulary is exact, so the plain
    // word-count top-k IS the oracle (same tokenization as corpus_ngrams)
    "corpus_heavy_hitters" ->
      """WITH w0 AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT w[i] AS word
        |  FROM w0, unnest(generate_series(1, len(w))) AS s(i))
        |SELECT word, count(*) AS cnt FROM g GROUP BY word
        |ORDER BY cnt DESC, word LIMIT 25""".stripMargin,
    // the streaming twin runs the identical MG aggregate at the same
    // exact operating point — the batch oracle applies verbatim
    "stream_heavy_hitters" ->
      """WITH w0 AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT w[i] AS word
        |  FROM w0, unnest(generate_series(1, len(w))) AS s(i))
        |SELECT word, count(*) AS cnt FROM g GROUP BY word
        |ORDER BY cnt DESC, word LIMIT 25""".stripMargin,
    // both the exact Jaccard AND the MinHash estimate are recomputed:
    // permutation i's hash is the first 15 hex chars of md5(i || ':' ||
    // key) — identical integers on both engines, so min-agreement is
    // bit-exact, not statistically close
    "corpus_overlap" ->
      """WITH ka AS (
        |  SELECT DISTINCT md5(text) AS key FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 2 = 0),
        |kb AS (
        |  SELECT DISTINCT md5(text) AS key FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 3 = 0),
        |c AS (
        |  SELECT CAST((SELECT count(*) FROM ka) AS BIGINT) AS n_a,
        |    CAST((SELECT count(*) FROM kb) AS BIGINT) AS n_b,
        |    CAST((SELECT count(*) FROM ka JOIN kb USING (key)) AS BIGINT) AS n_inter),
        |ma AS (
        |  SELECT i, min(CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || key), 1, 15)) AS BIGINT)) AS ha
        |  FROM ka, unnest(generate_series(0, 63)) AS s(i) GROUP BY i),
        |mb AS (
        |  SELECT i, min(CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || key), 1, 15)) AS BIGINT)) AS hb
        |  FROM kb, unnest(generate_series(0, 63)) AS s(i) GROUP BY i),
        |e AS (
        |  SELECT round(CAST(sum(CASE WHEN ha = hb THEN 1 ELSE 0 END) AS DOUBLE) / 64.0, 6) AS jaccard_est
        |  FROM ma JOIN mb USING (i))
        |SELECT n_a, n_b, n_inter,
        |  round(CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter), 6) AS jaccard_exact,
        |  jaccard_est
        |FROM c, e""".stripMargin,
    "corpus_pagerank" -> pagerankOracle(5),
    // weighted sampling: 2^32 md5 bucket in [0,10000) accepted below
    // quality*100 — all-integer, so the same rows survive on any engine
    // thresholds recomputed with the IDENTICAL double-op sequence (sqrt
    // correctly rounded IEEE on both engines; Z folds in lang sort order;
    // left-assoc divides), then integer md5-bucket acceptance — exact
    "corpus_temperature_sample" ->
      """WITH cnt AS (
        |  SELECT lang, count(*) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    list_reduce(list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang),
        |      (x, y) -> x + y) AS z
        |  FROM cnt),
        |thr AS (
        |  SELECT lang,
        |    CAST(floor(least(1.0,
        |      (0.5 * nn) * sqrt(CAST(n AS DOUBLE)) / z / n) * 4294967296.0) AS BIGINT) AS t
        |  FROM cnt, tot)
        |SELECT d.doc_id, d.lang FROM documents d JOIN thr ON d.lang = thr.lang
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) < thr.t
        |ORDER BY d.doc_id""".stripMargin,
    "corpus_weighted_sample" ->
      """WITH q AS (
        |  SELECT doc_id, lang, CAST(greatest(0, least(100,
        |    least(len(regexp_split_to_array(text, '\s+')), 50)
        |    + floor(len(list_distinct(regexp_split_to_array(text, '\s+'))) * 40.0
        |            / greatest(len(regexp_split_to_array(text, '\s+')), 1))
        |    - least(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')), 10)
        |    + 10)) AS BIGINT) AS quality
        |  FROM documents)
        |SELECT doc_id, lang, quality FROM q
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
        |  < quality * 100
        |ORDER BY doc_id""".stripMargin,
    // PMI = ln(c_ab*T*T / (B*c_a*c_b)) with the same left-to-right double
    // multiplication order on both engines; round(6) absorbs the ln ulp
    "corpus_cooccurrence" ->
      """WITH w0 AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |uni AS (
        |  SELECT u AS w, count(*) AS c FROM w0, unnest(w) AS t(u) GROUP BY u),
        |bgr AS (
        |  SELECT w[i] || ' ' || w[i+1] AS bigram, w[i] AS w1, w[i+1] AS w2
        |  FROM w0, unnest(generate_series(1, greatest(len(w)-1, 0))) AS s(i)),
        |bc AS (
        |  SELECT bigram, any_value(w1) AS w1, any_value(w2) AS w2, count(*) AS c_ab
        |  FROM bgr GROUP BY bigram),
        |tot AS (
        |  SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uni) AS t,
        |         (SELECT CAST(sum(c_ab) AS DOUBLE) FROM bc) AS b)
        |SELECT bc.bigram, CAST(bc.c_ab AS BIGINT) AS cnt,
        |  round(ln((CAST(bc.c_ab AS DOUBLE) * tot.t * tot.t) / (tot.b * ua.c * ub.c)), 6) AS pmi
        |FROM bc CROSS JOIN tot
        |JOIN uni ua ON ua.w = bc.w1
        |JOIN uni ub ON ub.w = bc.w2
        |WHERE bc.c_ab >= 3
        |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin,
    // quantile_cont and Spark's exact percentile share the (n-1)*p
    // linear-interpolation definition; round(4) absorbs the last ulp
    "corpus_quantiles" ->
      """SELECT lang, count(*) AS n_docs,
        |  round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 4) AS q25,
        |  round(quantile_cont(CAST(n_chars AS DOUBLE), 0.50), 4) AS q50,
        |  round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 4) AS q75,
        |  round(quantile_cont(CAST(n_chars AS DOUBLE), 0.95), 4) AS q95
        |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
    // dup_rate from exact integer counts; count(DISTINCT) skips null
    // fingerprints on both engines
    "corpus_dupe_profile" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS BIGINT) AS n_distinct,
        |  round(1.0 - CAST(count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS DOUBLE)
        |    / count(*), 4) AS dup_rate
        |FROM documents GROUP BY source ORDER BY source NULLS FIRST""".stripMargin,
    "corpus_stats" ->
      """WITH s AS (
        |  SELECT lang, source,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS toks,
        |    CAST(greatest(0, least(100,
        |      least(len(regexp_split_to_array(text, '\s+')), 50)
        |      + floor(len(list_distinct(regexp_split_to_array(text, '\s+'))) * 40.0
        |              / greatest(len(regexp_split_to_array(text, '\s+')), 1))
        |      - least(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')), 10)
        |      + 10)) AS BIGINT) AS q
        |  FROM documents)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(q) AS DOUBLE) / count(*), 4) AS avg_quality
        |FROM s GROUP BY ROLLUP (lang, source)
        |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,
    // md5-derived bucket: reproducible in any engine with md5(varchar) —
    // the cross-engine determinism IS the operator's contract.
    "corpus_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 20
        |ORDER BY doc_id""".stripMargin,
    "corpus_pack" ->
      """SELECT source, doc_id,
        |  CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(floor(coalesce(sum(CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)) OVER (
        |    PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS seq_id
        |FROM documents ORDER BY source, doc_id""".stripMargin,
    "dedup_decontaminate" -> decontaminateOracleSql,
    // n-gram-collision decontamination: contaminated = shares >= 1 word
    // 8-gram with the eval slice's n-gram union. The oracle matches on the
    // n-gram STRINGS; the Spark side matches 64-bit fingerprints of the
    // same token windows — identical sets (an fp collision would hash-fail
    // the compare, which is itself evidence none occurred).
    "dedup_decontaminate_ngram" ->
      """WITH norm AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w)-7, 0)),
        |    i -> array_to_string(list_slice(w, i, i+7), ' '))) AS gs
        |  FROM norm),
        |ev AS (SELECT DISTINCT unnest(gs) AS g FROM gr WHERE doc_id % 10 = 0),
        |hits AS (
        |  SELECT c.doc_id FROM (SELECT doc_id, unnest(gs) AS g FROM gr WHERE doc_id % 10 <> 0) c
        |  JOIN ev USING (g) GROUP BY c.doc_id HAVING count(*) >= 1)
        |SELECT d.doc_id, d.lang FROM documents d
        |WHERE d.doc_id % 10 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM hits)
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_decontaminate_bloom" -> decontaminateOracleSql,
    // exact-substring spans from first principles: positional 5-grams
    // (1-based i converts to the kernel's 0-based word offsets), corpus-
    // wide occurrence count >= 2, gaps-and-islands span merge. A span
    // closes when the next duplicated 5-gram starts more than 5 words
    // after the previous one.
    "dedup_substring" ->
      """WITH w0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |pos AS (
        |  SELECT doc_id, i, array_to_string(w[i:i+4], ' ') AS ng
        |  FROM w0, unnest(generate_series(1, greatest(len(w)-4, 0))) AS s(i)),
        |dup AS (SELECT ng FROM pos GROUP BY ng HAVING count(*) >= 2),
        |hits AS (SELECT doc_id, i FROM pos JOIN dup USING (ng)),
        |brk AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 5
        |      THEN 0 ELSE 1 END AS b
        |  FROM hits),
        |grp AS (
        |  SELECT doc_id, i, sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS g
        |  FROM brk)
        |SELECT doc_id, min(i) - 1 AS span_start, max(i) + 4 AS span_end,
        |  max(i) + 4 - (min(i) - 1) AS span_words
        |FROM grp GROUP BY doc_id, g ORDER BY doc_id, span_start""".stripMargin,
    // incremental probe vs the persisted corpus index: per delta doc
    // (doc_id % 10 = 0) the verdict against the corpus (doc_id % 10 <> 0) —
    // exact = identical normalized content (match = min such corpus id,
    // jaccard 1.0 by definition); near = exact word-3-gram Jaccard >= 0.5
    // (match = min such corpus id, that pair's rounded score); else new.
    // Shared-shingle candidacy has recall 1, so the exact SQL applies.
    // brute-force exact/cosine twin of the persistent-embedding-index
    // probe: the full-recall operating point (bits=3, tables=48) makes
    // bucket candidacy invisible — a miss at cos >= 0.4 has probability
    // ~1e-6 per pair; 'near' excludes exact-matched deltas as the probe
    // does; status/match must agree row-for-row
    "dedup_embedding_incremental" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id % 10 <> 0 AND embedding IS NOT NULL),
        |delta AS (
        |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
        |  WHERE vec_id % 20 = 1 AND embedding IS NOT NULL
        |  UNION ALL
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id % 10 = 0 AND embedding IS NOT NULL),
        |ex AS (
        |  SELECT d.vec_id, min(c.vec_id) AS m
        |  FROM delta d JOIN corpus c ON d.embedding = c.embedding
        |  GROUP BY d.vec_id),
        |nr AS (
        |  SELECT d.vec_id, min(c.vec_id) AS m
        |  FROM delta d JOIN corpus c
        |    ON list_cosine_similarity(d.embedding, c.embedding) >= 0.4
        |  WHERE d.vec_id NOT IN (SELECT vec_id FROM ex)
        |  GROUP BY d.vec_id)
        |SELECT d.vec_id,
        |  CASE WHEN ex.m IS NOT NULL THEN 'exact'
        |       WHEN nr.m IS NOT NULL THEN 'near' ELSE 'new' END AS status,
        |  coalesce(ex.m, nr.m) AS match_id
        |FROM delta d
        |LEFT JOIN ex ON d.vec_id = ex.vec_id
        |LEFT JOIN nr ON d.vec_id = nr.vec_id
        |ORDER BY d.vec_id""".stripMargin,
    "dedup_incremental" ->
      """WITH norm AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (
        |  SELECT doc_id, md5(nt) AS ck,
        |    list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0)),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shl
        |  FROM norm),
        |ex AS (SELECT doc_id, len(shl) AS sz, unnest(shl) AS shingle FROM sh),
        |prs AS (
        |  SELECT d.doc_id AS d_id, c.doc_id AS c_id,
        |    any_value(d.sz) AS d_sz, any_value(c.sz) AS c_sz, count(*) AS shared
        |  FROM ex d JOIN ex c ON d.shingle = c.shingle
        |  WHERE d.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
        |  GROUP BY d.doc_id, c.doc_id),
        |jac AS (
        |  SELECT d_id, c_id, CAST(shared AS DOUBLE) / (d_sz + c_sz - shared) AS j
        |  FROM prs),
        |exact AS (
        |  SELECT d.doc_id AS d_id, min(c.doc_id) AS m
        |  FROM sh d JOIN sh c ON d.ck = c.ck
        |  WHERE d.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
        |  GROUP BY d.doc_id),
        |near AS (
        |  SELECT d_id, min(c_id) AS m FROM jac WHERE j >= 0.5 GROUP BY d_id),
        |nearj AS (
        |  SELECT n.d_id, n.m, round(any_value(j.j), 4) AS jj
        |  FROM near n JOIN jac j ON j.d_id = n.d_id AND j.c_id = n.m
        |  GROUP BY n.d_id, n.m)
        |SELECT d.doc_id,
        |  CASE WHEN e.m IS NOT NULL THEN 'exact'
        |       WHEN nj.m IS NOT NULL THEN 'near' ELSE 'new' END AS status,
        |  coalesce(e.m, nj.m) AS match_id,
        |  CASE WHEN e.m IS NOT NULL THEN CAST(1.0 AS DOUBLE)
        |       WHEN nj.m IS NOT NULL THEN nj.jj END AS jaccard
        |FROM documents d
        |LEFT JOIN exact e ON e.d_id = d.doc_id
        |LEFT JOIN nearj nj ON nj.d_id = d.doc_id
        |WHERE d.doc_id % 10 = 0 AND d.text IS NOT NULL
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_decontaminate_report" -> decontaminateReportOracleSql,
    // substring-dedup application: rebuild each document from the raw
    // (case-preserving) tokens whose 1-based position j is covered by no
    // span [min(i), max(i)+4] (the 1-based closed form of the kernel's
    // 0-based [start, end) offsets)
    "dedup_substring_apply" ->
      """WITH w0 AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS wr
        |  FROM documents WHERE text IS NOT NULL),
        |pos AS (
        |  SELECT doc_id, i, array_to_string(w[i:i+4], ' ') AS ng
        |  FROM w0, unnest(generate_series(1, greatest(len(w)-4, 0))) AS s(i)),
        |dup AS (SELECT ng FROM pos GROUP BY ng HAVING count(*) >= 2),
        |hits AS (SELECT doc_id, i FROM pos JOIN dup USING (ng)),
        |brk AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 5
        |      THEN 0 ELSE 1 END AS b
        |  FROM hits),
        |grp AS (
        |  SELECT doc_id, i, sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS g
        |  FROM brk),
        |spans AS (SELECT doc_id, min(i) AS s1, max(i) + 4 AS e1 FROM grp GROUP BY doc_id, g),
        |allpos AS (
        |  SELECT doc_id, j, wr[j] AS word
        |  FROM w0, unnest(generate_series(1, len(wr))) t(j)),
        |dropped AS (
        |  SELECT DISTINCT p.doc_id, p.j FROM allpos p
        |  JOIN spans s ON s.doc_id = p.doc_id AND p.j BETWEEN s.s1 AND s.e1),
        |kept AS (
        |  SELECT a.doc_id, a.j, a.word FROM allpos a
        |  LEFT JOIN dropped d ON a.doc_id = d.doc_id AND a.j = d.j
        |  WHERE d.j IS NULL),
        |agg AS (
        |  SELECT doc_id, count(*) AS cnt, string_agg(word, ' ' ORDER BY j) AS txt
        |  FROM kept GROUP BY doc_id)
        |SELECT w0.doc_id, CAST(len(w0.wr) AS BIGINT) AS n_words,
        |  CAST(coalesce(agg.cnt, 0) AS BIGINT) AS n_kept,
        |  coalesce(agg.txt, '') AS cleaned
        |FROM w0 LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "stream_decontaminate" -> decontaminateReportOracleSql,
    // the salted join must equal the PLAIN join — that equality is the
    // whole correctness contract of the skew utility
    "q_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // top-30%-per-stratum: same quality formula as corpus_stats, ceil via
    // integer arithmetic, md5-hash tie-break under heavy score ties
    "corpus_top_frac" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    CAST(greatest(0, least(100,
        |      least(len(regexp_split_to_array(text, '\s+')), 50)
        |      + floor(len(list_distinct(regexp_split_to_array(text, '\s+'))) * 40.0
        |              / greatest(len(regexp_split_to_array(text, '\s+')), 1))
        |      - least(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')), 10)
        |      + 10)) AS BIGINT) AS q
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, q,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY q DESC NULLS LAST, md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM s)
        |SELECT doc_id, lang, q FROM r
        |WHERE rk <= (n * 30 + 99) // 100
        |ORDER BY doc_id""".stripMargin,
    // same md5 bucket as corpus_sample; cut points 80/90 give 80/10/10
    "corpus_shard" ->
      """SELECT doc_id,
        |  CAST(CAST(('0x' || substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS BIGINT) AS shard,
        |  md5('graft' || CAST(doc_id AS VARCHAR)) AS sort_key
        |FROM documents ORDER BY doc_id""".stripMargin,
    "corpus_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 80 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // cluster assignment from first principles: md5-order leader seeds,
    // argmax cosine (ties -> lowest leader index), integer window count
    "corpus_cluster" ->
      """WITH ld AS (
        |  SELECT embedding,
        |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS idx
        |  FROM embeddings WHERE embedding IS NOT NULL
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |asg AS (
        |  SELECT e.vec_id, ld.idx,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding, ld.embedding) DESC, ld.idx ASC) AS rn
        |  FROM embeddings e CROSS JOIN ld
        |  WHERE e.embedding IS NOT NULL),
        |cl AS (SELECT vec_id, idx AS cluster FROM asg WHERE rn = 1)
        |SELECT vec_id, cluster, count(*) OVER (PARTITION BY cluster) AS cluster_size
        |FROM cl ORDER BY vec_id""".stripMargin,
    // tf from the same tokenization as corpus_ngrams, df from the tf set,
    // N = docs with >= 1 token; score = tf * ln(N/df) with matching op
    // order; both engines rank on (rounded score desc, term) per doc
    "text_tfidf" ->
      """WITH w0 AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM w0 GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
        |sc AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    round(CAST(tf.tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / df.df), 6) AS score_r
        |  FROM tf JOIN df USING (term), nd),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_r DESC, term) AS rn
        |  FROM sc)
        |SELECT doc_id, term, tf, score_r FROM rk WHERE rn <= 3
        |ORDER BY doc_id, score_r DESC, term""".stripMargin,
    // BM25 from first principles with the same fixed term order and the
    // same nominal constants; both engines order by the ROUNDED score
    // (+ doc_id), a shared total order for the top-20 cut
    "text_search" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS dl,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'spark')) AS tf0,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'join')) AS tf1,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'window')) AS tf2
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM s),
        |sc AS (
        |  SELECT doc_id, round(
        |      ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS score
        |  FROM s, g)
        |SELECT doc_id, score FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // the indexed path must reproduce the direct-scan BM25 exactly, so its
    // oracle is the same first-principles CTE over (data, vector, query)
    "text_search_indexed" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS dl,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'data')) AS tf0,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'vector')) AS tf1,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'query')) AS tf2
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM s),
        |sc AS (
        |  SELECT doc_id, round(
        |      ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS score
        |  FROM s, g)
        |SELECT doc_id, score FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // append path: index = 90% build + 10% append, but postings/dfs/stats
    // end up exactly the full-corpus ones — the whole-corpus CTE checks it
    "text_search_index_append" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS dl,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'table')) AS tf0,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'scan')) AS tf1,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'merge')) AS tf2
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM s),
        |sc AS (
        |  SELECT doc_id, round(
        |      ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS score
        |  FROM s, g)
        |SELECT doc_id, score FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // remove path: full build + 10% tombstones must answer exactly like an
    // index over the retained 90% — the oracle scores ONLY retained docs
    "text_search_index_remove" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS dl,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'filter')) AS tf0,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'group')) AS tf1,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'stream')) AS tf2
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 10 <> 0),
        |g AS (
        |  SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM s),
        |sc AS (
        |  SELECT doc_id, round(
        |      ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS score
        |  FROM s, g)
        |SELECT doc_id, score FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // compaction folds the tombstones into the physical tables (index
    // alone, no corpus re-read) — the query must still equal a
    // retained-only index, now with no tombstone anti-join
    "text_search_index_compact" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS dl,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'line')) AS tf0,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'value')) AS tf1,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'small')) AS tf2
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 10 <> 0),
        |g AS (
        |  SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM s),
        |sc AS (
        |  SELECT doc_id, round(
        |      ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS score
        |  FROM s, g)
        |SELECT doc_id, score FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // clusters = transitive closure over the same Jaccard pair graph, as
    // a recursive CTE; comp = min reachable id (the keeper).
    "dedup_clusters" ->
      ("WITH RECURSIVE " + jaccardPairsCte + """,
        |edges AS (SELECT a_id AS u, b_id AS v FROM jac UNION SELECT b_id, a_id FROM jac),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
        |SELECT u AS id, least(u, min(v)) AS comp FROM reach GROUP BY u ORDER BY id""".stripMargin),
    "corpus_cap" ->
      """WITH rk AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
        |  FROM documents)
        |SELECT doc_id, lang FROM rk WHERE r <= 75 ORDER BY doc_id""".stripMargin,
    // every rule recomputed from first principles; reason = first failing
    // rule in the engine's fixed order
    "corpus_filter" -> corpusFilterOracleSql,
    // streaming intake filter: stateless per-row decision, so the
    // AvailableNow run is identical to batch corpus_filter - same oracle
    "stream_clean" -> corpusFilterOracleSql,
    // drift monitor: both centroid sets via the §4 VARCHAR-hop decimal
    // sums (bit-exact doubles), cosine as LEFT i-ascending list_reduce
    // folds matching Spark's zip_with+aggregate fold order exactly
    "stream_drift" ->
      """WITH el AS (
        |  SELECT label, vec_id, unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |sm AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(CAST(CAST(x AS DOUBLE) AS VARCHAR) AS DECIMAL(25,10))) AS DOUBLE)
        |      / count(*) AS m
        |  FROM el WHERE vec_id % 10 <> 0 GROUP BY label, pos),
        |bm AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(CAST(CAST(x AS DOUBLE) AS VARCHAR) AS DECIMAL(25,10))) AS DOUBLE)
        |      / count(*) AS m
        |  FROM el WHERE vec_id % 10 = 0 GROUP BY label, pos),
        |nv AS (
        |  SELECT label, count(DISTINCT vec_id) AS n_vecs
        |  FROM el WHERE vec_id % 10 <> 0 GROUP BY label),
        |smv AS (SELECT label, list(m ORDER BY pos) AS v FROM sm GROUP BY label),
        |bmv AS (SELECT label, list(m ORDER BY pos) AS v FROM bm GROUP BY label),
        |c AS (
        |  SELECT s.label, nv.n_vecs,
        |    list_reduce(list_transform(range(1, len(s.v) + 1), i -> s.v[i] * b.v[i]),
        |      (x, y) -> x + y) AS dot,
        |    list_reduce(list_transform(s.v, x -> x * x), (x, y) -> x + y) AS na,
        |    list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y) AS nb
        |  FROM smv s JOIN bmv b ON s.label = b.label JOIN nv ON s.label = nv.label)
        |SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
        |  round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_r,
        |  dot / (sqrt(na) * sqrt(nb)) < 0.1 AS drifted
        |FROM c ORDER BY label""".stripMargin,
    // anomaly monitor: integer cent moments (order-independent), then the
    // identical double op sequence — mean_g, sd_g, mean_k, z — so the
    // booleans and rounded z agree bit-for-bit with the snapshot verdict
    "stream_anomaly" ->
      """WITH c AS (
        |  SELECT user_id, CAST(round(value * 100, 0) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |k AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
        |  FROM c GROUP BY user_id),
        |g AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS ss,
        |    CAST(sum(q) AS BIGINT) AS qq FROM k),
        |v AS (
        |  SELECT user_id, n,
        |    CAST(s AS DOUBLE) / n AS mean_k,
        |    CAST(ss AS DOUBLE) / nn AS mean_g,
        |    sqrt(CAST(qq AS DOUBLE) / nn - (CAST(ss AS DOUBLE) / nn) * (CAST(ss AS DOUBLE) / nn)) AS sd_g
        |  FROM k, g)
        |SELECT user_id, n,
        |  round(mean_k / 100.0, 6) AS mean_value,
        |  round((mean_k - mean_g) / (sd_g / sqrt(CAST(n AS DOUBLE))), 6) AS z_r,
        |  abs((mean_k - mean_g) / (sd_g / sqrt(CAST(n AS DOUBLE)))) > 3.0 AS anomalous
        |FROM v ORDER BY user_id""".stripMargin,
    // composed pipeline: the corpus_filter decision CTEs (on the corpus
    // slice), then exact dedup, exact-Jaccard closure (recall-1 stand-in
    // for verified LSH), and decontamination — each on the previous
    // stage's survivors; stage = first dropping stage.
    "corpus_clean" ->
      """WITH RECURSIVE corp AS (
        |  SELECT * FROM documents WHERE doc_id % 10 <> 0),
        |w0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM corp),
        |lined AS (
        |  SELECT doc_id, array_to_string(list_transform(
        |      generate_series(0, greatest(CAST(floor((len(w)-1)/2.0) AS BIGINT), 0)),
        |      i -> array_to_string(list_slice(w, i*2+1, i*2+2), ' ')), chr(10)) AS text
        |  FROM w0),
        |ln AS (
        |  SELECT doc_id, regexp_replace(l, '^[ \t\r\f]+|[ \t\r\f]+$', '', 'g') AS line
        |  FROM lined, unnest(string_split(text, chr(10))) AS u(l)),
        |lc AS (
        |  SELECT doc_id, line, count(*) AS cnt FROM ln WHERE line <> '' GROUP BY doc_id, line),
        |ls AS (
        |  SELECT doc_id,
        |    CAST(sum(cnt) - count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS dup_line_frac
        |  FROM lc GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] AS b
        |  FROM w0, unnest(generate_series(1, len(w)-1)) AS g(i)),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
        |bs AS (
        |  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_bigram_frac
        |  FROM bc GROUP BY doc_id),
        |tok AS (SELECT doc_id, len(regexp_split_to_array(text, '\s+')) AS n FROM corp),
        |q AS (SELECT doc_id, CAST(
        |  greatest(0, least(100,
        |    least(len(regexp_split_to_array(text, '\s+')), 50)
        |    + floor(len(list_distinct(regexp_split_to_array(text, '\s+'))) * 40.0
        |            / greatest(len(regexp_split_to_array(text, '\s+')), 1))
        |    - least(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')), 10)
        |    + 10)) AS INTEGER) AS quality
        |  FROM corp),
        |p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS pt FROM corp),
        |sc AS (SELECT doc_id,
        |  (length(pt)-length(replace(pt,' the ','')))/5 + (length(pt)-length(replace(pt,' a ','')))/3 + (length(pt)-length(replace(pt,' of ','')))/4 AS s_en,
        |  (length(pt)-length(replace(pt,' der ','')))/5 + (length(pt)-length(replace(pt,' und ','')))/5 + (length(pt)-length(replace(pt,' die ','')))/5 AS s_de,
        |  (length(pt)-length(replace(pt,' el ','')))/4 + (length(pt)-length(replace(pt,' la ','')))/4 + (length(pt)-length(replace(pt,' que ','')))/5 AS s_es,
        |  (length(pt)-length(replace(pt,' le ','')))/4 + (length(pt)-length(replace(pt,' et ','')))/4 + (length(pt)-length(replace(pt,' les ','')))/5 AS s_fr,
        |  (length(pt)-length(replace(pt,' zh ','')))/4 + (length(pt)-length(replace(pt,' zhong ','')))/7 + (length(pt)-length(replace(pt,' wen ','')))/5 AS s_zh
        |  FROM p),
        |lang AS (
        |  SELECT doc_id, CASE
        |    WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'en'
        |    WHEN s_de = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'de'
        |    WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'es'
        |    WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'fr'
        |    WHEN s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh) AND greatest(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'zh'
        |    ELSE 'unknown' END AS pred_lang
        |  FROM sc),
        |dec AS (
        |  SELECT d.doc_id, CASE
        |    WHEN tok.n < 12 THEN 'too_short'
        |    WHEN tok.n > 100000 THEN 'too_long'
        |    WHEN lang.pred_lang = 'unknown' THEN 'lang_unknown'
        |    WHEN coalesce(ls.dup_line_frac, 0) > 0.08 THEN 'dup_lines'
        |    WHEN coalesce(bs.top_bigram_frac, 0) > 0.09 THEN 'repetitive_bigrams'
        |    WHEN q.quality < 50 THEN 'low_quality'
        |    ELSE 'keep' END AS reason
        |  FROM corp d
        |  JOIN tok ON d.doc_id = tok.doc_id
        |  JOIN q ON d.doc_id = q.doc_id
        |  JOIN lang ON d.doc_id = lang.doc_id
        |  LEFT JOIN ls ON d.doc_id = ls.doc_id
        |  LEFT JOIN bs ON d.doc_id = bs.doc_id),
        |surv1 AS (SELECT doc_id FROM dec WHERE reason = 'keep'),
        |ck AS (
        |  SELECT c.doc_id,
        |    coalesce(md5(trim(regexp_replace(lower(c.text), '\s+', ' ', 'g'))),
        |             'null:' || c.doc_id) AS k
        |  FROM corp c JOIN surv1 USING (doc_id)),
        |k2 AS (SELECT k, min(doc_id) AS keeper FROM ck GROUP BY k),
        |exdrop AS (SELECT ck.doc_id FROM ck JOIN k2 USING (k) WHERE ck.doc_id <> k2.keeper),
        |surv2 AS (SELECT ck.doc_id FROM ck JOIN k2 USING (k) WHERE ck.doc_id = k2.keeper),
        |norm AS (
        |  SELECT c.doc_id AS id, string_split(trim(regexp_replace(lower(c.text), '\s+', ' ', 'g')), ' ') AS w
        |  FROM corp c JOIN surv2 USING (doc_id)),
        |sh AS (
        |  SELECT id, list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shl
        |  FROM norm),
        |ex AS (SELECT id, len(shl) AS sz, unnest(shl) AS shingle FROM sh),
        |prs AS (
        |  SELECT a.id AS a_id, b.id AS b_id, any_value(a.sz) AS a_size, any_value(b.sz) AS b_size, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY a.id, b.id),
        |jac AS (
        |  SELECT a_id, b_id FROM prs
        |  WHERE CAST(shared AS DOUBLE) / (a_size + b_size - shared) >= 0.5),
        |edges AS (SELECT a_id AS u, b_id AS v FROM jac UNION SELECT b_id, a_id FROM jac),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |compn AS (SELECT u AS id, least(u, min(v)) AS comp FROM reach GROUP BY u),
        |nddrop AS (SELECT id AS doc_id FROM compn WHERE id <> comp),
        |surv3 AS (
        |  SELECT doc_id FROM surv2
        |  WHERE doc_id NOT IN (SELECT doc_id FROM nddrop)),
        |enorm AS (
        |  SELECT d.doc_id AS id, string_split(trim(regexp_replace(lower(d.text), '\s+', ' ', 'g')), ' ') AS w
        |  FROM documents d WHERE d.doc_id % 10 = 0),
        |esh AS (
        |  SELECT id, list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shl
        |  FROM enorm),
        |eex AS (SELECT id, len(shl) AS sz, unnest(shl) AS shingle FROM esh),
        |cex AS (SELECT ex.* FROM ex JOIN surv3 ON ex.id = surv3.doc_id),
        |cprs AS (
        |  SELECT a.id AS a_id, b.id AS b_id, any_value(a.sz) AS a_size, any_value(b.sz) AS b_size, count(*) AS shared
        |  FROM cex a JOIN eex b ON a.shingle = b.shingle
        |  GROUP BY a.id, b.id),
        |contam AS (
        |  SELECT DISTINCT a_id AS doc_id FROM cprs
        |  WHERE CAST(shared AS DOUBLE) / (a_size + b_size - shared) >= 0.5),
        |kept AS (
        |  SELECT doc_id FROM surv3
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contam))
        |SELECT doc_id, stage FROM (
        |  SELECT doc_id, reason AS stage FROM dec WHERE reason <> 'keep'
        |  UNION ALL SELECT doc_id, 'exact_dup' FROM exdrop
        |  UNION ALL SELECT doc_id, 'near_dup' FROM nddrop
        |  UNION ALL SELECT doc_id, 'contaminated' FROM contam
        |  UNION ALL SELECT doc_id, 'kept' FROM kept)
        |ORDER BY doc_id""".stripMargin,
    // caps derived with the same all-integer arithmetic the engine uses:
    // N* = min(count_s * W // w_s), cap_s = N* * w_s // W
    "corpus_mix" ->
      """WITH wts AS (SELECT * FROM (VALUES ('en', 5), ('de', 2), ('es', 2), ('fr', 1)) AS t(lang, w)),
        |cnt AS (
        |  SELECT lang, count(*) AS n FROM documents
        |  WHERE lang IN (SELECT lang FROM wts) GROUP BY lang),
        |nstar AS (SELECT min(n * 10 // w) AS v FROM cnt JOIN wts USING (lang)),
        |caps AS (SELECT lang, (SELECT v FROM nstar) * w // 10 AS cap FROM wts),
        |rk AS (
        |  SELECT d.doc_id, d.lang,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS r
        |  FROM documents d)
        |SELECT rk.doc_id, rk.lang FROM rk JOIN caps ON rk.lang = caps.lang
        |WHERE rk.r <= caps.cap ORDER BY rk.doc_id""".stripMargin,
    // dedup applied = corpus minus non-keeper cluster members, same
    // recursive-CTE closure as dedup_clusters.
    "dedup_apply" ->
      ("WITH RECURSIVE " + jaccardPairsCte + """,
        |edges AS (SELECT a_id AS u, b_id AS v FROM jac UNION SELECT b_id, a_id FROM jac),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |cc AS (SELECT u AS id, least(u, min(v)) AS comp FROM reach GROUP BY u)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> comp)
        |ORDER BY doc_id""".stripMargin),
    // elo oracle: the ballot construction and the smoothed win/loss/match
    // accounting are recomputed in SQL from the documents table; the five
    // elo values are a literal derived at the driver's verify scale
    // (sf0.01) by an independent replication of the Bradley–Terry MM math
    // (Hunter 2004) in numpy over the same SQL-computed pair counts.
    "elo_ratings" ->
      """WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS pt FROM documents),
        |sc AS (
        |  SELECT doc_id, 'en' AS lang, (length(pt)-length(replace(pt,' the ','')))//5 + (length(pt)-length(replace(pt,' a ','')))//3 + (length(pt)-length(replace(pt,' of ','')))//4 AS s FROM p
        |  UNION ALL SELECT doc_id, 'de', (length(pt)-length(replace(pt,' der ','')))//5 + (length(pt)-length(replace(pt,' und ','')))//5 + (length(pt)-length(replace(pt,' die ','')))//5 FROM p
        |  UNION ALL SELECT doc_id, 'es', (length(pt)-length(replace(pt,' el ','')))//4 + (length(pt)-length(replace(pt,' la ','')))//4 + (length(pt)-length(replace(pt,' que ','')))//5 FROM p
        |  UNION ALL SELECT doc_id, 'fr', (length(pt)-length(replace(pt,' le ','')))//4 + (length(pt)-length(replace(pt,' et ','')))//4 + (length(pt)-length(replace(pt,' les ','')))//5 FROM p
        |  UNION ALL SELECT doc_id, 'zh', (length(pt)-length(replace(pt,' zh ','')))//4 + (length(pt)-length(replace(pt,' zhong ','')))//7 + (length(pt)-length(replace(pt,' wen ','')))//5 FROM p),
        |rk AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang) AS pos FROM sc),
        |dir AS (
        |  SELECT a.lang AS winner, b.lang AS loser, count(*) AS n
        |  FROM rk a JOIN rk b ON a.doc_id = b.doc_id AND a.pos < b.pos GROUP BY 1, 2),
        |agg AS (
        |  SELECT l.label,
        |    coalesce((SELECT sum(n) FROM dir WHERE winner = l.label), 0) AS rw,
        |    coalesce((SELECT sum(n) FROM dir WHERE loser = l.label), 0) AS rl
        |  FROM (SELECT unnest(['de','en','es','fr','zh']) AS label) l)
        |SELECT a.label, e.elo,
        |  round(a.rw + 2.0, 1) AS wins, round(a.rl + 2.0, 1) AS losses,
        |  round(a.rw + a.rl + 4.0, 1) AS matches
        |FROM agg a JOIN (VALUES ('de', 2499.86), ('en', 2886.34), ('es', 1611.70),
        |  ('fr', 730.99), ('zh', -228.89)) e(label, elo) ON a.label = e.label
        |ORDER BY a.label""".stripMargin,
    // minhash entry = LSH candidates ∩ exact Jaccard >= 0.5; recall is 1
    // on this corpus, so the oracle is plain exact Jaccard (uncapped — the
    // banding path has no df cap).
    "dedup_minhash_lsh" ->
      """WITH norm AS (
        |  SELECT doc_id AS id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT id, list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shl
        |  FROM norm),
        |ex AS (SELECT id, len(shl) AS sz, unnest(shl) AS shingle FROM sh),
        |pairs AS (
        |  SELECT a.id AS a_id, b.id AS b_id, any_value(a.sz) AS a_size, any_value(b.sz) AS b_size, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY a.id, b.id)
        |SELECT a_id, b_id FROM pairs
        |WHERE CAST(shared AS DOUBLE) / (a_size + b_size - shared) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,
    // simhash oracle recomputes the 64-bit fingerprint from first
    // principles: FNV-1a per token (UBIGINT mod-2^64), per-bit vote sums,
    // then all-pairs bit_count(xor) <= 3 — bit-identical to the Scala
    // kernel, so this checks the full pipeline, not a derived decision.
    "dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |      list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS UBIGINT))),
        |    (h, c) -> CAST((CAST(xor(h, c) AS HUGEINT) * 1099511628211) % 18446744073709551616 AS UBIGINT)) AS hv
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, b.b AS bit, sum(CASE WHEN ((hv >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hashed CROSS JOIN (SELECT unnest(range(0,64)) AS b) b
        |  GROUP BY 1, 2),
        |fp0 AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << bit ELSE CAST(0 AS HUGEINT) END) AS UBIGINT) AS f
        |  FROM bits GROUP BY 1),
        |fp AS (
        |  SELECT d.doc_id, coalesce(f.f, CAST(0 AS UBIGINT)) AS f
        |  FROM documents d LEFT JOIN fp0 f USING (doc_id))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.f, b.f)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,
    // embedding-LSH entry runs at its full-recall operating point, so the
    // exact all-pairs cosine oracle applies (same SQL as dedup_embedding).
    "dedup_embedding_lsh" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,
    // embed oracle recomputes the feature-hash embedding from first
    // principles in SQL: FNV-1a 64 per token (UBIGINT mod-2^64 arithmetic),
    // signed bucket accumulate, L2 normalize, float32 rounding via REAL.
    // DuckDB's round keeps the sign of a tiny negative sum (-0.0) where
    // Spark's decimal round writes 0.0; "+ 0.0" makes the zero canonical.
    "embed_hash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |      list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS UBIGINT))),
        |    (h, c) -> CAST((CAST(xor(h, c) AS HUGEINT) * 1099511628211) % 18446744073709551616 AS UBIGINT)) AS hv
        |  FROM toks),
        |acc AS (
        |  SELECT doc_id, CAST(hv % 64 AS INTEGER) AS bucket,
        |    sum(CASE WHEN ((hv >> 62) & 1) = 1 THEN -1.0 ELSE 1.0 END) AS w
        |  FROM hashed GROUP BY 1, 2),
        |grid AS (
        |  SELECT d.doc_id, b.bucket FROM documents d
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS bucket) b),
        |comp AS (
        |  SELECT g.doc_id, g.bucket, coalesce(a.w, 0.0) AS w
        |  FROM grid g LEFT JOIN acc a ON g.doc_id = a.doc_id AND g.bucket = a.bucket),
        |nrm AS (
        |  SELECT doc_id, CASE WHEN sum(w*w) = 0 THEN 1.0 ELSE sqrt(sum(w*w)) END AS nv
        |  FROM comp GROUP BY 1),
        |fin AS (
        |  SELECT c.doc_id, c.bucket, CAST(CAST(c.w / n.nv AS REAL) AS DOUBLE) AS cv
        |  FROM comp c JOIN nrm n ON c.doc_id = n.doc_id)
        |SELECT doc_id, CAST(64 AS BIGINT) AS dim,
        |  round(max(CASE WHEN bucket = 0 THEN cv END), 6) AS e0,
        |  round(sum(cv), 5) + 0.0 AS e_sum
        |FROM fin GROUP BY doc_id""".stripMargin,
    // classifier filter: the same FNV-1a/bucket/L2 chain as embed_hash,
    // then the fixed weight vector and a LEFT bucket-ascending fold —
    // IEEE add/mul only, so score AND keep boolean are bit-exact
    "corpus_classifier_filter" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'), t -> t <> '')) AS tok
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |      list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS UBIGINT))),
        |    (h, c) -> CAST((CAST(xor(h, c) AS HUGEINT) * 1099511628211) % 18446744073709551616 AS UBIGINT)) AS hv
        |  FROM toks),
        |acc AS (
        |  SELECT doc_id, CAST(hv % 64 AS INTEGER) AS bucket,
        |    sum(CASE WHEN ((hv >> 62) & 1) = 1 THEN -1.0 ELSE 1.0 END) AS w
        |  FROM hashed GROUP BY 1, 2),
        |grid AS (
        |  SELECT d.doc_id, b.bucket FROM documents d
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS bucket) b),
        |comp AS (
        |  SELECT g.doc_id, g.bucket, coalesce(a.w, 0.0) AS w
        |  FROM grid g LEFT JOIN acc a ON g.doc_id = a.doc_id AND g.bucket = a.bucket),
        |nrm AS (
        |  SELECT doc_id, CASE WHEN sum(w*w) = 0 THEN 1.0 ELSE sqrt(sum(w*w)) END AS nv
        |  FROM comp GROUP BY 1),
        |fin AS (
        |  SELECT c.doc_id, c.bucket, CAST(CAST(c.w / n.nv AS REAL) AS DOUBLE) AS cv
        |  FROM comp c JOIN nrm n ON c.doc_id = n.doc_id),
        |wts AS (
        |  SELECT bucket, CAST((bucket * 2654435761) % 1000 AS DOUBLE) / 1000.0 - 0.5 AS w
        |  FROM (SELECT unnest(range(0, 64)) AS bucket)),
        |dv AS (
        |  SELECT f.doc_id,
        |    list_reduce(list_prepend(0.0, list(f.cv * w.w ORDER BY f.bucket)), (a, v) -> a + v) AS s
        |  FROM fin f JOIN wts w USING (bucket) GROUP BY f.doc_id)
        |SELECT doc_id, round(s, 6) AS score_r, s > 0.0 AS keep
        |FROM dv ORDER BY doc_id""".stripMargin,
    // multimodal: the Spark side synthesizes a REAL container (PNG / JPEG /
    // WAV / GIF by doc_id % 4) around the utf-8 text bytes and then decodes
    // its header with a real byte parser. The oracle recomputes what the
    // parser must read back: every synthesized header field derives from
    // the body byte sum (all-ASCII corpus: byte == code point) and the
    // container overheads are fixed per format (PNG 57 = signature 8 +
    // IHDR 25 + IDAT framing 12 + IEND 12; JPEG 41 = SOI 2 + APP0 18 +
    // SOF0 19 + EOI 2; WAV 44; GIF 14 = header 13 + trailer 1) — so a
    // decode bug anywhere (endianness, offsets, chunk walk) hash-fails.
    // audio stats: body bytes are the utf-8 text (all-ASCII corpus: byte
    // == code point), so sample s = code - 128; sr/ch derive from the
    // byte sum exactly as the WAV synthesis writes them — a wrong RIFF
    // offset or endianness in the kernel hash-fails
    "multimodal_audio" ->
      """WITH chars AS (
        |  SELECT doc_id, unicode(text[i]) AS code
        |  FROM documents, unnest(range(1, length(text)+1)) AS t(i)),
        |st AS (
        |  SELECT d.doc_id,
        |    coalesce(s.bsum, 0) AS bsum, coalesce(s.n, 0) AS n,
        |    coalesce(s.peak, 0) AS peak, coalesce(s.sumsq, 0) AS sumsq
        |  FROM documents d LEFT JOIN (
        |    SELECT doc_id, sum(code) AS bsum, count(*) AS n,
        |      max(abs(code - 128)) AS peak,
        |      sum((code - 128) * (code - 128)) AS sumsq
        |    FROM chars GROUP BY 1) s ON d.doc_id = s.doc_id)
        |SELECT doc_id,
        |  CAST(8000 + (bsum % 5) * 8000 AS BIGINT) AS sample_rate,
        |  CAST(1 + bsum % 2 AS BIGINT) AS channels,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(peak AS BIGINT) AS peak,
        |  CASE WHEN n > 0 THEN round(sqrt(CAST(sumsq AS DOUBLE) / n), 6) END AS rms_r
        |FROM st ORDER BY doc_id""".stripMargin,
    "multimodal_meta" ->
      """WITH chars AS (
        |  SELECT doc_id, unicode(text[i]) AS code
        |  FROM documents, unnest(range(1, length(text)+1)) AS t(i)),
        |f AS (
        |  SELECT d.doc_id, CAST(d.doc_id % 4 AS INTEGER) AS kind,
        |    octet_length(encode(d.text)) AS blen, coalesce(s.bsum, 0) AS bsum
        |  FROM documents d LEFT JOIN (
        |    SELECT doc_id, sum(code) AS bsum FROM chars GROUP BY 1) s
        |    ON d.doc_id = s.doc_id)
        |SELECT doc_id,
        |  CAST(blen + CASE kind WHEN 0 THEN 57 WHEN 1 THEN 41 WHEN 2 THEN 44 ELSE 14 END AS INTEGER) AS n_bytes,
        |  CASE kind WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        |    WHEN 2 THEN 'audio/wav' ELSE 'image/gif' END AS mime,
        |  CASE kind WHEN 0 THEN '89504e47' WHEN 1 THEN 'ffd8ffe0'
        |    WHEN 2 THEN '52494646' ELSE '47494638' END AS magic,
        |  CASE kind WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    WHEN 2 THEN 'wav' ELSE 'gif' END AS format,
        |  CAST(CASE WHEN kind = 2 THEN 0 ELSE 64 + bsum % 512 END AS INTEGER) AS width,
        |  CAST(CASE WHEN kind = 2 THEN 0 ELSE 64 + (bsum // 7) % 512 END AS INTEGER) AS height,
        |  CAST(CASE WHEN kind = 2 THEN 8000 + (bsum % 5) * 8000 ELSE 0 END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN kind = 2 THEN 1 + bsum % 2 ELSE 0 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN kind = 2 THEN 16 ELSE 8 END AS INTEGER) AS bit_depth
        |FROM f""".stripMargin
  )

  /** Drop every per-directory memo (persistent-index table names, corpus
    * counts). The index memos name tables in the session's in-memory
    * catalog, which dies with the SparkContext — a harness that recovers
    * from a context loss (Bench) must invalidate them before re-running,
    * or every probe query would reference a vanished table. */
  private[graft] def invalidateSessionCaches(): Unit = {
    embCountFor.clear(); builtIndexes.clear()
  }
}
