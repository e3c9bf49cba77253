package graft

import graft.functions.{gf, Kernels}
import graft.ops.{Dedup, Prefix}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = graft.io.Tables.documents(spark, sfDir)

  /** Brute-force reference for the Jaccard decontaminators: ids of the
    * corpus docs with no eval doc at exact word-trigram Jaccard >= 0.5
    * (lowercased whitespace tokens, the engine's tokenization). */
  private def exactTrigramSurvivors(corpus: Seq[(Long, String)], evalSet: Seq[(Long, String)]): Set[Long] = {
    val ev = evalSet.map(e => TrigramJaccard.shingles(e._2))
    corpus.filter { case (_, text) =>
      val a = TrigramJaccard.shingles(text)
      !ev.exists(b => TrigramJaccard.jaccard(a, b) >= 0.5)
    }.map(_._1).toSet
  }

  /** Per-document banded SimHash pairs — the baseline
    * [[Dedup.simhashPairsCanonical]] must equal: every document is banded
    * on its own, with no fingerprint canonicalization. */
  private def simhashPairs(
      df: org.apache.spark.sql.DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): org.apache.spark.sql.DataFrame = {
    val fp = df.select(col(idCol).cast("long").as("id"), gf.simhash64(col(textCol)).as("fp"))
    val banded = Dedup.simhashBands(fp, "id", maxHamming, maxHamming + 1)
    banded.select(col("block"), col("blockval"), col("id").as("a_id"), col("fp").as("a_fp"))
      .join(banded.select(col("block"), col("blockval"), col("id").as("b_id"), col("fp").as("b_fp")),
        Seq("block", "blockval"))
      .where(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .where(bit_count(col("a_fp").bitwiseXOR(col("b_fp"))) <= maxHamming)
      .select(col("a_id"), col("b_id"))
  }

  /** Component rows of both [[Dedup.connectedComponents]] paths: the
    * driver finish (default bound) and the distributed rounds (bound 0). */
  private def bothComponentPaths(
      pairs: org.apache.spark.sql.DataFrame): (Set[(Option[Long], Option[Long])], Set[(Option[Long], Option[Long])]) = {
    def rowsOf(df: org.apache.spark.sql.DataFrame) = {
      val got = df.collect().map(r =>
        (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long])))
      assert(got.length === got.toSet.size) // one row per node
      got.toSet
    }
    (rowsOf(Dedup.connectedComponents(pairs)), rowsOf(Dedup.components(pairs, "a_id", "b_id", 0)))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select(col("doc_id").cast("long"), col("text")).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1)))

  test("exact: whitespace/case variants collapse to one content key") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").orderBy("keeper_id").collect()
    assert(out.length === 2)
    assert(out(0).getLong(1) === 1L && out(0).getLong(2) === 2L)
  }

  test("ngramJaccard: near-identical pair found, disjoint pair not") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again yesterday"),
      (3L, "completely different content with no shared shingles at all ok")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "text", "doc_id", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("dedup_ngram_jaccard and dedup_clusters: pairs through shingles shared by more than " +
      "10 docs equal a brute-force trigram Jaccard") {
    // 12 one-word edits of one 40-word document: no two are exact copies,
    // every pair of them has J >= 32/44, and each unedited shingle is
    // shared by 11 or 12 of them (the first three also by the doc quoting
    // five of its words)
    val words = (0 until 40).map(i => s"w$i").toArray
    val copies = (0 until 12).map { k =>
      val w = words.clone()
      w(3 * k + 1) = s"edit$k"
      (100L + k, w.mkString(" "))
    }
    val others = (0 until 6).map(i =>
      (200L + i, (0 until 20).map(w => s"doc${i}word$w").mkString(" "))) :+
      (300L, (words.take(5) ++ (0 until 25).map(w => s"quote$w")).mkString(" "))
    val all = copies ++ others
    val dir = tempDir("graft-hot-shingles").toString
    all.map { case (id, text) => (id, text, "en", "web") }
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val truth = TrigramJaccard.pairs(all, 0.5)
    assert(truth.size === 66)
    val pairs = SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === truth)
    val comps = SparkEntry.queries("dedup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === copies.map(_._1 -> 100L).toMap)
  }

  /** 12-word documents over a 4-word vocabulary: the trigram space (64
    * trigrams) saturates, so every shingle is hot and prefixes overlap. */
  private def saturatedText(seed: Int): String = {
    val vocab = Array("alpha", "beta", "gamma", "delta")
    (0 until 12).map { i =>
      vocab(math.floorMod(scala.util.hashing.MurmurHash3.productHash((seed, i)), 4))
    }.mkString(" ")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.length === got.toSet.size)
    got.toSet
  }

  test("ngramJaccardPairs: K > 1 prefix shards give the brute-force and the one-shard pairs") {
    // the ">10 docs" corpus: 12 one-word edits of one 40-word document,
    // six unrelated docs and one quoting five of its words
    val words = (0 until 40).map(i => s"w$i").toArray
    val all = (0 until 12).map { k =>
      val w = words.clone()
      w(3 * k + 1) = s"edit$k"
      (100L + k, w.mkString(" "))
    } ++ (0 until 6).map(i => (200L + i, (0 until 20).map(w => s"doc${i}word$w").mkString(" "))) :+
      (300L, (words.take(5) ++ (0 until 25).map(w => s"quote$w")).mkString(" "))
    val df = all.toDF("doc_id", "text")
    val (one, c1, _) = Dedup.ngramPairs(df, "text", "doc_id", 3, 0.5, Prefix.ShardPostings)
    val (many, cMany, _) = Dedup.ngramPairs(df, "text", "doc_id", 3, 0.5, c1.postings / 5)
    assert(c1.shards === 1 && cMany.shards >= 5 && cMany.postings === c1.postings)
    val truth = TrigramJaccard.pairs(all, 0.5)
    assert(truth.size === 66)
    assert(pairSet(one) === truth)
    assert(pairSet(many) === truth)
  }

  test("ngramJaccardPairs: a saturated 4-word vocabulary equals brute-force trigram Jaccard") {
    val all = (0L until 300L).map(i => (i, saturatedText(i.toInt)))
    val truth = TrigramJaccard.pairs(all, 0.5)
    assert(truth.size > 20)
    assert(pairSet(Dedup.ngramJaccardPairs(all.toDF("doc_id", "text"), "text", "doc_id", 3, 0.5)) ===
      truth)
  }

  test("ngramJaccardPairs: same rows across input partition layouts") {
    val df = docs.select("doc_id", "text")
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, 0.5).orderBy("a_id", "b_id").collect()
    val a = rowsOf(df.repartition(1))
    assert(a.nonEmpty)
    assert(a.sameElements(rowsOf(df.repartition(7))))
  }

  test("minhashLsh: recovers the exact-jaccard pair set on sf0.001 documents") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "text", "doc_id", 3, 128, 32, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH estimates sim by signature agreement: demand high recall and that
    // every extra pair is a near-threshold estimate, not garbage
    val recall = (exact & lsh).size.toDouble / math.max(exact.size, 1)
    assert(recall >= 0.9, s"LSH recall $recall too low (${exact.size} exact, ${lsh.size} lsh)")
    assert(lsh.size <= exact.size + 5, "LSH emitted implausibly many extra pairs")
  }

  test("simhash pairs = brute-force hamming<=3 pairs (banding is complete)") {
    val fps = docs.select(col("doc_id"), gf.simhash64(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, fpa) <- fps; (idb, fpb) <- fps
      if ida < idb && java.lang.Long.bitCount(fpa ^ fpb) <= 3
    } yield (ida, idb)).toSet
    val banded = simhashPairs(docs, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === brute)
  }

  test("embeddingPairs threshold behaves like a filter on exact cosine") {
    val emb = graft.io.Tables.embeddings(spark, sfDir)
    val pairs = Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.4).count()
    val loose = Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.3).count()
    assert(pairs <= loose)
  }

  test("embeddingPairsLsh: subset of exact pairs with useful recall") {
    val emb = graft.io.Tables.embeddings(spark, sfDir)
    val exact = Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingPairsLsh(emb, "vec_id", "embedding", 0.35, bits = 6, tables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // exact-cosine verify: no false positives
    assert(exact.isEmpty || (exact & lsh).size.toDouble / exact.size >= 0.5,
      s"recall ${(exact & lsh).size}/${exact.size}")
  }

  test("simhashPairsCanonical equals naive simhashPairs (incl. exact-duplicate groups)") {
    val docs = graft.io.Tables.table(spark, sfDir, "documents")
    // add exact duplicates so fingerprint groups have >1 member
    val dups = docs.limit(5).withColumn("doc_id", col("doc_id") + 1000000L)
    val corpus = docs.unionByName(dups)
    val naive = simhashPairs(corpus, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val canonical = Dedup.simhashPairsCanonical(corpus, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(canonical === naive)
    assert(canonical.nonEmpty) // the planted duplicates guarantee pairs
  }

  test("nearDupPipeline: replicated corpus collapses to one keeper per content cluster") {
    val docs = graft.io.Tables.table(spark, sfDir, "documents")
    // 3 exact replicas of every doc — the pipeline must keep exactly the
    // min-id copy of each near-dup cluster
    val replicated = (0 until 3).map(r =>
      docs.withColumn("doc_id", col("doc_id") + lit(r * 1000000L))).reduce(_ unionByName _)
    val deduped = Dedup.nearDupPipeline(replicated, "text", "doc_id")
    val direct = Dedup.dropNearDuplicates(replicated,
      Dedup.minhashLshPairsVerified(replicated, "text", "doc_id"), "doc_id")
    assert(deduped.count() === direct.count())
    // every surviving doc is an original (min-id replica), and at most one
    // per content survives
    val ids = deduped.select("doc_id").collect().map(_.getLong(0))
    assert(ids.forall(_ < 1000000L))
    assert(deduped.count() <= docs.count())
  }

  test("decontaminate drops exact and near eval matches, keeps everything else") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "an entirely different document about streaming joins"),
      (3L, "completely unrelated text concerning window functions")
    ).toDF("doc_id", "text")
    val evalSet = Seq(
      (7L, "the quick brown fox jumps over the lazy dog today"),        // exact match of 1
      (8L, "an entirely different document about streaming joins now")  // near match of 2
    ).toDF("doc_id", "text")
    val clean = Dedup.decontaminate(corpus, evalSet, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean === Set(3L))
  }

  test("decontaminate keeps the brute-force Jaccard survivors on a duplicate-heavy corpus") {
    val corpus = (0L until 60L).map { i =>
      val base = s"document number ${i % 20} with shared structural words and tail $i"
      (i, if (i % 3 == 0) base.replace(s"tail $i", "tail shared") else base)
    }.toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, "document number 7 with shared structural words and tail shared"),
      (101L, "totally absent from the corpus in every shingle dimension")
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, evalSet, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === exactTrigramSurvivors(rows(corpus), rows(evalSet)))
  }

  test("decontaminate: J exactly at the threshold drops the doc; the report lists it at 0.5") {
    // 5-word docs sharing 2 of their 3 trigrams: J = 2 / (3 + 3 - 2) = 0.5
    val corpus = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val evalSet = Seq((10L, "alpha beta gamma delta omega")).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, evalSet, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L))
    val report = Dedup.decontaminateReport(corpus, evalSet, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(report.toSeq === Seq((1L, 10L, 0.5)))
  }

  test("two in-memory eval batteries in one session: each call drops exactly its own battery's copy") {
    val textA = "question one asks which river runs through the old capital city"
    val textB = "question two asks which mountain stands above the northern lake shore"
    val corpus = Seq((1L, textA), (2L, textB), (3L, "unrelated filler words that share nothing here at all"))
      .toDF("doc_id", "text")
    val batteryA = Seq((100L, textA)).toDF("doc_id", "text")
    val batteryB = Seq((200L, textB)).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    for ((battery, own, evalId) <- Seq((batteryA, 1L, 100L), (batteryB, 2L, 200L))) {
      assert(ids(Dedup.decontaminate(corpus, battery, "text", "doc_id")) === Set(1L, 2L, 3L) - own)
      assert(ids(Dedup.decontaminateNgram(corpus, battery, "text", "doc_id")) === Set(1L, 2L, 3L) - own)
      val report = Dedup.decontaminateReport(corpus, battery, "text", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(report.toSeq === Seq((own, evalId, 1.0)))
    }
  }

  test("evalIndex: the two-sided size contract fails loudly, also through the operators") {
    // maxEvalShingles = 16 -> row limit 16 / 8 + 1 = 3
    val manyRows = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i")).toDF("doc_id", "text")
    // 2 rows (under the row limit) with 14 trigrams / 9 8-grams each: sum > 16
    val manyShingles = Seq(
      (1L, (1 to 16).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 16).map(i => s"b$i").mkString(" "))).toDF("doc_id", "text")
    val corpus = Seq((9L, "a b c d e f g h i j")).toDF("doc_id", "text")
    def rowArm(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(">= 3 distinct docs") && e.getMessage.contains("(= 16)"),
        e.getMessage)
    }
    def sumArm(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("exceeds 16 shingles"), e.getMessage)
    }
    rowArm(Dedup.evalIndex(manyRows, "text", "doc_id", 3, 16))
    sumArm(Dedup.evalIndex(manyShingles, "text", "doc_id", 3, 16))
    rowArm(Dedup.decontaminate(corpus, manyRows, "text", "doc_id", maxEvalShingles = 16))
    sumArm(Dedup.decontaminate(corpus, manyShingles, "text", "doc_id", maxEvalShingles = 16))
    rowArm(Dedup.decontaminateNgram(corpus, manyRows, "text", "doc_id", maxEvalShingles = 16))
    sumArm(Dedup.decontaminateNgram(corpus, manyShingles, "text", "doc_id", maxEvalShingles = 16))
    // one row under each limit passes
    assert(Dedup.evalIndex(manyRows.limit(2), "text", "doc_id", 3, 16).reps.length === 2)
  }

  test("Prefix: the driver-side CSR of an eval battery equals the Spark-ranked one") {
    import graft.ops.Prefix
    // 60 sets over a 40-element space (many df ties, negative elements),
    // sizes 1..24, so tiny sets take the min(j, ceil(t·|X|)) branch
    val rnd = new scala.util.Random(7)
    val sets = (1 to 60).map { k =>
      val es = Array.fill(1 + rnd.nextInt(24))((rnd.nextInt(40) - 20) * 0x9E3779B97F4A7C15L)
      (k.toLong * 11, es.distinct.sorted)
    }.toArray
    val rows = sets.toSeq.flatMap { case (k, es) => es.map(e => (k, es.length, e)) }
      .toDF("key", "sz", "fp")
    for (t <- Seq(0.5, 0.8); j <- Seq(1, 3)) {
      val local = Prefix.localCsr(sets, t, j)
      val spark = Prefix.collectCsr(
        Prefix.prefix(rows, Seq("key", "sz"), "fp", Prefix.docFreq(rows, "fp"),
          Prefix.prefixLen(col("sz"), t, j)).select("fp", "key", "sz"))
      def fields(c: Prefix.Csr) =
        Seq(c.fps.toSeq, c.offsets.toSeq, c.keys.toSeq, c.keyIds.toSeq, c.keySizes.toSeq)
      assert(fields(local) === fields(spark), s"t=$t j=$j")
      assert(local.keys.length < rows.count(), s"t=$t j=$j: prefixes cut nothing")
    }
  }

  test("null texts never pair: canonical paths match the naive paths' empty output") {
    val docs = Seq((1L, "some real document text here"), (2L, null), (3L, null), (4L, null))
      .toDF("doc_id", "text")
    // naive simhash emits nothing for nulls; canonical must not invent a null group
    assert(simhashPairs(docs, "text", "doc_id").count() === 0L)
    assert(Dedup.simhashPairsCanonical(docs, "text", "doc_id").count() === 0L)
    assert(Dedup.minhashLshPairsVerified(docs, "text", "doc_id").count() === 0L)
  }

  test("connectedComponents: multi-hop chains collapse to the min id (multiple iterations)") {
    // chain 1-2-3-4-5 (needs propagation over 4 hops), clique {10,11,12},
    // pair {20,21} also given reversed, 30 seen only in a self-pair, and
    // one pair whose ids are both null
    val edges = Seq(
      (1, 2), (2, 3), (3, 4), (4, 5),
      (10, 11), (11, 12), (10, 12),
      (20, 21), (21, 20),
      (30, 30)).map { case (a, b) => (Option(a), Option(b)) } :+ ((None, None))
    val expected = (Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L)
      .map { case (id, comp) => (Option(id), Option(comp)) } :+ ((None, None))).toSet
    val longIds = edges.map { case (a, b) => (a.map(_.toLong), b.map(_.toLong)) }.toDF("a_id", "b_id")
    val intIds = edges.toDF("a_id", "b_id") // Int-typed ids are widened to long
    Seq(longIds, intIds).foreach { pairs =>
      assert(Dedup.connectedComponents(pairs).schema.map(_.dataType) === Seq(LongType, LongType))
      val (driver, rounds) = bothComponentPaths(pairs)
      assert(driver === expected)
      assert(rounds === expected)
    }
  }

  test("connectedComponents: 60-node path is one component; cliques match the expected map") {
    // a 60-node path: diameter 59, far past what diameter-bound propagation
    // handles in a fixed round budget
    val path = (0L until 59L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (driver, rounds) = bothComponentPaths(path)
    assert(driver.size === 60)
    assert(driver.map(_._2) === Set(Some(0L))) // one component, min id 0
    assert(rounds === driver)
    val cliques = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 20L))
      .toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(cliques)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("nearDupPipeline: a 90-document near-dup chain (diameter > 20) collapses to one keeper") {
    // 20-word windows over distinct tokens, each shifted 2 words from the
    // last: consecutive docs share 16 of 20 trigram shingles (Jaccard 0.8),
    // docs 3 shifts apart sit at exactly 0.5 and 4+ shifts apart below it,
    // so the duplicate graph is a chain of ~30 hops from end to end
    val docs = (0 until 90).map { i =>
      (i.toLong + 1000L, (2 * i until 2 * i + 20).map(w => s"w$w").mkString(" "))
    }.toDF("doc_id", "text")
    val kept = Dedup.nearDupPipeline(docs, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0))
    assert(kept.toSeq === Seq(1000L))
  }

  test("connectedComponents: the 90-document near-dup chain, same components on both paths") {
    val docs = (0 until 90).map { i =>
      (i.toLong + 1000L, (2 * i until 2 * i + 20).map(w => s"w$w").mkString(" "))
    }.toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairsVerified(docs, "text", "doc_id").localCheckpoint()
    val (driver, rounds) = bothComponentPaths(pairs)
    assert(driver.size === 90)
    assert(driver.forall(_._2 === Some(1000L)))
    assert(rounds === driver)
  }

  test("connectedComponents: a path joined to a clique finishes mid-round on the driver") {
    // 40-node path + 16-node clique = 159 edges. A bound of 80 sends the
    // input to the rounds; the first round collapses the clique to a
    // star, leaving about 54 edges that are not yet a star forest, which
    // union-find then finishes
    val path = (0L until 39L).map(i => (100L + i, 101L + i))
    val clique = for (a <- 0L until 16L; b <- a + 1 until 16L) yield (a + 500L, b + 500L)
    val pairs = (path ++ clique).toDF("a_id", "b_id")
    val expected = ((100L to 139L).map(i => i -> 100L) ++ (500L to 515L).map(i => i -> 500L)).toMap
    Seq(0, 80, 1000).foreach { bound =>
      val got = Dedup.components(pairs, "a_id", "b_id", bound)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(got.length === expected.size)
      assert(got.toMap === expected, s"bound $bound")
    }
  }

  test("dropBoilerplateLines: global hot lines removed, order preserved") {
    val docs = Seq(
      (1L, "keep one\ncookie banner\nkeep two"),
      (2L, "cookie banner\nunique line"),
      (3L, "cookie banner\nanother one"),
      (4L, "cookie banner")).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(docs, "text", "doc_id", minDocs = 3)
      .orderBy("doc_id")
      .collect()
    // "cookie banner" is in 4 >= 3 distinct docs -> dropped everywhere
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq === Seq(
      (1L, 3L, 2L, 1L), (2L, 2L, 1L, 1L), (3L, 2L, 1L, 1L), (4L, 1L, 0L, 1L)))
    // reassembly keeps original order and returns the cleaned TEXT (the
    // operator's product is a cleaned corpus, not a fingerprint of one)
    val cleaned = out.map(_.getString(4)).toSeq
    assert(cleaned(0) === "keep one\nkeep two")
    assert(cleaned(3) === "")
  }

  test("dropBoilerplateLines: near-threshold lines survive; dup lines in ONE doc count once") {
    // "maybe hot" appears twice in doc 1 but only in 2 distinct docs -> kept
    val docs = Seq(
      (1L, "maybe hot\nmaybe hot"),
      (2L, "maybe hot"),
      (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(docs, "text", "doc_id", minDocs = 3)
      .orderBy("doc_id").collect()
    assert(out.forall(_.getLong(3) == 0L)) // nothing dropped
  }

  test("semdedup (trained): planted within-cluster near-dups dropped, keepers kept") {
    // three orthogonal-ish groups; ids 1/2 near-identical, 3 distinct
    def v(x: Float, y: Float, z: Float, w: Float) = Array(x, y, z, w)
    val emb = Seq(
      (1L, v(1f, 0.01f, 0f, 0f)), (2L, v(1f, 0.02f, 0f, 0f)), (3L, v(0.5f, 0.8f, 0f, 0.3f)),
      (4L, v(0f, 1f, 0.01f, 0f)), (5L, v(0f, 0f, 1f, 0.01f)), (6L, v(0.01f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semdedup(emb, "vec_id", "embedding", k = 3, minCos = 0.95, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(1L) && !out(2L), "min-id keeper rule within the near-dup pair")
    assert(out(5L) && !out(6L))
    assert(out(3L) && out(4L), "sub-threshold cluster-mates both kept")
  }

  test("semdedup: dropped ids are sound vs exact pairs and output is layout-independent") {
    val emb = graft.io.Tables.embeddings(spark, sfDir)
    val out = Dedup.semdedup(emb, "vec_id", "embedding", k = 8, minCos = 0.4, iters = 2)
    val rows = out.orderBy("vec_id").collect()
    assert(rows.length === emb.count())
    // soundness: every dropped id really has a >=minCos partner globally
    val dropped = rows.filter(!_.getBoolean(2)).map(_.getLong(0)).toSet
    val inExact = Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.4)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(dropped.subsetOf(inExact))
    // determinism: identical decisions under a different partition layout
    val again = Dedup.semdedup(emb.repartition(7), "vec_id", "embedding",
      k = 8, minCos = 0.4, iters = 2).orderBy("vec_id").collect()
    assert(rows.sameElements(again))
  }

  test("duplicatedSpans: shared run across two docs merges into one maximal span each") {
    val shared = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"$shared seven eight nine ten eleven twelve")).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(df, "text", "doc_id", k = 5, minOcc = 2)
      .orderBy("doc_id").collect()
    assert(spans.length === 2)
    // doc 1: the shared 6 words sit at positions 3..8 -> dup 5-grams at 3
    // and 4 -> one span [3, 9)
    assert(spans(0).getLong(0) === 1L)
    assert((spans(0).getInt(1), spans(0).getInt(2), spans(0).getInt(3)) === ((3, 9, 6)))
    // doc 2: shared prefix -> span [0, 6)
    assert((spans(1).getInt(1), spans(1).getInt(2), spans(1).getInt(3)) === ((0, 6, 6)))
  }

  test("duplicatedSpans: self-repetition inside one doc counts; touching spans merge") {
    // p..u repeated: dup 5-grams at 0,1 (first copy) and 6,7 (second);
    // hit 1 covers [1,6), hit 6 covers [6,11) — touching, so one span
    val df = Seq((1L, "p q r s t u p q r s t u")).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(df, "text", "doc_id", k = 5, minOcc = 2).collect()
    assert(spans.length === 1)
    assert((spans(0).getInt(1), spans(0).getInt(2), spans(0).getInt(3)) === ((0, 12, 12)))
  }

  test("duplicatedSpans: disjoint duplicated regions stay separate spans") {
    val a = "red orange yellow green blue"          // 5 words, one 5-gram
    val b = "cat dog bird fish mouse"
    val df = Seq(
      (1L, s"$a zz1 zz2 zz3 zz4 zz5 zz6 $b"),
      (2L, s"$a yy1 yy2 yy3 yy4 yy5 yy6 $b")).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(df, "text", "doc_id", k = 5, minOcc = 2)
      .where(col("doc_id") === 1L).orderBy("span_start").collect()
    // doc 1: dup 5-gram at 0 (span [0,5)) and at 11 (span [11,16)); the
    // gap of 6 unique words keeps them apart (11 - 0 > 5)
    assert(spans.length === 2)
    assert((spans(0).getInt(1), spans(0).getInt(2)) === ((0, 5)))
    assert((spans(1).getInt(1), spans(1).getInt(2)) === ((11, 16)))
  }

  test("removeDuplicatedSpans: duplicated words dropped, case preserved, counts consistent") {
    val shared = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"One Two three $shared Four five six"),
      (2L, s"$shared seven eight nine ten eleven twelve")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(df, "text", "doc_id", k = 5, minOcc = 2)
      .orderBy("doc_id").collect()
    // doc 1: span [3, 9) drops the shared run, original case kept elsewhere
    assert(out(0).getLong(1) === 12L && out(0).getLong(2) === 6L)
    assert(out(0).getString(3) === "One Two three Four five six")
    // doc 2: span [0, 6)
    assert(out(1).getString(3) === "seven eight nine ten eleven twelve")
    // a doc with no duplicated spans passes through (normalized spacing)
    val solo = Seq((1L, "only  one doc\there")).toDF("doc_id", "text")
    val keep = Dedup.removeDuplicatedSpans(solo, "text", "doc_id").collect()
    assert(keep(0).getString(3) === "only one doc here")
    assert(keep(0).getLong(1) === 4L && keep(0).getLong(2) === 4L)
  }

  test("decontaminateReport: pairs match decontaminate's drop set; jaccard sane") {
    val evalSet = docs.where(pmod(col("doc_id"), lit(10)) === 0)
    val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
    val report = Dedup.decontaminateReport(corpus, evalSet, "text", "doc_id").collect()
    assert(report.nonEmpty)
    report.foreach { r =>
      val j = r.getDouble(2)
      assert(j >= 0.5 && j <= 1.0)
      assert(r.getLong(0) % 10 !== 0L)
      assert(r.getLong(1) % 10 === 0L)
    }
    // the documents the report names are exactly those decontaminate drops
    val reported = report.map(_.getLong(0)).toSet
    val kept = Dedup.decontaminate(corpus, evalSet, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reported === (all -- kept))
  }

  test("decontaminateNgram: catches containment the Jaccard threshold misses") {
    val evalSentence = "what is the capital of france the answer is paris"  // 10 words
    val evalSet = Seq((100L, evalSentence)).toDF("doc_id", "text")
    val filler = (1 to 80).map(i => s"filler$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$filler $evalSentence"),              // eval QUOTED inside a long doc
      (2L, s"$filler entirely unrelated tail"),    // clean
      (3L, evalSentence)                            // exact eval copy
    ).toDF("doc_id", "text")

    // Jaccard view: doc 1 shares 8 of ~88 shingles with eval -> J ~ 0.09,
    // far below the 0.5 threshold — the Jaccard decontaminator KEEPS the leak
    val keptJ = Dedup.decontaminate(corpus, evalSet, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptJ === Set(1L, 2L), "Jaccard decontamination keeps the containment leak (by design)")

    // n-gram collision view: doc 1 shares every 8-gram of the eval
    // sentence -> dropped; doc 2 shares none -> kept
    val keptN = Dedup.decontaminateNgram(corpus, evalSet, "text", "doc_id", n = 8, minHits = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptN === Set(2L))

    // minHits raises the bar: a 10-word quote has exactly 3 distinct
    // 8-grams, so minHits = 4 keeps every doc here (even the exact copy —
    // its whole content is those same 3 n-grams), and minHits = 3 drops
    // the quoting doc and the copy alike
    val keptHi = Dedup.decontaminateNgram(corpus, evalSet, "text", "doc_id", n = 8, minHits = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptHi === Set(1L, 2L, 3L))
    val keptAt3 = Dedup.decontaminateNgram(corpus, evalSet, "text", "doc_id", n = 8, minHits = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptAt3 === Set(2L))
  }

  test("decontaminate: output equals a brute-force exact word-trigram Jaccard reference") {
    val evalSet = docs.where(pmod(col("doc_id"), lit(10)) === 0)
    val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
    val kept = Dedup.decontaminate(corpus, evalSet, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val reference = exactTrigramSurvivors(rows(corpus), rows(evalSet))
    // every candidacy stage has recall 1: never keeps a doc the reference drops
    assert(kept.subsetOf(reference), "decontaminate kept a doc the exact reference drops")
    assert(kept === reference)
    assert(kept.size < corpus.count(), "the eval slice's near-matches must drop something")
  }

  test("clusterEmbeddings: matches semdedup assignment; sizes partition the corpus") {
    val emb = graft.io.Tables.embeddings(spark, sfDir)
    val cl = Dedup.clusterEmbeddings(emb, "vec_id", "embedding", k = 8)
    val byId = cl.collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    val sem = Dedup.semdedup(emb, "vec_id", "embedding", k = 8, minCos = 0.4)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(byId.view.mapValues(_._1).toMap === sem)
    // cluster_size is consistent per cluster and sums to the corpus size
    val sizes = byId.values.groupBy(_._1).map { case (c, vs) =>
      assert(vs.map(_._2).toSet.size === 1, s"cluster $c has inconsistent sizes")
      (c, vs.head._2)
    }
    assert(sizes.values.sum === byId.size)
    val counted = byId.values.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(sizes === counted)
  }

  test("clusterEmbeddings: trained path (iters>0) deterministic across partition layouts") {
    val emb = graft.io.Tables.embeddings(spark, sfDir)
    val a = Dedup.clusterEmbeddings(emb, "vec_id", "embedding", k = 4, iters = 2)
      .orderBy("vec_id").collect()
    val b = Dedup.clusterEmbeddings(emb.repartition(7), "vec_id", "embedding", k = 4, iters = 2)
      .orderBy("vec_id").collect()
    assert(a.sameElements(b))
  }

  // ----- persistent incremental-dedup index -----

  private def fpSet(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Set[Long])] =
    df.select(col("doc_id").cast("long"),
        graft.ops.TextAnalysis.fingerprint(col("text")),
        gf.shingleFpsSorted(col("text"), 3))
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getSeq[Long](2).toSet))
      .toMap

  test("dedupIndexProbe: verdicts equal the brute-force delta-vs-corpus truth") {
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val delta = docs.where(col("doc_id") % 10 === 0)
    Dedup.dedupIndexBuild(corpus, "text", "doc_id", "graft_dedup_idx_spec")
    val out = Dedup.dedupIndexProbe(delta, "text", "doc_id", "graft_dedup_idx_spec")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3)))
      .toMap
    val c = fpSet(corpus)
    val d = fpSet(delta)
    assert(out.keySet === d.keySet)
    d.foreach { case (id, (key, shl)) =>
      val exactIds = c.collect { case (cid, (ck, _)) if ck == key => cid }
      val jac = c.view.mapValues { case (_, cs) =>
        val shared = (shl & cs).size
        if (shl.isEmpty || cs.isEmpty) 0.0
        else shared.toDouble / (shl.size + cs.size - shared)
      }.filter(_._2 >= 0.5)
      val (st, m, j) = out(id)
      if (exactIds.nonEmpty) {
        assert(st === "exact" && m === exactIds.min && j === 1.0, s"doc $id")
      } else if (jac.nonEmpty) {
        val mm = jac.keys.min
        assert(st === "near" && m === mm, s"doc $id")
        assert(math.abs(j - jac(mm)) < 5e-5, s"doc $id jaccard $j vs ${jac(mm)}")
      } else assert(st === "new" && m === -1L, s"doc $id")
    }
  }

  test("dedupIndexProbe: saturated shingle space flips to the broadcast-probe " +
      "kernel path; verdicts still equal brute force") {
    // a 4-word vocabulary saturates the trigram space, so every delta fp
    // collides with most of the corpus — Σ df over the delta prefix blows
    // past 16x corpus size and the adaptive candidacy must take the
    // CSR-kernel scan instead of the inverted-index join
    val vocab = Array("alpha", "beta", "gamma", "delta")
    def txt(seed: Int): String =
      (0 until 12).map { i =>
        vocab(math.floorMod(scala.util.hashing.MurmurHash3.productHash((seed, i)), 4))
      }.mkString(" ")
    val sat = spark.createDataFrame(
      (0L until 400L).map(i => (i, txt(i.toInt))) :+
        // a planted near-dup of corpus doc 1 in the delta slice
        (1000L, txt(1))
    ).toDF("doc_id", "text")
    val corpus = sat.where(col("doc_id") % 10 =!= 0 && col("doc_id") < 1000L)
    val delta = sat.where(col("doc_id") % 10 === 0 || col("doc_id") === 1000L)
    Dedup.dedupIndexBuild(corpus, "text", "doc_id", "graft_dedup_idx_sat")
    val probe = Dedup.dedupIndexProbe(delta, "text", "doc_id", "graft_dedup_idx_sat")
    assert(probe.queryExecution.analyzed.toString.contains("prefix_candidates"),
      "saturated corpus did not take the broadcast-probe kernel path")
    val out = probe.collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3)))
      .toMap
    val c = fpSet(corpus)
    val d = fpSet(delta)
    assert(out.keySet === d.keySet)
    d.foreach { case (id, (key, shl)) =>
      val exactIds = c.collect { case (cid, (ck, _)) if ck == key => cid }
      val jac = c.view.mapValues { case (_, cs) =>
        val shared = (shl & cs).size
        if (shl.isEmpty || cs.isEmpty) 0.0
        else shared.toDouble / (shl.size + cs.size - shared)
      }.filter(_._2 >= 0.5)
      val (st, m, j) = out(id)
      if (exactIds.nonEmpty) {
        assert(st === "exact" && m === exactIds.min && j === 1.0, s"doc $id")
      } else if (jac.nonEmpty) {
        val mm = jac.keys.min
        assert(st === "near" && m === mm, s"doc $id")
        assert(math.abs(j - jac(mm)) < 5e-5, s"doc $id jaccard $j vs ${jac(mm)}")
      } else assert(st === "new" && m === -1L, s"doc $id")
    }
  }

  test("dedupIndexProbe: K > 1 prefix shards on a saturated corpus give the brute-force " +
      "and the one-shard verdicts") {
    val sat = ((0L until 400L).map(i => (i, saturatedText(i.toInt))) :+ (1000L, saturatedText(1)))
      .toDF("doc_id", "text")
    val corpus = sat.where(col("doc_id") % 10 =!= 0 && col("doc_id") < 1000L)
    val delta = sat.where(col("doc_id") % 10 === 0 || col("doc_id") === 1000L)
    Dedup.dedupIndexBuild(corpus, "text", "doc_id", "graft_dedup_idx_shards")
    def probe(bound: Long) = {
      val (out, c, _) = Dedup.indexProbe(delta, "text", "doc_id", "graft_dedup_idx_shards",
        0.5, 256L << 20, bound)
      (out.collect().map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap, c)
    }
    val (one, c1) = probe(Prefix.ShardPostings)
    val (many, cMany) = probe(c1.postings / 5)
    assert(c1.shards === 1 && cMany.shards >= 5)
    assert(many === one)
    val c = fpSet(corpus)
    val d = fpSet(delta)
    assert(one.keySet === d.keySet)
    assert(one.values.exists(_._1 == "near"))
    d.foreach { case (id, (key, shl)) =>
      val exactIds = c.collect { case (cid, (ck, _)) if ck == key => cid }
      val jac = c.view.mapValues { case (_, cs) =>
        val shared = (shl & cs).size
        if (shl.isEmpty || cs.isEmpty) 0.0 else shared.toDouble / (shl.size + cs.size - shared)
      }.filter(_._2 >= 0.5)
      val (st, m, j) = one(id)
      if (exactIds.nonEmpty) assert(st === "exact" && m === exactIds.min && j === 1.0, s"doc $id")
      else if (jac.nonEmpty) {
        val mm = jac.keys.min
        assert(st === "near" && m === mm && math.abs(j - jac(mm)) < 5e-5, s"doc $id")
      } else assert(st === "new" && m === -1L, s"doc $id")
    }
  }

  test("dedupIndexProbe: deterministic across delta partition layouts") {
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val delta = docs.where(col("doc_id") % 10 === 0)
    Dedup.dedupIndexBuild(corpus, "text", "doc_id", "graft_dedup_idx_det")
    val a = Dedup.dedupIndexProbe(delta, "text", "doc_id", "graft_dedup_idx_det")
      .orderBy("doc_id").collect()
    val b = Dedup.dedupIndexProbe(delta.repartition(7), "text", "doc_id", "graft_dedup_idx_det")
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("dedupIndexProbe: exact duplicate of an indexed doc, dup-of-delta stays new") {
    val corpus = Seq(
      (2L, "the quick brown fox jumps over the lazy dog"),
      (4L, "an unrelated corpus document about database engines")).toDF("doc_id", "text")
    // 10: exact dup (case/whitespace variant) of 2; 20: near dup of 2;
    // 30: brand new; 40: too short for any 3-gram shingle, content unseen
    val delta = Seq(
      (10L, "The  Quick Brown Fox jumps over the lazy dog"),
      (20L, "the quick brown fox jumps over the lazy dog daily"),
      (30L, "completely novel text that matches nothing in the index"),
      (40L, "tiny doc")).toDF("doc_id", "text")
    Dedup.dedupIndexBuild(corpus, "text", "doc_id", "graft_dedup_idx_tiny")
    val out = Dedup.dedupIndexProbe(delta, "text", "doc_id", "graft_dedup_idx_tiny")
      .collect().map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out(10L) === ("exact", 2L))
    assert(out(20L)._1 === "near" && out(20L)._2 === 2L)
    assert(out(30L) === ("new", -1L))
    assert(out(40L) === ("new", -1L))
  }
  test("decontaminateEmbeddings drops only near-eval vectors; nulls kept") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),          // cos 1.0 vs eval -> dropped
      (2L, Array(0.0f, 1.0f)),          // orthogonal -> kept
      (3L, null.asInstanceOf[Array[Float]])) // no evidence -> kept
      .toDF("id", "v")
    val evalSet = Seq((100L, Array(1.0f, 0.0f))).toDF("id", "v")
    val got = Dedup.decontaminateEmbeddings(corpus, evalSet, "id", "v", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got === Set((1L, 1L, false), (2L, 0L, true), (3L, 0L, true)))
  }

  test("embIndexProbe: exact copies resolve exact, disjoint vectors resolve new") {
    import org.apache.spark.sql.functions._
    val emb = graft.io.Tables.embeddings(spark, sfDir)
    val corpus = emb.where(col("vec_id") % 2 === 0)
    Dedup.embIndexBuild(corpus, "embedding", "vec_id", "graft_emb_idx_spec",
      bits = 3, tables = 16)
    // exact copies under shifted ids: every one must match its source
    val copies = corpus.limit(20)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
    val got = Dedup.embIndexProbe(copies, "embedding", "vec_id", "graft_emb_idx_spec")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got.size === 20)
    got.foreach { case (id, (status, m)) =>
      assert(status === "exact", s"$id not exact")
      assert(m <= id - 5000L, s"$id matched $m, expected <= source id")
    }
    // an orthogonal one-hot vector far from the corpus: status new
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val probe = Seq((9999L, Array.tabulate(dim)(i => if (i == 0) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val res = Dedup.embIndexProbe(probe, "embedding", "vec_id", "graft_emb_idx_spec",
        threshold = 0.999).collect()
    assert(res.length === 1 && res(0).getString(1) != "exact")
  }

  test("embIndexProbe: perturbed copies at the full-recall point resolve as brute-force cosine") {
    // a random corpus wide enough (dim 256) that no two unrelated vectors
    // reach cos 0.4, and large enough that lshBitsFor gives 5 bits: a
    // vector's postings are then a ~1/32 slice per table, so a probe whose
    // banding drifted from the build's would miss most of its sources
    val dim = 256
    val rnd = new scala.util.Random(16)
    val vecs = Array.fill(2000)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val corpus = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("vec_id", "embedding")
    val bits = graft.ops.Similarity.lshBitsFor(vecs.length)
    assert(bits === 5)
    Dedup.embIndexBuild(corpus, "embedding", "vec_id", "graft_emb_idx_near_spec",
      bits = bits, tables = 48)
    // 40 corpus vectors with ~10% noise (cos ~0.995) under shifted ids,
    // plus 10 fresh vectors near nothing
    val near = (0 until 40).map { i =>
      (10000L + i, vecs(i * 50).map(x => x + 0.1f * rnd.nextGaussian().toFloat))
    }
    val fresh = (0 until 10).map(i => (20000L + i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val delta = (near ++ fresh).toDF("vec_id", "embedding")
    val got = Dedup.embIndexProbe(delta, "embedding", "vec_id", "graft_emb_idx_near_spec")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    // brute force: exact = bit-identical corpus vector, else near = min
    // corpus id at gf.cosine >= 0.4, else new
    val d = delta.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val c = corpus.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val exact = d.join(c, col("d_vec") === col("c_vec"))
      .groupBy("d_id").agg(min("c_id").as("m")).as[(Long, Long)].collect().toMap
    val nearRef = d.crossJoin(c).where(gf.cosine(col("d_vec"), col("c_vec")) >= 0.4)
      .groupBy("d_id").agg(min("c_id").as("m")).as[(Long, Long)].collect().toMap
    val want = delta.select("vec_id").as[Long].collect().map { id =>
      id -> exact.get(id).map(m => ("exact", Some(m)))
        .orElse(nearRef.get(id).map(m => ("near", Some(m))))
        .getOrElse(("new", None))
    }.toMap
    assert(want.values.count(_._1 == "near") === 40)
    assert(want.values.count(_._1 == "new") === 10)
    assert(got === want)
  }

  test("bucketPairsCos keeps exactly the pairs gf.cosine puts at or above t, t at pair cosines") {
    // the in-bucket form of the one LSH cosine verify: with t set to an
    // observed pair cosine, each boundary pair must land on the same side
    // in both forms, which holds only if they are bit-identical
    val emb = graft.io.Tables.embeddings(spark, sfDir).where(col("embedding").isNotNull)
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"))
    val scored = emb.as("a").join(emb.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        gf.cosine(col("a.vec"), col("b.vec")).as("cos"))
      .as[(Long, Long, Double)].collect()
    val cosines = scored.map(_._3).filter(_ > 0.2).distinct.sorted
    assert(cosines.length > 20)
    val items = emb.agg(collect_list(struct(col("id"), col("vec"))).as("items"))
    (0 until 8).map(i => cosines(i * (cosines.length - 1) / 7)).foreach { t =>
      val want = scored.collect { case (a, b, c) if c >= t => (a, b) }.toSet
      val got = items.select(explode(gf.bucketPairsCos(col("items"), t)).as("p"))
        .select(col("p.a_id"), col("p.b_id")).as[(Long, Long)].collect().toSet
      assert(got === want, s"t = $t")
    }
  }
}
