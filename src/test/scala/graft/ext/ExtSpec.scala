package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

class ExtSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.load(spark, Sf0001, "documents")
  lazy val embs = Tables.load(spark, Sf0001, "embeddings")

  test("exactDedup: winner counts cover all rows") {
    val out = DedupOps.exactDedup(docs, "text", "doc_id")
    assert(out.agg(sum("n_copies")).head.getLong(0) == docs.count())
    assert(DedupOps.exactDedupHashed(docs, "text", "doc_id").count() ==
      out.count())
  }

  test("shingles: n-grams are distinct and ordered windows") {
    val sh = Seq("a b c d").toDF("t")
      .select(DedupOps.shingles(col("t"), 2).as("s"))
      .head.getSeq[String](0)
    assert(sh == Seq("a b", "b c", "c d"))
  }

  test("minhash recall: catches all high-Jaccard exact pairs") {
    val exact = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val mh = DedupOps.minhashPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain near-dups")
    val missed = exact -- mh
    assert(missed.isEmpty, s"minhash missed high-sim pairs: $missed")
  }

  test("simhash: identical text → identical hash; hamming 0 pair found") {
    val df = Seq((1L, "spark filter join group"), (2L, "spark filter join group"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.simhashPairs(df, "doc_id", "text").collect()
    assert(pairs.length == 1 && pairs.head.getAs[Long]("hamming") == 0L)
  }

  test("simhash recall: EVERY pair at Hamming <= maxHamming is found") {
    // Seeded signatures with exact, known Hamming distances — including
    // distance 4-7 pairs whose differing bits are spread so that every
    // 16-bit chunk differs (the pairs the old exact-match 4x16 banding
    // silently missed). Pigeonhole: 4 bands x (1+1 probe bits) must
    // catch Hamming <= 7.
    val rnd = new scala.util.Random(0x51A4)
    val rows = (0 until 40).flatMap { g =>
      val base = rnd.nextLong()
      val d = g % 10 // distances 0..9; > 7 must be excluded by the verify
      // spread the d flipped bits round-robin across the 16-bit chunks
      // (chunk i%4, random distinct bit inside), so every d >= 4 pair
      // BY CONSTRUCTION breaks all four exact-match bands
      val flips = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (flips.size < d)
        flips += 16 * (flips.size % 4) + rnd.nextInt(16)
      val mut = flips.foldLeft(base)((s, b) => s ^ (1L << b))
      Seq((g * 2L, base), (g * 2L + 1L, mut))
    }
    val sig = rows.toDF("doc_id", "sh")
    val found = DedupOps.simhashPairsFromSigs(sig, maxHamming = 7)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, h) => (a min b, a max b) -> h }.toMap
    rows.grouped(2).foreach { case Seq((ida, a), (idb, b)) =>
      val d = java.lang.Long.bitCount(a ^ b)
      if (d <= 7)
        assert(found.get((ida, idb)).contains(d.toLong),
          s"missed pair ($ida,$idb) at Hamming $d")
      else
        assert(!found.contains((ida, idb)),
          s"pair ($ida,$idb) at Hamming $d should be filtered")
    }
  }

  test("simhash recall: a crafted distance-5 pair the exact banding missed") {
    // one differing bit in each 16-bit chunk + one extra: every 16-bit
    // chunk differs, so exact-match banding finds NO candidate band; the
    // 1-bit multi-probe qualifies chunks 1,2,3 (one diff each)
    val base = 0x0123456789ABCDEFL
    val mut = base ^ 0x0001000100010003L // bits 0,1,16,32,48
    assert(java.lang.Long.bitCount(base ^ mut) == 5)
    assert((0 until 4).forall(i => // all 16-bit chunks differ
      ((base >>> (i * 16)) & 0xFFFFL) != ((mut >>> (i * 16)) & 0xFFFFL)))
    val sig = Seq((1L, base), (2L, mut)).toDF("doc_id", "sh")
    val got = DedupOps.simhashPairsFromSigs(sig, maxHamming = 7).collect()
    assert(got.length == 1 && got.head.getAs[Long]("hamming") == 5L)
    // exact-chunk variant at the same radius is rejected outright:
    // 4 bands x probeBits=0 can only guarantee Hamming <= 3
    intercept[IllegalArgumentException] {
      DedupOps.simhashPairsFromSigs(sig, maxHamming = 7, probeBits = 0)
    }
  }

  test("simhashPairs rejects maxHamming >= bands*(probeBits+1)") {
    intercept[IllegalArgumentException] {
      DedupOps.simhashPairsFromSigs(
        Seq((1L, 0L)).toDF("doc_id", "sh"), maxHamming = 8)
    }
  }

  test("identical-signature collapse (x250): a byte-identical block " +
      "pairs in full at Hamming 0, but the banded join only ever sees " +
      "one representative per DISTINCT signature — candidates are " +
      "O(distinct²), never O(doc²); null signatures pair with nothing") {
    val blockSig = 0x0123456789ABCDEFL
    val block = (0L until 500L).map(i => (1000L + i, blockSig))
    val others = Seq(
      (1L, 0xFFL), // hamming 1 from (2L, 0xFE)
      (2L, 0xFEL),
      (3L, 0xAAAAAAAAAAAAAAAAL), // far from everything
      (4L, blockSig ^ 1L)) // hamming 1 from the whole block
    val sig = (block ++ others).toDF("doc_id", "sh")
    val pairs = DedupOps.simhashPairsFromSigs(sig, maxHamming = 7)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect()
    val inBlock = 500L * 499L / 2L
    // 124,750 in-block pairs at 0 + doc 4 vs every block member at 1
    // + (1,2) at 1
    assert(pairs.length.toLong == inBlock + 500L + 1L,
      s"got ${pairs.length} pairs")
    assert(pairs.count(_._3 == 0L).toLong == inBlock)
    assert(pairs.count(_._3 == 1L) == 501)
    // no pair lost or re-ordered: every pair is (min, max)
    assert(pairs.forall(p => p._1 < p._2))
    // the cardinality contract: the rep-level banded join runs over
    // DISTINCT signatures only — 5 here, so at most C(5,2) = 10 rep
    // pairs stand behind the 125,251 member pairs
    val reps = sig.groupBy("sh").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "sh")
    val repPairs = DedupOps.simhashRepPairs(reps, maxHamming = 7)
    assert(repPairs.count() <= 10L,
      "rep-level candidates must scale with distinct signatures")
    // null sigs (undecodable payloads) are dropped, never grouped
    val withNull = sig.unionByName(
      Seq((9000L, Option.empty[Long]), (9001L, Option.empty[Long]))
        .toDF("doc_id", "sh"))
    assert(DedupOps.simhashPairsFromSigs(withNull, maxHamming = 7)
      .count() == pairs.length.toLong)
  }

  test("containmentSetPairs/containmentSetAdmit (x252/x257): hand-" +
      "verified set containment incl. the identical-set collapse; " +
      "empty sets admit unconditionally; the n=0 geometry guard " +
      "refuses text/set ledger mixing both ways") {
    val rows = Seq(
      (1L, Seq(10L, 20L, 30L, 40L)), // superset
      (2L, Seq(10L, 20L)),           // inside 1 and 5 → C = 1.0
      (3L, Seq(20L, 30L, 99L)),      // shares 2 of 3 with 1/5 → 2/3
      (4L, Seq(77L)),                // disjoint
      (5L, Seq(40L, 30L, 20L, 10L))) // identical SET to 1 (reordered)
      .toDF("doc_id", "fset")
    val pairs = DedupOps.containmentSetPairs(rows, "doc_id", "fset",
        threshold = 0.6)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs == Set(
      (1L, 2L, 1.0), (1L, 3L, 0.666667), (1L, 5L, 1.0),
      (2L, 5L, 1.0), (3L, 5L, 0.666667)),
      s"got $pairs")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ct_sets").resolve("idx").toString
    DedupOps.saveContainmentSetIndex(
      rows.filter(col("doc_id").isin(1L, 4L)), "doc_id", "fset", idx)
    val incoming = Seq(
      (2L, Seq(10L, 20L)),      // C = 1.0 vs doc 1 → reject
      (3L, Seq(20L, 30L, 99L)), // C = 2/3 >= 0.6 → reject
      (6L, Seq.empty[Long]),    // no signatures → admit
      (7L, Seq(500L)))          // novel → admit
      .toDF("doc_id", "fset")
    val admitted = DedupOps.containmentSetAdmit(spark, idx, incoming,
        "doc_id", "fset", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(6L, 7L), s"got $admitted")
    // a SET ledger refuses the text-shingle paths...
    intercept[IllegalArgumentException](DedupOps.containmentAdmit(
      spark, idx, incoming.withColumn("text", lit("a b c d e")),
      "doc_id", "text"))
    intercept[IllegalArgumentException](
      DedupOps.appendToContainmentIndex(spark, idx,
        incoming.withColumn("text", lit("a b c d e")), "doc_id",
        "text", "bX"))
    // ...and a TEXT ledger refuses the set paths
    val tIdx = java.nio.file.Files
      .createTempDirectory("graft_ct_text").resolve("idx").toString
    DedupOps.saveContainmentIndex(
      Seq((1L, "one two three four five six")).toDF("doc_id", "text"),
      "doc_id", "text", tIdx, n = 5)
    intercept[IllegalArgumentException](DedupOps.containmentSetAdmit(
      spark, tIdx, incoming, "doc_id", "fset"))
    intercept[IllegalArgumentException](
      DedupOps.appendToContainmentSetIndex(spark, tIdx, incoming,
        "doc_id", "fset", "bY"))
  }

  test("chunkDedup (x260): first occurrence by (doc_id, idx) wins " +
      "corpus-wide incl. within-doc repeats; a fully-shadowed doc " +
      "survives with n_kept = 0 and empty text") {
    val docs = Seq(
      (1L, "a b c d e f"),   // all three chunks novel
      (2L, "c d e f g"),     // "c d","e f" seen in doc 1 → keeps "g"
      (3L, "a b a b x y"),   // "a b" twice (both shadowed) → "x y"
      (4L, "c d"))           // single shadowed chunk → empty
      .toDF("doc_id", "text")
    val out = DedupOps.chunkDedup(docs, "doc_id", "text", 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out == Map(
      1L -> ((3L, 3L, "a b c d e f")),
      2L -> ((3L, 1L, "g")),
      3L -> ((3L, 1L, "x y")),
      4L -> ((1L, 0L, ""))), s"got $out")
  }

  test("chunkLedger (x263): incremental rewrite anti-joins every " +
      "ledgered hash, within-batch first occurrence still wins, and " +
      "an as-of read serves the pre-append decision") {
    val ledger = java.nio.file.Files
      .createTempDirectory("graft_chunkledger").resolve("l").toString
    DedupOps.saveChunkLedger(
      Seq((0L, "a b c d")).toDF("doc_id", "text"),
      "doc_id", "text", ledger, chunkWords = 2)
    val b1 = Seq((10L, "a b x y"), (11L, "x y z w"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // "a b" ledgered; "x y" first at (10, 1) shadows doc 11's copy
    assert(rows(DedupOps.chunkDedupIncremental(spark, ledger, b1,
      "doc_id", "text")) == Map(
        10L -> ((2L, 1L, "x y")), 11L -> ((2L, 1L, "z w"))))
    val v0 = DedupOps.chunkLedgerVersion(spark, ledger)
    DedupOps.appendToChunkLedger(spark, ledger, b1, "doc_id", "text",
      "b1")
    val b2 = Seq((20L, "x y q r")).toDF("doc_id", "text")
    // latest: "x y" ledgered by b1 → only "q r" survives
    assert(rows(DedupOps.chunkDedupIncremental(spark, ledger, b2,
      "doc_id", "text")) == Map(20L -> ((2L, 1L, "q r"))))
    // as-of the pre-append version: b1's hashes invisible → "x y"
    // survives too
    assert(rows(DedupOps.chunkDedupIncremental(spark, ledger, b2,
      "doc_id", "text", asOfVersion = Some(v0))) ==
      Map(20L -> ((2L, 2L, "x y q r"))))
  }

  test("hostBudgetAdmit (x259/x261): prior + batch-rank vs cap, " +
      "null hosts never admitted, appends idempotent by batchId") {
    val ledger = java.nio.file.Files
      .createTempDirectory("graft_hostbudget").resolve("l").toString
    DedupOps.saveHostBudgetLedger(
      Seq((1L, "h1"), (2L, "h1")).toDF("doc_id", "host"),
      "doc_id", "host", ledger, cap = 3)
    val batch = Seq((10L, "h1"), (11L, "h1"), (12L, "h2"),
        (13L, "h2"), (14L, "h2"), (15L, "h2"),
        (16L, null.asInstanceOf[String]))
      .toDF("doc_id", "host")
    val admitted = DedupOps.hostBudgetAdmit(spark, ledger, batch,
      "doc_id", "host")
    // h1: prior 2 → one slot (10); h2: prior 0 → 12,13,14; 15 over
    // cap; 16 has no host
    assert(admitted.select("doc_id").as[Long].collect().toSet ==
      Set(10L, 12L, 13L, 14L))
    DedupOps.appendToHostBudgetLedger(spark, ledger, admitted,
      "doc_id", "host", "b1")
    // both hosts now full: nothing further admits
    assert(DedupOps.hostBudgetAdmit(spark, ledger,
        Seq((20L, "h1"), (21L, "h2")).toDF("doc_id", "host"),
        "doc_id", "host").count() == 0L)
    // replayed batchId: no-op (version advances once for b1 only)
    val fs = new org.apache.hadoop.fs.Path(ledger).getFileSystem(
      spark.sessionState.newHadoopConf())
    val v = graft.sinks.IndexManifest.latest(fs, ledger).get.version
    DedupOps.appendToHostBudgetLedger(spark, ledger, admitted,
      "doc_id", "host", "b1")
    assert(graft.sinks.IndexManifest.latest(fs, ledger)
      .get.version == v)
  }

  test("minhashPairs identical-signature collapse: a duplicated-text " +
      "block pairs in full at est 1.0 through the distinct-sig join") {
    val tpl = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = ((0L until 60L).map(i => (100L + i, tpl)) ++
      Seq((1L, "one two three four five six seven eight"),
        (2L, "totally different words entirely here now ok fine")))
      .toDF("doc_id", "text")
    val pairs = DedupOps.minhashPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b", "est_jaccard")
      .as[(Long, Long, Double)].collect()
    assert(pairs.length.toLong == 60L * 59L / 2L, s"got ${pairs.length}")
    assert(pairs.forall(p => p._3 == 1.0 && p._1 < p._2))
  }

  test("ngramJaccard maxShingleDF: boilerplate shingle stops pairing docs") {
    // 20 docs share ONE boilerplate 3-gram but are otherwise disjoint:
    // uncapped → 190 candidate pairs, capped at DF 5 → none survive
    val hot = (0 until 20).map(i =>
      (i.toLong, s"common boiler plate w${i}a w${i}b w${i}c"))
      .toDF("doc_id", "text")
    val uncapped = DedupOps.ngramJaccardPairs(hot, "doc_id", "text",
      n = 3, threshold = 0.01)
    assert(uncapped.count() == 190L, "every doc pair shares the hot shingle")
    val capped = DedupOps.ngramJaccardPairs(hot, "doc_id", "text",
      n = 3, threshold = 0.01, maxShingleDF = Some(5L))
    assert(capped.isEmpty, "hot shingle must be dropped before the self-join")
  }

  test("ngramJaccard maxShingleDF above all DFs leaves results unchanged") {
    val uncapped = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.5)
      .collect().toSet
    val capped = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.5,
      maxShingleDF = Some(10000L)).collect().toSet
    assert(uncapped.nonEmpty && capped == uncapped)
  }

  test("ngramJaccard non-biting cap runs the exact uncapped plan") {
    // runtime plan selection: an empty hot list (checked up front, a
    // bounded AQE-style statistic) must leave ZERO correction joins in
    // the executed plan — the guard then costs only the detection scan
    val capped = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.5,
      maxShingleDF = Some(10000L), hotSampleMod = 20L)
    val plan = capped.queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti") && !plan.contains("LeftSemi"),
      s"non-biting cap must select the uncapped plan, got:\n$plan")
    assert(capped.collect().toSet ==
      DedupOps.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.5)
        .collect().toSet)
  }

  test("ngramJaccard sampled hot detection flags universal boilerplate") {
    // every doc carries the same boilerplate 3-gram; the deterministic
    // 1/2 doc sample sees it in every sampled doc, far above cap/mod,
    // so it is flagged and pairing through it stops — while each doc's
    // unique shingles (DF 1) stay unflagged
    val hot = (0 until 40).map(i =>
      (i.toLong, s"common boiler plate w${i}a w${i}b w${i}c"))
      .toDF("doc_id", "text")
    val capped = DedupOps.ngramJaccardPairs(hot, "doc_id", "text",
      n = 3, threshold = 0.01, maxShingleDF = Some(2L), hotSampleMod = 2L)
    assert(capped.isEmpty,
      "sampled detection must flag the boilerplate shingle")
  }

  test("cosine: self-similarity is 1") {
    val one = embs.limit(1)
      .select(DedupOps.cosine(
        transform(col("embedding"), x => x.cast("double")),
        transform(col("embedding"), x => x.cast("double"))).as("c"))
      .head.getDouble(0)
    assert(math.abs(one - 1.0) < 1e-12)
  }

  test("bruteForceTopK: k rows per query, ranks 1..k, self excluded") {
    val out = Similarity.bruteForceTopK(embs, embs.filter($"vec_id" < 3),
      "vec_id", "embedding", 5)
    val byQ = out.groupBy("query_id").count().collect()
    assert(byQ.forall(_.getLong(1) == 5L))
    assert(out.filter($"query_id" === $"vec_id").isEmpty)
    val ranks = out.filter($"query_id" === 0).select("rank")
      .as[Long].collect().sorted.toSeq
    assert(ranks == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("ivfTopK results are a subset-quality version of brute force") {
    val bf = Similarity.bruteForceTopK(embs, embs.filter($"vec_id" < 3),
      "vec_id", "embedding", 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(embs, embs.filter($"vec_id" < 3),
      "vec_id", "embedding", 5, bits = 4)
    // every IVF neighbor is within 1 sign-flip of the query's bucket
    assert(ivf.count() > 0)
  }

  test("ivfTopK multi-probe recall@5 beats single-probe vs exact top-k") {
    val queries = embs.filter($"vec_id" < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(embs, queries,
      "vec_id", "embedding", 5))
    val single = pairs(Similarity.ivfTopK(embs, queries,
      "vec_id", "embedding", 5, bits = 4, probeBits = 0))
    val multi = pairs(Similarity.ivfTopK(embs, queries,
      "vec_id", "embedding", 5, bits = 4, probeBits = 1))
    val rSingle = (single & exact).size.toDouble / exact.size
    val rMulti = (multi & exact).size.toDouble / exact.size
    // multi-probe sees a strict superset of single-probe's candidates →
    // recall can only improve; on this fixture it must improve strictly
    // (boundary vectors exist) and clear a floor single-probe misses
    assert(rMulti >= rSingle, s"multi $rMulti < single $rSingle")
    assert(rMulti > rSingle,
      s"fixture should exercise boundary buckets: multi=$rMulti single=$rSingle")
    assert(rMulti >= 0.5, s"multi-probe recall@5 too low: $rMulti")
  }

  test("ivfLearnedTopK: k rows per query, recall@5 >= sign-LSH ivfTopK") {
    val queries = embs.filter($"vec_id" < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(embs, queries,
      "vec_id", "embedding", 5))
    val learned = Similarity.ivfLearnedTopK(embs, queries,
      "vec_id", "embedding", k = 5, kCentroids = 8, iters = 2, nprobe = 2)
    val byQ = learned.groupBy("query_id").count().collect()
    assert(byQ.length == 8 && byQ.forall(_.getLong(1) == 5L))
    assert(learned.filter($"query_id" === $"vec_id").isEmpty)
    val signLsh = pairs(Similarity.ivfTopK(embs, queries,
      "vec_id", "embedding", 5, bits = 4, probeBits = 1))
    val rLearned = (pairs(learned) & exact).size.toDouble / exact.size
    val rSign = (signLsh & exact).size.toDouble / exact.size
    // data-adapted Lloyd cells must not lose to data-oblivious sign cuts
    // at comparable probe cost on this fixture
    assert(rLearned >= rSign,
      s"learned-centroid recall $rLearned < sign-LSH $rSign")
    assert(rLearned >= 0.5, s"learned-centroid recall@5 too low: $rLearned")
    // index reuse: serving from precomputed centroids is the SAME result
    val centroids = Clustering.kmeansCentroids(embs, "vec_id",
      "embedding", k = 8, iters = 2)
    val reused = Similarity.ivfLearnedTopKWith(embs, queries,
      "vec_id", "embedding", k = 5, centroids, nprobe = 2)
    assert(pairs(reused) == pairs(learned))
  }

  test("persisted IVF index: save → cold reload → serve reproduces " +
      "ivfLearnedTopK exactly; serve join hits the bucket partitions") {
    val queries = embs.filter($"vec_id" < 8)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf").resolve("idx").toString
    Similarity.saveIvfIndex(embs, "vec_id", "embedding", idx,
      kCentroids = 8, iters = 2)
    // index layout: one small centroid file + batch=base/bucket=<cell>
    // directories (the batch level is what makes appends idempotent)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val cells = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$idx/corpus/batch=base"))
      .map(_.getPath.getName).filter(_.startsWith("bucket="))
    assert(cells.nonEmpty && cells.length <= 8,
      s"expected <=8 cell directories, got ${cells.mkString(",")}")
    val served = Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)
    val trained = Similarity.ivfLearnedTopK(embs, queries,
      "vec_id", "embedding", k = 5, kCentroids = 8, iters = 2, nprobe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
    assert(rows(served) == rows(trained))
    // the serving scan is the PARTITIONED corpus (bucket is a partition
    // column, not a data column) — the layout that lets a 100 TB probe
    // read nprobe directories instead of the corpus
    val scan = served.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") || scan.contains("bucket#"),
      s"expected a partitioned corpus scan:\n$scan")
  }

  test("pqTopK: ADC flat scan — shape, code range, determinism, and " +
      "recall@5 vs the exact scan") {
    val queries = embs.filter($"vec_id" < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(embs, queries, "vec_id", "embedding",
      k = 5, m = 4, ks = 8, iters = 2)
    val byQ = pq.groupBy("query_id").count().collect()
    assert(byQ.length == 8 && byQ.forall(_.getLong(1) == 5L))
    assert(pq.filter($"query_id" === $"vec_id").isEmpty)
    // codes are 1-based codebook slots, bounded by ks
    val cbs = Similarity.pqCodebooks(embs, "vec_id", "embedding",
      m = 4, ks = 8, iters = 2)
    assert(cbs.length == 4 && cbs.forall(_.length == 8))
    assert(cbs.forall(_.forall(_._2.length == 16))) // 64 dims / 4
    val enc = Similarity.pqEncode(embs, "vec_id", "embedding", cbs)
    val codeCols = (0 until 4).map(i => s"code_$i")
    assert(enc.columns.toSeq == ("vec_id" +: codeCols))
    codeCols.foreach { c =>
      val mm = enc.agg(min(col(c)), max(col(c))).head()
      assert(mm.getInt(0) >= 1 && mm.getInt(1) <= 8, s"$c out of range")
    }
    // recall@5 vs exact on the RANDOM fixture: near-iid vectors have
    // concentrated pairwise distances (the top-5 gap is tiny), so any
    // quantization scrambles rank — the floor pins "far above the ~1%
    // chance rate", not parity; the structured-corpus test below is
    // where PQ must actually be good
    val exact = pairs(Similarity.bruteForceTopK(embs, queries,
      "vec_id", "embedding", 5))
    val recall = (pairs(pq) & exact).size.toDouble / exact.size
    assert(recall >= 0.15, s"PQ recall@5 too low: $recall")
    // deterministic end to end: a fresh train+encode+scan is identical
    val again = Similarity.pqTopK(embs, queries, "vec_id", "embedding",
      k = 5, m = 4, ks = 8, iters = 2)
    assert(pq.exceptAll(again).isEmpty && again.exceptAll(pq).isEmpty)
  }

  test("pqTopK on a clustered corpus: high recall when neighbors are " +
      "actually separated") {
    // 200 vectors in 8 well-separated clusters (deterministic, no RNG):
    // a spike at the cluster's home dim + small hash noise. True top-5
    // of any vector is same-cluster, and cluster structure survives
    // coarse codes — here PQ must be nearly exact, which is the recall
    // contract the random-fixture floor can't express.
    val clustered = (0 until 200).map { id =>
      val cl = id % 8
      val v = (0 until 64).map(d =>
        (if (d == cl * 8) 4.0 else 0.0) +
          ((id * 31 + d * 7) % 11) * 0.02)
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = clustered.filter($"vec_id" < 8) // one per cluster
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(clustered, queries,
      "vec_id", "embedding", 5))
    val pq = pairs(Similarity.pqTopK(clustered, queries,
      "vec_id", "embedding", k = 5, m = 4, ks = 8, iters = 2))
    val recall = (pq & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"PQ recall@5 on clustered corpus: $recall")
  }

  test("ivfPqTopK: full probe equals flat ADC; probe join is a hash " +
      "join; clustered recall@5 >= flat PQ") {
    val queries = embs.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "adist")
        .as[(Long, Long, Long, Double)].collect().toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    // probing EVERY cell degenerates to x74's flat ADC scan over the
    // same deterministic codebooks — exact output equality, the
    // composition's correctness anchor
    val coarse = Clustering.kmeansCentroids(embs, "vec_id", "embedding",
      k = 8, iters = 2)
    val cbs = Similarity.pqCodebooks(embs, "vec_id", "embedding",
      m = 4, ks = 8, iters = 2)
    val full = Similarity.ivfPqTopKWith(embs, queries, "vec_id",
      "embedding", 5, coarse, cbs, nprobe = 8)
    val flat = Similarity.pqTopK(embs, queries, "vec_id", "embedding",
      k = 5, m = 4, ks = 8, iters = 2)
    assert(rows(full) == rows(flat),
      "nprobe = kCentroids must reproduce the flat ADC scan")
    // the inverted file turns x74's scan x |Q| NLJ into an equi-join on
    // the cell id — the plan must be a broadcast HASH join
    full.collect()
    val plan = full.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"probe should be a broadcast hash join on bucket:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"IVFPQ must not fall back to the flat-scan NLJ:\n$plan")
    // clustered fixture: probe-bounded ADC keeps (here: beats) flat-PQ
    // recall — cell pruning removes far-cell vectors that quantization
    // error could otherwise rank into the top-k
    val clustered = (0 until 200).map { id =>
      val cl = id % 8
      val v = (0 until 64).map(d =>
        (if (d == cl * 8) 4.0 else 0.0) +
          ((id * 31 + d * 7) % 11) * 0.02)
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val cq = clustered.filter($"vec_id" < 8)
    val exact = pairs(Similarity.bruteForceTopK(clustered, cq,
      "vec_id", "embedding", 5))
    val flatC = pairs(Similarity.pqTopK(clustered, cq,
      "vec_id", "embedding", k = 5, m = 4, ks = 8, iters = 2))
    val ivfpq = Similarity.ivfPqTopK(clustered, cq, "vec_id",
      "embedding", k = 5, kCentroids = 8, coarseIters = 2, nprobe = 2,
      m = 4, ks = 8, pqIters = 2)
    val byQ = ivfpq.groupBy("query_id").count().collect()
    assert(byQ.length == 8 && byQ.forall(_.getLong(1) == 5L))
    val rIvfPq = (pairs(ivfpq) & exact).size.toDouble / exact.size
    val rFlat = (flatC & exact).size.toDouble / exact.size
    assert(rIvfPq >= rFlat,
      s"IVFPQ recall $rIvfPq < flat PQ recall $rFlat")
    assert(rIvfPq >= 0.8, s"IVFPQ recall@5 on clustered corpus: $rIvfPq")
  }

  test("lmDocScore: add-one bigram log-probs, hand-checked") {
    val docs3 = Seq(
      (1L, "a b a b"), (2L, "a b"), (3L, "z q")).toDF("doc_id", "text")
    val got = TextAnalysis.lmDocScore(docs3, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // c12: (a,b)=3 (b,a)=1 (z,q)=1; c1: a=3 b=1 z=1; V=3
    // lp(a,b)=ln(4/6), lp(b,a)=ln(2/4), lp(z,q)=ln(2/4)
    val lpAB = math.log(4.0 / 6.0); val lpHalf = math.log(0.5)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((3L, r6((2 * lpAB + lpHalf) / 3))))
    assert(got(2L) == ((1L, r6(lpAB))))
    assert(got(3L) == ((1L, r6(lpHalf))))
    // the corpus-typical doc outscores the rare-sequence doc
    assert(got(2L)._2 > got(3L)._2)
    // single-token docs have no bigrams → no row
    val one = TextAnalysis.lmDocScore(
      docs3.unionByName(Seq((9L, "solo")).toDF("doc_id", "text")),
      "doc_id", "text")
    assert(one.filter($"doc_id" === 9L).isEmpty)
    // single-tokenize contract (the x66 rule): LM counts and scoring
    // both derive from the per-doc (doc_id, w1, w2, cnt) aggregate —
    // its exchange must be reused, leaving one live Generate
    val out = TextAnalysis.lmDocScore(docs3, "doc_id", "text")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("ReusedExchange"),
      s"docCounts exchange not reused:\n$plan")
    val generates = "(?m)^.*Generate .*$".r.findAllIn(plan).size
    assert(generates == 1, s"expected 1 live Generate, got $generates:\n$plan")
  }

  test("vocabCoverage: tokenizes the corpus ONCE (reused exchange), " +
      "rates are exact") {
    val docs4 = Seq(
      (1L, "the cat sat"),
      (2L, "the the dog"),
      (3L, "zebra quokka the"),
      (4L, "cat")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(docs4, "doc_id", "text",
      vocabSize = 3)
    // vocab by count desc, term asc: the(5) > cat(2) > dog(1) — dog wins
    // the count-1 tie alphabetically; sat/zebra/quokka are OOV
    val got = out.select("doc_id", "n_tokens", "n_oov")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got == Map(1L -> ((3L, 1L)), 2L -> ((3L, 0L)),
      3L -> ((3L, 2L)), 4L -> ((1L, 0L))))
    // single-tokenize contract: both subtrees derive from ONE
    // (doc_id, term, count) aggregate, so the physical planner reuses
    // its Exchange — the executed plan carries exactly one live
    // Generate and a ReusedExchange marker
    out.collect()
    // AQE's toString appends the pre-adaptive "Initial Plan" — audit
    // only the final (executed) section
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("ReusedExchange"),
      s"termCounts exchange not reused:\n$plan")
    val generates = "(?m)^.*Generate .*$".r.findAllIn(plan).size
    assert(generates == 1, s"expected 1 live Generate, got $generates:\n$plan")
  }

  test("rrfFuse: hand-checked fusion — both-list vectors outrank " +
      "single-list ones; missing entries contribute zero") {
    val a = Seq((1L, 1L, 10L), (1L, 2L, 11L))
      .toDF("query_id", "rank", "vec_id")
    val b = Seq((1L, 1L, 11L), (1L, 2L, 12L))
      .toDF("query_id", "rank", "vec_id")
    val got = Similarity.rrfFuse(a, b, k = 5).collect().toList
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // v11 appears in both lists (ranks 2 and 1); v10 and v12 in one
    assert(got == List(
      (1L, 1L, 11L, r6(1.0 / 62 + 1.0 / 61)),
      (1L, 2L, 10L, r6(1.0 / 61)),
      (1L, 3L, 12L, r6(1.0 / 62))))
    // fused against itself, a list keeps its own order
    val self = Similarity.rrfFuse(a, a, k = 5)
      .select("rank", "vec_id").as[(Long, Long)].collect().toList
    assert(self == List((1L, 10L), (2L, 11L)))
  }

  test("rrfFuseN: three-list fusion hand-checked; 2-list form is the " +
      "N-ary fold; contributions sum in fixed list order") {
    val a = Seq((1L, 1L, 10L), (1L, 2L, 11L))
      .toDF("query_id", "rank", "vec_id")
    val b = Seq((1L, 1L, 11L), (1L, 2L, 12L))
      .toDF("query_id", "rank", "vec_id")
    val c = Seq((1L, 1L, 12L), (1L, 2L, 10L))
      .toDF("query_id", "rank", "vec_id")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = Similarity.rrfFuseN(Seq(a, b, c), k = 5).collect().toList
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // v10: a@1 + c@2; v11: a@2 + b@1; v12: b@2 + c@1 — all two-list
    // ties on value break on vec_id
    assert(got == List(
      (1L, 1L, 10L, r6(1.0 / 61 + 1.0 / 62)),
      (1L, 2L, 11L, r6(1.0 / 62 + 1.0 / 61)),
      (1L, 3L, 12L, r6(1.0 / 62 + 1.0 / 61))))
    // the 2-list entry point delegates to the same fold
    val two = Similarity.rrfFuse(a, b, k = 5).collect().toList
    val twoN = Similarity.rrfFuseN(Seq(a, b), k = 5).collect().toList
    assert(two == twoN)
    // degenerate list count rejected
    intercept[IllegalArgumentException](
      Similarity.rrfFuseN(Seq(a), k = 5))
  }

  test("bm25RankedList: retriever-list schema carrying the BM25 order") {
    val docs5 = Seq(
      (1L, "hash join hash"),
      (2L, "scan scan scan scan"),
      (3L, "join"),
      (4L, "hash merge")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25RankedList(docs5, "doc_id", "text",
        Seq("hash", "join", "merge"), k = 10, queryId = 7L)
      .as[(Long, Long, Long)].collect().toList
    // same ranking as the bm25TopK test: doc4 > doc1 > doc3; doc2 absent
    assert(got == List((7L, 1L, 4L), (7L, 2L, 1L), (7L, 3L, 3L)))
  }

  test("hardNegatives: top-k different-label vectors, consistent with " +
      "the exact full ranking") {
    val queries = embs.filter($"vec_id" < 8)
    val neg = Similarity.hardNegatives(embs, queries, "vec_id",
      "embedding", "label", k = 3)
    val byQ = neg.groupBy("query_id").count().collect()
    assert(byQ.length == 8 && byQ.forall(_.getLong(1) == 3L))
    // no negative carries its query's label
    val labels = embs.select($"vec_id", $"label").as[(Long, Int)]
      .collect().toMap
    neg.select("query_id", "vec_id").as[(Long, Long)].collect()
      .foreach { case (q, v) =>
        assert(labels(q) != labels(v), s"negative $v shares label of $q")
      }
    // consistency with the exact scan: the negatives are exactly the
    // first 3 different-label entries of the full cosine ranking
    val full = Similarity.bruteForceTopK(embs, queries, "vec_id",
        "embedding", k = embs.count().toInt)
      .select("query_id", "rank", "vec_id")
      .as[(Long, Long, Long)].collect()
    val got = neg.select("query_id", "rank", "vec_id")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toList)
    full.groupBy(_._1).foreach { case (q, rows) =>
      val want = rows.sortBy(_._2).map(_._3)
        .filter(v => labels(v) != labels(q)).take(3).toList
      assert(got(q) == want, s"query $q: got ${got(q)}, want $want")
    }
  }

  test("bm25TopK: hand-checked scores and ranking; explode is query-" +
      "term-filtered at the scan, top-k is TakeOrdered not a global window") {
    val docs5 = Seq(
      (1L, "hash join hash"),
      (2L, "scan scan scan scan"),
      (3L, "join"),
      (4L, "hash merge")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs5, "doc_id", "text",
      Seq("hash", "join", "merge"), k = 10)
    val got = out.select("doc_id", "n_terms", "score")
      .as[(Long, Long, Double)].collect().toList
    // N=4, total_len=10 (avgdl 2.5); df: hash=2, join=2, merge=1.
    // Rational idf: hash/join (4-2+.5)/2.5 = 1, merge (4-1+.5)/1.5.
    // norm(dl) = 1.2*(0.25 + 0.75*dl/2.5).
    def score(terms: Seq[(Double, Long)], dl: Long): Double = {
      val norm = 1.2 * (1.0 - 0.75 + 0.75 * (dl * 4L).toDouble / 10.0)
      val s = terms.map { case (idf, tf) =>
        BigDecimal.valueOf(idf * (tf * (1.2 + 1.0)) / (tf + norm))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      s.toDouble // exact decimal sum; values far from round-6 edges
    }
    val idfM = (4L - 1L + 0.5) / (1L + 0.5)
    val exp = List(
      (4L, 2L, score(Seq((1.0, 1L), (idfM, 1L)), 2L)),
      (1L, 2L, score(Seq((1.0, 2L), (1.0, 1L)), 3L)),
      (3L, 1L, score(Seq((1.0, 1L)), 1L)))
    assert(got.map(t => (t._1, t._2)) == exp.map(t => (t._1, t._2)))
    got.zip(exp).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 1e-6, s"doc ${g._1}: $g vs $e") }
    // doc 2 has no query term — absent, not zero-scored
    assert(!got.exists(_._1 == 2L))
    // scale-shape contract: the corpus is tokenized ONCE — tf rows and
    // corpus stats both derive from the per-doc (doc_id, dl, term, tf)
    // aggregate, whose exchange the planner must dedupe (ReusedExchange,
    // one live Generate); the query-term filter runs INSIDE the array
    // below the explode, so only query-term (+1 sentinel) rows shuffle
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("ReusedExchange"),
      s"per-doc tf exchange not reused by the stats branch:\n$plan")
    val generates = "(?m)^.*Generate .*$".r.findAllIn(plan).size
    assert(generates == 1, s"expected 1 live Generate, got $generates:\n$plan")
    // global top-k must be per-partition heaps, not a 1-task window
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k is not TakeOrdered:\n$plan")
  }

  test("termDrift: smoothed rational odds hand-checked; one tokenize " +
      "per snapshot (reused exchanges), totals in-plan") {
    val a = Seq((0L, "x x x common common"), (2L, "common"))
      .toDF("doc_id", "text")
    val b = Seq((1L, "y y y common common"), (3L, "common"))
      .toDF("doc_id", "text")
    // counts — A: x=3, common=3; B: y=3, common=3. Na=Nb=6, V=3.
    // drift(x) = (3+1)(6+3) / (0+1)(6+3) = 4; y symmetric; common = 1.
    val out = TextAnalysis.termDrift(a, b, "text", minCount = 1L,
      topN = 10)
    val got = out.collect().toList
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == List(("x", 3L, 0L, 4.0), ("y", 0L, 3L, 4.0),
      ("common", 3L, 3L, 1.0)))
    // each snapshot is tokenized ONCE even though the joined counts
    // feed both the totals aggregate and the scoring branch: the
    // term-count exchanges are reused, leaving one live Generate per
    // snapshot
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("ReusedExchange"),
      s"term-count exchanges not reused:\n$plan")
    val generates = "(?m)^.*Generate .*$".r.findAllIn(plan).size
    assert(generates == 2, s"expected 2 live Generates, got $generates:\n$plan")
  }

  test("appendToIvfIndex: appended index == subset-trained centroids " +
      "served over the full corpus; empty append is a no-op") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_app").resolve("idx").toString
    val subset = embs.filter($"vec_id" < 300)
    Similarity.saveIvfIndex(subset, "vec_id", "embedding", idx,
      kCentroids = 8, iters = 2)
    Similarity.appendToIvfIndex(spark, idx,
      embs.filter($"vec_id" >= 300), "vec_id", "embedding", "b1")
    val queries = embs.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
    val served = rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2))
    val centroids = Clustering.kmeansCentroids(subset, "vec_id",
      "embedding", k = 8, iters = 2)
    val direct = rows(Similarity.ivfLearnedTopKWith(embs, queries,
      "vec_id", "embedding", k = 5, centroids, nprobe = 2))
    assert(served == direct)
    Similarity.appendToIvfIndex(spark, idx,
      embs.filter($"vec_id" < 0), "vec_id", "embedding", "b2")
    assert(rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == served)
    // retry idempotency: an applied batchId is a manifest no-op — no
    // duplicate vectors, no new manifest version, identical serve
    val hfs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sessionState.newHadoopConf())
    def live(): org.apache.spark.sql.DataFrame = {
      val segs = graft.sinks.IndexManifest.latest(hfs, idx).get
        .segs("corpus")
      spark.read.parquet(s"$idx/corpus")
        .filter($"batch".isin(segs: _*))
    }
    val n = live().count()
    val v0 = graft.sinks.IndexManifest.latest(hfs, idx).get.version
    Similarity.appendToIvfIndex(spark, idx,
      embs.filter($"vec_id" >= 300), "vec_id", "embedding", "b1")
    assert(graft.sinks.IndexManifest.latest(hfs, idx).get.version == v0)
    assert(live().count() == n)
    assert(rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == served)
    intercept[IllegalArgumentException](Similarity.appendToIvfIndex(
      spark, idx, embs, "vec_id", "embedding", "base"))
    // compaction (x99): segments fold into one compact_v* segment,
    // serve unchanged, applied record carried so a late retry of a
    // folded batch still no-ops
    Similarity.compactIvfIndex(spark, idx)
    val snap = graft.sinks.IndexManifest.latest(hfs, idx).get
    assert(snap.segs("corpus").length == 1 &&
      snap.segs("corpus").head.startsWith("compact_v"),
      s"expected one folded segment, got ${snap.segs("corpus")}")
    assert(snap.applied.contains("b1"))
    assert(live().count() == n)
    assert(rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == served)
    Similarity.appendToIvfIndex(spark, idx,
      embs.filter($"vec_id" >= 300), "vec_id", "embedding", "b1")
    assert(live().count() == n,
      "late retry of a compacted-away batch must no-op")
    // cell-occupancy monitoring (x105) covers the full live snapshot
    val cs = Similarity.ivfCellStats(spark, idx)
      .as[(Long, Long, Double)].collect()
    assert(cs.map(_._2).sum == n, "cell counts must sum to the corpus")
    assert(math.abs(cs.map(_._3).sum - 1.0) < 1e-4,
      "cell fractions must sum to ~1")
    // vacuum reclaims the pre-compaction segment dirs; serve unchanged
    Similarity.vacuumIvfIndex(spark, idx, keepVersions = 1)
    val dirs = hfs.listStatus(
        new org.apache.hadoop.fs.Path(s"$idx/corpus"))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
    assert(dirs == Seq(s"batch=${snap.segs("corpus").head}"),
      s"vacuum must drop unreferenced segments, got $dirs")
    assert(rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == served)
  }

  test("retrainIvfIndex (x108): re-buckets the live corpus under " +
      "fresh centroids == full-corpus training; one-commit generation " +
      "swap; applied record survives; vacuum reclaims the old " +
      "generation") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_retrain").resolve("idx").toString
    val queries = embs.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
    Similarity.saveIvfIndex(embs.filter($"vec_id" < 300), "vec_id",
      "embedding", idx, kCentroids = 8, iters = 2)
    Similarity.appendToIvfIndex(spark, idx,
      embs.filter($"vec_id" >= 300), "vec_id", "embedding", "b1")
    // a reader resolved BEFORE the retrain keeps the old generation
    val oldReader = Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)
    val oldAnswer = rows(oldReader)
    Similarity.retrainIvfIndex(spark, idx, kCentroids = 8, iters = 2)
    assert(rows(oldReader) == oldAnswer,
      "pre-retrain reader must finish on its own generation")
    // retrained serve == per-call training on the full corpus
    assert(rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) ==
      rows(Similarity.ivfLearnedTopK(embs, queries, "vec_id",
        "embedding", k = 5, kCentroids = 8, iters = 2, nprobe = 2)))
    // the applied record survives: a late retry of b1 still no-ops
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sessionState.newHadoopConf())
    val segsAfter = graft.sinks.IndexManifest.latest(fs, idx).get
      .segs("corpus")
    assert(segsAfter.length == 1 &&
      segsAfter.head.startsWith("retrain_v"))
    Similarity.appendToIvfIndex(spark, idx,
      embs.filter($"vec_id" >= 300), "vec_id", "embedding", "b1")
    assert(graft.sinks.IndexManifest.latest(fs, idx).get
      .segs("corpus") == segsAfter)
    // vacuum sweeps the old centroid generation + corpus segments
    Similarity.vacuumIvfIndex(spark, idx, keepVersions = 1)
    val cgens = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$idx/centroids"))
      .map(_.getPath.getName).filter(!_.startsWith("_")).toSeq
    assert(cgens.length == 1 && cgens.head.startsWith("retrain_v"),
      s"old centroid generation must be reclaimed, got $cgens")
    assert(rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) ==
      rows(Similarity.ivfLearnedTopK(embs, queries, "vec_id",
        "embedding", k = 5, kCentroids = 8, iters = 2, nprobe = 2)))
  }

  test("deleteFromIvfIndex (x124): tombstoned vectors vanish from " +
      "every reader; compaction removes physically; re-adds serve; " +
      "retrain bakes the deletion in; time travel predates it") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_del").resolve("idx").toString
    val queries = embs.filter($"vec_id" < 8)
    val live = embs.filter($"vec_id" % 3 =!= 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
    Similarity.saveIvfIndex(embs, "vec_id", "embedding", idx,
      kCentroids = 8, iters = 2)
    val before = rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2))
    val hfs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sessionState.newHadoopConf())
    val v0 = graft.sinks.IndexManifest.latest(hfs, idx).get.version
    Similarity.deleteFromIvfIndex(spark, idx,
      embs.filter($"vec_id" % 3 === 1).select($"vec_id"), "vec_id",
      "d1")
    // serve == full-corpus-trained centroids over the live corpus only
    val centroids = Clustering.kmeansCentroids(embs, "vec_id",
      "embedding", k = 8, iters = 2)
    val served = rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2))
    assert(served == rows(Similarity.ivfLearnedTopKWith(live, queries,
      "vec_id", "embedding", k = 5, centroids, nprobe = 2)))
    // monitoring sees the live corpus; time travel predates the delete
    assert(Similarity.ivfCellStats(spark, idx)
      .agg(sum($"n_vecs")).as[Long].head() == live.count())
    assert(rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2,
      asOfVersion = Some(v0))) == before)
    // retry no-ops
    val v1 = graft.sinks.IndexManifest.latest(hfs, idx).get.version
    Similarity.deleteFromIvfIndex(spark, idx,
      embs.filter($"vec_id" % 3 === 1).select($"vec_id"), "vec_id",
      "d1")
    assert(graft.sinks.IndexManifest.latest(hfs, idx).get.version == v1)
    // compaction: tombstones fold away, rows physically removed,
    // answers unchanged
    Similarity.compactIvfIndex(spark, idx)
    val snap = graft.sinks.IndexManifest.latest(hfs, idx).get
    assert(snap.segs("deletes").isEmpty)
    assert(spark.read.parquet(s"$idx/corpus")
      .filter($"batch".isin(snap.segs("corpus"): _*))
      .filter($"vec_id" % 3 === 1).count() == 0L,
      "compaction must remove tombstoned vectors physically")
    assert(rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == served)
    // re-add: a deleted id appended later lands outside every
    // tombstone scope and serves again (the reindex primitive)
    Similarity.appendToIvfIndex(spark, idx,
      embs.filter($"vec_id" === 1), "vec_id", "embedding", "b2")
    assert(rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) ==
      rows(Similarity.ivfLearnedTopKWith(
        live.unionByName(embs.filter($"vec_id" === 1)), queries,
        "vec_id", "embedding", k = 5, centroids, nprobe = 2)))
    // retrain on the live corpus bakes the deletion in: equals
    // per-call training on live-minus-deleted (plus the re-add)
    Similarity.retrainIvfIndex(spark, idx, kCentroids = 8, iters = 2)
    val liveNow = live.unionByName(embs.filter($"vec_id" === 1))
    assert(rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) ==
      rows(Similarity.ivfLearnedTopK(liveNow, queries, "vec_id",
        "embedding", k = 5, kCentroids = 8, iters = 2, nprobe = 2)))
    assert(graft.sinks.IndexManifest.latest(hfs, idx).get
      .segs("deletes").isEmpty, "retrain must drop baked-in tombstones")
  }

  test("IVF delete races: stale delete aborts after compaction; stale " +
      "compaction/retrain abort after a delete; appends compose") {
    import graft.sinks.IndexManifest
    def hfs(p: String) = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val delIds = embs.filter($"vec_id" % 3 === 1).select($"vec_id")
    // (a) compaction wins → the stale delete's scopes dangle → abort
    val a = java.nio.file.Files
      .createTempDirectory("graft_ivf_delrace").resolve("a").toString
    Similarity.saveIvfIndex(embs.filter($"vec_id" < 300), "vec_id",
      "embedding", a, kCentroids = 8, iters = 2)
    Similarity.appendToIvfIndex(spark, a,
      embs.filter($"vec_id" >= 300), "vec_id", "embedding", "b1")
    val staleA = IndexManifest.latest(hfs(a), a).get
    Similarity.compactIvfIndex(spark, a)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.deleteFromIvfIndexFrom(spark, a, delIds, "vec_id",
        "d1", staleA)
    }
    assert(e1.getMessage.contains("compaction/retrain replaced"))
    // (b) delete wins → the stale compaction would fold the scoped
    // segments out from under the tombstones → abort; rerun folds both
    // (a second append first, so the stale snapshot has segments to
    // fold — a single-segment no-delete snapshot no-ops harmlessly)
    Similarity.appendToIvfIndex(spark, a,
      embs.filter($"vec_id" < 0), "vec_id", "embedding", "b2")
    val staleB = IndexManifest.latest(hfs(a), a).get
    Similarity.deleteFromIvfIndex(spark, a, delIds, "vec_id", "d1")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.compactIvfIndexFrom(spark, a, staleB)
    }
    assert(e2.getMessage.contains("delete committed during compaction"))
    Similarity.compactIvfIndex(spark, a)
    assert(IndexManifest.latest(hfs(a), a).get.segs("deletes").isEmpty)
    // (c) delete wins → the stale retrain would replace the scoped
    // segments → abort
    val c = java.nio.file.Files
      .createTempDirectory("graft_ivf_delrace").resolve("c").toString
    Similarity.saveIvfIndex(embs, "vec_id", "embedding", c,
      kCentroids = 8, iters = 2)
    val staleC = IndexManifest.latest(hfs(c), c).get
    Similarity.deleteFromIvfIndex(spark, c, delIds, "vec_id", "d1")
    val e3 = intercept[IllegalArgumentException] {
      Similarity.retrainIvfIndexFrom(spark, c, staleC, kCentroids = 8,
        iters = 2)
    }
    assert(e3.getMessage.contains("delete committed during retrain"))
    // (d) append lands mid-delete → the delete composes (its scopes
    // cover only segments it saw; the appended batch is untouched)
    val d = java.nio.file.Files
      .createTempDirectory("graft_ivf_delrace").resolve("d").toString
    Similarity.saveIvfIndex(embs.filter($"vec_id" < 300), "vec_id",
      "embedding", d, kCentroids = 8, iters = 2)
    val staleD = IndexManifest.latest(hfs(d), d).get
    Similarity.appendToIvfIndex(spark, d,
      embs.filter($"vec_id" >= 300), "vec_id", "embedding", "b1")
    Similarity.deleteFromIvfIndexFrom(spark, d, delIds, "vec_id", "d1",
      staleD)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
    val queries = embs.filter($"vec_id" < 8)
    val liveD = embs.filter($"vec_id" < 300 && $"vec_id" % 3 =!= 1)
      .unionByName(embs.filter($"vec_id" >= 300))
    val cD = Clustering.kmeansCentroids(embs.filter($"vec_id" < 300),
      "vec_id", "embedding", k = 8, iters = 2)
    assert(rows(Similarity.queryIvfIndex(spark, d, queries, "vec_id",
      "embedding", k = 5, nprobe = 2)) ==
      rows(Similarity.ivfLearnedTopKWith(liveD, queries, "vec_id",
        "embedding", k = 5, cD, nprobe = 2)))
  }

  test("streaming CDC into the IVF index (x128): net state lands; a " +
      "full re-stream from a fresh checkpoint is a no-op; " +
      "reindexIvfVecs replaces in place") {
    import org.apache.hadoop.fs.Path
    val base = java.nio.file.Files
      .createTempDirectory("graft_ivf_cdc").toString
    val hfs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    val queries = embs.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
    Similarity.saveIvfIndex(embs.filter($"vec_id" < 300), "vec_id",
      "embedding", s"$base/idx", kCentroids = 8, iters = 2)
    // reindexIvfVecs alone: re-embed [50,80) negated — serve equals
    // frozen centroids over the edited corpus
    val asD = $"embedding".cast("array<double>")
    Similarity.reindexIvfVecs(spark, s"$base/idx",
      embs.filter($"vec_id" >= 50 && $"vec_id" < 80)
        .select($"vec_id", transform(asD, x => -x).as("embedding")),
      "vec_id", "embedding", "r1")
    val centroids = Clustering.kmeansCentroids(
      embs.filter($"vec_id" < 300), "vec_id", "embedding", k = 8,
      iters = 2)
    val edited = embs.filter($"vec_id" < 300)
      .select($"vec_id",
        when($"vec_id" >= 50 && $"vec_id" < 80,
          transform(asD, x => -x)).otherwise(asD).as("embedding"))
    assert(rows(Similarity.queryIvfIndex(spark, s"$base/idx", queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) ==
      rows(Similarity.ivfLearnedTopKWith(edited, queries, "vec_id",
        "embedding", k = 5, centroids, nprobe = 2)))
    // the CDC writer: a delete batch + an insert batch stream in; a
    // full re-stream from a fresh checkpoint must commit nothing
    val b1 = embs.filter($"vec_id" % 4 === 1 && $"vec_id" < 300)
      .select($"vec_id",
        lit(null).cast("array<double>").as("embedding"),
        lit("delete").as("op"))
    val b2 = embs.filter($"vec_id" >= 300 && $"vec_id" < 330)
      .select($"vec_id", asD.as("embedding"), lit("upsert").as("op"))
    graft.SparkEntry.landOrdered(spark, Seq(b1, b2), s"$base/changes")
    val schema = spark.read.parquet(s"$base/changes").schema
    def run(ckpt: String): Unit = {
      val q = graft.streaming.StreamIndex.ivfCdcWriter(spark,
          s"$base/changes", schema, s"$base/idx", "vec_id",
          "embedding", "op")
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    run(s"$base/ckpt1")
    val net = edited.filter(!($"vec_id" % 4 === 1))
      .unionByName(embs.filter($"vec_id" >= 300 && $"vec_id" < 330)
        .select($"vec_id", asD.as("embedding")))
    val served = rows(Similarity.queryIvfIndex(spark, s"$base/idx",
      queries, "vec_id", "embedding", k = 5, nprobe = 2))
    assert(served == rows(Similarity.ivfLearnedTopKWith(net, queries,
      "vec_id", "embedding", k = 5, centroids, nprobe = 2)))
    val v0 = graft.sinks.IndexManifest.latest(hfs, s"$base/idx")
      .get.version
    run(s"$base/ckpt2")
    assert(graft.sinks.IndexManifest.latest(hfs, s"$base/idx")
      .get.version == v0, "replayed CDC batches must not commit")
  }

  test("filtered vector search (x129): metadata rides the whole " +
      "lifecycle — append infers it, compact and retrain carry it, " +
      "deletes compose; pre-filter yields k survivors") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_filt").resolve("idx").toString
    val queries = embs.filter($"vec_id" < 8)
    val withMeta = embs.withColumn("lang",
      when($"vec_id" % 3 === 0, "en")
        .when($"vec_id" % 3 === 1, "fr").otherwise("de"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
    Similarity.saveIvfIndex(withMeta.filter($"vec_id" < 300),
      "vec_id", "embedding", idx, kCentroids = 8, iters = 2,
      metaCols = Seq("lang"))
    // append WITHOUT naming metaCols — inferred from the stored schema
    Similarity.appendToIvfIndex(spark, idx,
      withMeta.filter($"vec_id" >= 300), "vec_id", "embedding", "b1")
    val centroids = Clustering.kmeansCentroids(
      embs.filter($"vec_id" < 300), "vec_id", "embedding", k = 8,
      iters = 2)
    val en = embs.filter($"vec_id" % 3 === 0)
    val expect = rows(Similarity.ivfLearnedTopKWith(en, queries,
      "vec_id", "embedding", k = 5, centroids, nprobe = 2))
    def filtered() = rows(Similarity.queryIvfIndexFiltered(spark, idx,
      queries, "vec_id", "embedding", k = 5,
      predicate = $"lang" === "en", nprobe = 2))
    assert(filtered() == expect)
    // every query gets k survivors — the pre-filter property a
    // post-filter of the unfiltered top-k cannot give
    assert(Similarity.queryIvfIndexFiltered(spark, idx, queries,
      "vec_id", "embedding", k = 5, predicate = $"lang" === "en",
      nprobe = 2).groupBy($"query_id").count()
      .select($"count").as[Long].collect().forall(_ == 5L))
    // compaction carries the metadata
    Similarity.compactIvfIndex(spark, idx)
    assert(filtered() == expect)
    // a delete composes with the filter
    Similarity.deleteFromIvfIndex(spark, idx,
      embs.filter($"vec_id" % 3 === 0 && $"vec_id" % 5 === 0)
        .select($"vec_id"), "vec_id", "d1")
    val enLive = en.filter(!($"vec_id" % 5 === 0))
    assert(filtered() == rows(Similarity.ivfLearnedTopKWith(enLive,
      queries, "vec_id", "embedding", k = 5, centroids, nprobe = 2)))
    // retrain carries the metadata and bakes the delete in
    Similarity.retrainIvfIndex(spark, idx, kCentroids = 8, iters = 2)
    val liveAll = embs.filter(
      !($"vec_id" % 3 === 0 && $"vec_id" % 5 === 0))
    val retrained = Clustering.kmeansCentroids(liveAll, "vec_id",
      "embedding", k = 8, iters = 2)
    assert(filtered() == rows(Similarity.ivfLearnedTopKWith(enLive,
      queries, "vec_id", "embedding", k = 5, retrained, nprobe = 2)))
  }

  test("IVFPQ delete: tombstoned codes vanish from the ADC serve; " +
      "compaction folds them away physically") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_del").resolve("idx").toString
    val queries = embs.filter($"vec_id" < 8)
    val live = embs.filter($"vec_id" % 3 =!= 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "adist")
        .as[(Long, Long, Long, Double)].collect().toSet
    Similarity.saveIvfPqIndex(embs, "vec_id", "embedding", idx,
      kCentroids = 8, coarseIters = 2, m = 4, ks = 8, pqIters = 2)
    Similarity.deleteFromIvfIndex(spark, idx,
      embs.filter($"vec_id" % 3 === 1).select($"vec_id"), "vec_id",
      "d1")
    val coarse = Clustering.kmeansCentroids(embs, "vec_id",
      "embedding", k = 8, iters = 2)
    val cbs = Similarity.pqCodebooks(embs, "vec_id", "embedding",
      m = 4, ks = 8, iters = 2)
    val expect = rows(Similarity.ivfPqTopKWith(live, queries, "vec_id",
      "embedding", k = 5, coarse, cbs, nprobe = 2))
    assert(rows(Similarity.queryIvfPqIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == expect)
    Similarity.compactIvfPqIndex(spark, idx)
    val hfs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sessionState.newHadoopConf())
    val snap = graft.sinks.IndexManifest.latest(hfs, idx).get
    assert(snap.segs("deletes").isEmpty)
    assert(spark.read.parquet(s"$idx/corpus")
      .filter($"batch".isin(snap.segs("corpus"): _*))
      .filter($"vec_id" % 3 === 1).count() == 0L)
    assert(rows(Similarity.queryIvfPqIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == expect)
  }

  test("filtered vector search on the CODES layout (x145): metadata " +
      "rides save → append → compact → retrain; deletes compose; " +
      "pre-filter yields k survivors") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_filt").resolve("idx").toString
    val queries = embs.filter($"vec_id" < 8)
    val withMeta = embs.withColumn("lang",
      when($"vec_id" % 3 === 0, "en")
        .when($"vec_id" % 3 === 1, "fr").otherwise("de"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "adist")
        .as[(Long, Long, Long, Double)].collect().toSet
    Similarity.saveIvfPqIndex(withMeta.filter($"vec_id" < 300),
      "vec_id", "embedding", idx, kCentroids = 8, coarseIters = 2,
      m = 4, ks = 8, pqIters = 2, metaCols = Seq("lang"))
    // append WITHOUT naming metaCols — inferred from the stored schema
    Similarity.appendToIvfPqIndex(spark, idx,
      withMeta.filter($"vec_id" >= 300), "vec_id", "embedding", "b1")
    val train = embs.filter($"vec_id" < 300)
    val coarse = Clustering.kmeansCentroids(train, "vec_id",
      "embedding", k = 8, iters = 2)
    val cbs = Similarity.pqCodebooks(train, "vec_id", "embedding",
      m = 4, ks = 8, iters = 2)
    val en = embs.filter($"vec_id" % 3 === 0)
    val expect = rows(Similarity.ivfPqTopKWith(en, queries, "vec_id",
      "embedding", k = 5, coarse, cbs, nprobe = 2))
    def filtered() = rows(Similarity.queryIvfPqIndexFiltered(spark,
      idx, queries, "vec_id", "embedding", k = 5,
      predicate = $"lang" === "en", nprobe = 2))
    assert(filtered() == expect)
    // every query gets k survivors — the pre-filter property
    assert(Similarity.queryIvfPqIndexFiltered(spark, idx, queries,
      "vec_id", "embedding", k = 5, predicate = $"lang" === "en",
      nprobe = 2).groupBy($"query_id").count()
      .select($"count").as[Long].collect().forall(_ == 5L))
    // compaction carries the metadata
    Similarity.compactIvfPqIndex(spark, idx)
    assert(filtered() == expect)
    // a delete composes with the filter
    Similarity.deleteFromIvfIndex(spark, idx,
      embs.filter($"vec_id" % 3 === 0 && $"vec_id" % 5 === 0)
        .select($"vec_id"), "vec_id", "d1")
    val enLive = en.filter(!($"vec_id" % 5 === 0))
    assert(filtered() == rows(Similarity.ivfPqTopKWith(enLive,
      queries, "vec_id", "embedding", k = 5, coarse, cbs, nprobe = 2)))
    // retrain re-encodes the caller corpus (which must carry the
    // metadata) and bakes the delete in
    val liveAll = withMeta.filter(
      !($"vec_id" % 3 === 0 && $"vec_id" % 5 === 0))
    Similarity.retrainIvfPqIndex(spark, idx, liveAll, "vec_id",
      "embedding", kCentroids = 8, coarseIters = 2, m = 4, ks = 8,
      pqIters = 2)
    val coarse2 = Clustering.kmeansCentroids(liveAll, "vec_id",
      "embedding", k = 8, iters = 2)
    val cbs2 = Similarity.pqCodebooks(liveAll, "vec_id", "embedding",
      m = 4, ks = 8, iters = 2)
    assert(filtered() == rows(Similarity.ivfPqTopKWith(enLive,
      queries, "vec_id", "embedding", k = 5, coarse2, cbs2,
      nprobe = 2)))
    // a retrain from a corpus MISSING the metadata is a clear error
    val e = intercept[IllegalArgumentException](
      Similarity.retrainIvfPqIndex(spark, idx,
        embs.filter($"vec_id" < 50), "vec_id", "embedding"))
    assert(e.getMessage.contains("metadata"))
  }

  test("minhash ledger delete (x125): tombstoned docs stop blocking " +
      "admission; re-append re-learns; compaction removes physically; " +
      "stale committers abort") {
    import graft.sinks.IndexManifest
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mh_del").resolve("idx").toString
    val hfs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sessionState.newHadoopConf())
    val base = docs.filter($"doc_id" < 250)
    DedupOps.saveMinhashIndex(base, "doc_id", "text", idx)
    // replayed copies of indexed docs (shifted ids) self-reject...
    val replay = base.withColumn("doc_id", $"doc_id" + 10000)
    val admittedBefore = DedupOps.minhashAdmit(spark, idx, replay,
      "doc_id", "text").select($"doc_id").as[Long].collect().toSet
    // ...except sig-less short docs (< n=3 tokens), which always admit
    val sigless = replay
      .filter(size(split(trim($"text"), "\\s+")) < 3)
      .select($"doc_id").as[Long].collect().toSet
    assert(admittedBefore == sigless,
      "exactly the sig-less replays admit pre-delete")
    // delete a quarter of the corpus: admission must equal the
    // cross-side minhashPairs restriction against the LIVE corpus
    // only (a deleted doc can no longer reject anything; a replay of
    // a deleted doc still rejects iff it near-dups a LIVE doc)
    DedupOps.deleteFromMinhashIndex(spark, idx,
      base.filter($"doc_id" % 4 === 2).select($"doc_id"), "doc_id",
      "d1")
    val admittedAfter = DedupOps.minhashAdmit(spark, idx, replay,
      "doc_id", "text").select($"doc_id").as[Long].collect().toSet
    val liveUnion = base.filter($"doc_id" % 4 =!= 2).unionByName(replay)
    val crossRejected = DedupOps.minhashPairs(liveUnion, "doc_id",
        "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) =>
        Seq(a, b).filter(x => x >= 10000 &&
          (if (x == a) b < 10000 else a < 10000))
      }.toSet
    val replayIds = replay.select($"doc_id").as[Long].collect().toSet
    assert(admittedAfter == replayIds -- crossRejected,
      "post-delete admission must equal the live-corpus cross-side " +
        "minhashPairs restriction")
    assert(admittedBefore.subsetOf(admittedAfter),
      "deletion can only widen admission")
    assert((admittedAfter -- admittedBefore).nonEmpty,
      "non-vacuity: some replay of a deleted doc must now admit")
    // re-append re-learns: the deleted docs' signatures return as a
    // fresh segment outside the tombstone's scope
    DedupOps.appendToMinhashIndex(spark, idx,
      base.filter($"doc_id" % 4 === 2), "doc_id", "text", "b2")
    assert(DedupOps.minhashAdmit(spark, idx, replay, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet == admittedBefore)
    // compaction folds tombstones away physically, admission unchanged
    DedupOps.compactMinhashIndex(spark, idx)
    val snap = IndexManifest.latest(hfs, idx).get
    assert(snap.segs("deletes").isEmpty)
    assert(DedupOps.minhashAdmit(spark, idx, replay, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet == admittedBefore)
    // races: a stale compaction after a delete aborts; a stale delete
    // after a compaction aborts. (An extra append first, so the stale
    // snapshot has segments to fold — single-segment no-delete
    // snapshots no-op harmlessly.)
    DedupOps.appendToMinhashIndex(spark, idx,
      docs.filter($"doc_id" >= 250 && $"doc_id" < 270), "doc_id",
      "text", "b2b")
    val stale = IndexManifest.latest(hfs, idx).get
    DedupOps.deleteFromMinhashIndex(spark, idx,
      base.filter($"doc_id" % 4 === 0).select($"doc_id"), "doc_id",
      "d2")
    val e1 = intercept[IllegalArgumentException] {
      DedupOps.compactMinhashIndexFrom(spark, idx, stale)
    }
    assert(e1.getMessage.contains("delete committed during compaction"))
    DedupOps.compactMinhashIndex(spark, idx)
    val stale2 = IndexManifest.latest(hfs, idx).get
    DedupOps.appendToMinhashIndex(spark, idx,
      docs.filter($"doc_id" >= 270 && $"doc_id" < 300), "doc_id",
      "text", "b3")
    DedupOps.compactMinhashIndex(spark, idx)
    val e2 = intercept[IllegalArgumentException] {
      DedupOps.deleteFromMinhashIndexFrom(spark, idx,
        base.filter($"doc_id" % 4 === 1).select($"doc_id"), "doc_id",
        "d3", stale2)
    }
    assert(e2.getMessage.contains("concurrent compaction folded"))
  }

  test("minhash index (x118/x119): admission == minhashPairs' " +
      "cross-side restriction; append grows the ledger; replayed " +
      "batches self-reject; compaction/vacuum invariance") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mh_idx").resolve("idx").toString
    val corpus = docs.filter($"doc_id" < 250)
    val incoming = docs.filter($"doc_id" >= 250)
    DedupOps.saveMinhashIndex(corpus, "doc_id", "text", idx)
    val admitted = DedupOps.minhashAdmit(spark, idx, incoming,
      "doc_id", "text").select("doc_id").as[Long].collect().toSet
    // oracle: the per-call pair op over the union, restricted to
    // cross-side pairs — rejected incoming ids are exactly those with
    // a verified near-dup in the corpus
    val crossRejected = DedupOps.minhashPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) =>
        Seq(a, b).filter(x => x >= 250 &&
          (if (x == a) b < 250 else a < 250))
      }.toSet
    val incomingIds = incoming.select("doc_id").as[Long].collect().toSet
    assert(admitted == incomingIds -- crossRejected,
      "admit must equal the cross-side minhashPairs restriction")
    // append the admitted slice; a REPLAY of those docs now
    // self-rejects (est = 1.0 against their own signatures) except
    // docs too short to carry a signature, which admit forever
    val admittedDf = incoming.filter($"doc_id".isin(
      admitted.toSeq: _*))
    DedupOps.appendToMinhashIndex(spark, idx, admittedDf, "doc_id",
      "text", "b1")
    val readmitted = DedupOps.minhashAdmit(spark, idx, admittedDf,
      "doc_id", "text").select("doc_id").as[Long].collect().toSet
    val shortIds = admittedDf
      .filter(size(split(trim($"text"), "\\s+")) < 3)
      .select("doc_id").as[Long].collect().toSet
    assert(readmitted == shortIds,
      "replayed sig-bearing docs must self-reject after the append")
    // append retry no-ops (manifest version unchanged)
    val hfs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sessionState.newHadoopConf())
    val v = graft.sinks.IndexManifest.latest(hfs, idx).get.version
    DedupOps.appendToMinhashIndex(spark, idx, admittedDf, "doc_id",
      "text", "b1")
    assert(graft.sinks.IndexManifest.latest(hfs, idx).get.version == v)
    // compaction + vacuum leave the admission decision unchanged
    DedupOps.compactMinhashIndex(spark, idx)
    DedupOps.vacuumMinhashIndex(spark, idx, keepVersions = 1)
    assert(DedupOps.minhashAdmit(spark, idx, admittedDf, "doc_id",
      "text").select("doc_id").as[Long].collect().toSet == shortIds)
    assert(DedupOps.minhashAdmit(spark, idx, incoming, "doc_id",
      "text").select("doc_id").as[Long].collect().toSet ==
      (incomingIds -- crossRejected -- (admitted -- shortIds)))
  }

  test("containment ledger (x235): admit == cross-side " +
      "containmentPairs restriction; replayed batches self-reject; " +
      "shingle-less docs admit forever; as-of replays the pre-append " +
      "verdicts; append retry no-ops; compaction carries a mid-fold " +
      "append and a stale fold aborts") {
    import graft.sinks.IndexManifest
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ct_idx").resolve("idx").toString
    val hfs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sessionState.newHadoopConf())
    val corpus = docs.filter($"doc_id" < 250)
    val incoming = docs.filter($"doc_id" >= 250)
    DedupOps.saveContainmentIndex(corpus, "doc_id", "text", idx, n = 5)
    val v0 = DedupOps.containmentIndexVersion(spark, idx)
    val admitted = DedupOps.containmentAdmit(spark, idx, incoming,
        "doc_id", "text", threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    // oracle: the per-call pair op over the union, cross-side only
    val crossRejected = DedupOps.containmentPairs(docs, "doc_id",
        "text", n = 5, threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) =>
        Seq(a, b).filter(x => x >= 250 &&
          (if (x == a) b < 250 else a < 250))
      }.toSet
    val incomingIds = incoming.select("doc_id").as[Long].collect().toSet
    assert(admitted == incomingIds -- crossRejected,
      "admit must equal the cross-side containmentPairs restriction")
    // self-reject after append (C = 1.0 against own postings), except
    // shingle-less docs (< 5 tokens), which admit forever
    val admittedDf = incoming.filter($"doc_id".isin(admitted.toSeq: _*))
    DedupOps.appendToContainmentIndex(spark, idx, admittedDf, "doc_id",
      "text", "b1")
    val readmitted = DedupOps.containmentAdmit(spark, idx, admittedDf,
        "doc_id", "text", threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val shortIds = admittedDf
      .filter(size(split(trim($"text"), "\\s+")) < 5)
      .select("doc_id").as[Long].collect().toSet
    assert(readmitted == shortIds,
      "replayed shingled docs must self-reject after the append")
    // as-of: v0 replays the pre-append admission bit-for-bit
    assert(DedupOps.containmentAdmit(spark, idx, incoming, "doc_id",
        "text", threshold = 0.8, asOfVersion = Some(v0))
      .select("doc_id").as[Long].collect().toSet == admitted)
    // append retry no-ops (manifest version unchanged)
    val v1 = IndexManifest.latest(hfs, idx).get.version
    DedupOps.appendToContainmentIndex(spark, idx, admittedDf, "doc_id",
      "text", "b1")
    assert(IndexManifest.latest(hfs, idx).get.version == v1)
    // compaction race: a mid-fold append's segment is CARRIED
    val stale = IndexManifest.latest(hfs, idx).get
    val fresh = corpus.withColumn("doc_id", $"doc_id" + 20000)
    DedupOps.appendToContainmentIndex(spark, idx, fresh, "doc_id",
      "text", "b2")
    DedupOps.compactContainmentIndexFrom(spark, idx, stale)
    val snap = IndexManifest.latest(hfs, idx).get
    assert(snap.segs("postings").contains("delta_b2"),
      s"mid-fold append must be carried: ${snap.segs("postings")}")
    assert(snap.segs("postings").exists(_.startsWith("compact_v")))
    // the carried replays (corpus content under fresh ids) self-reject
    assert(DedupOps.containmentAdmit(spark, idx,
        fresh.filter(size(split(trim($"text"), "\\s+")) >= 5),
        "doc_id", "text", threshold = 0.8).count() == 0L,
      "carried postings must keep rejecting")
    // a stale fold of already-folded segments aborts
    val stale2 = IndexManifest.latest(hfs, idx).get
    DedupOps.compactContainmentIndex(spark, idx)
    val ex = intercept[IllegalArgumentException](
      DedupOps.compactContainmentIndexFrom(spark, idx, stale2))
    assert(ex.getMessage.contains("concurrent compaction"))
    // vacuum keeps the newest snapshot servable
    DedupOps.vacuumContainmentIndex(spark, idx, keepVersions = 1)
    assert(DedupOps.containmentAdmit(spark, idx, admittedDf, "doc_id",
        "text", threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet == shortIds)
  }

  test("containment ledger delete (x242): tombstoned docs stop " +
      "blocking admission; re-append re-learns; compaction removes " +
      "physically; stale delete/fold committers abort") {
    import graft.sinks.IndexManifest
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ct_del").resolve("idx").toString
    val hfs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sessionState.newHadoopConf())
    val corpus = docs.filter($"doc_id" < 250)
    DedupOps.saveContainmentIndex(corpus, "doc_id", "text", idx, n = 5)
    def admit(df: org.apache.spark.sql.DataFrame): Set[Long] =
      DedupOps.containmentAdmit(spark, idx, df, "doc_id", "text",
        threshold = 0.8).select("doc_id").as[Long].collect().toSet
    // replayed copies of indexed docs (shifted ids) self-reject,
    // except shingle-less (< 5 token) docs
    val replay = corpus.withColumn("doc_id", $"doc_id" + 10000)
    val replayIds = replay.select("doc_id").as[Long].collect().toSet
    val before = admit(replay)
    val sigless = replay
      .filter(size(split(trim($"text"), "\\s+")) < 5)
      .select("doc_id").as[Long].collect().toSet
    assert(before == sigless,
      "exactly the shingle-less replays admit pre-delete")
    // delete a quarter: admission must equal the cross-side
    // containmentPairs restriction against the LIVE corpus only
    DedupOps.deleteFromContainmentIndex(spark, idx,
      corpus.filter($"doc_id" % 4 === 2).select($"doc_id"), "doc_id",
      "d1")
    val after = admit(replay)
    val liveUnion = corpus.filter($"doc_id" % 4 =!= 2)
      .unionByName(replay)
    val crossRejected = DedupOps.containmentPairs(liveUnion, "doc_id",
        "text", n = 5, threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) =>
        Seq(a, b).filter(x => x >= 10000 &&
          (if (x == a) b < 10000 else a < 10000))
      }.toSet
    assert(after == replayIds -- crossRejected,
      "post-delete admission must equal the live-corpus cross-side " +
        "containmentPairs restriction")
    assert(before.subsetOf(after), "deletion can only widen admission")
    assert((after -- before).nonEmpty,
      "non-vacuity: some replay of a deleted doc must now admit")
    // delete retry no-ops
    val vd = IndexManifest.latest(hfs, idx).get.version
    DedupOps.deleteFromContainmentIndex(spark, idx,
      corpus.filter($"doc_id" % 4 === 2).select($"doc_id"), "doc_id",
      "d1")
    assert(IndexManifest.latest(hfs, idx).get.version == vd)
    // re-append re-learns: the deleted docs' postings return as a
    // fresh segment outside the tombstone's (doc_id, seg) scope
    DedupOps.appendToContainmentIndex(spark, idx,
      corpus.filter($"doc_id" % 4 === 2), "doc_id", "text", "b2")
    assert(admit(replay) == before)
    // compaction folds tombstones away physically, admission unchanged
    DedupOps.compactContainmentIndex(spark, idx)
    assert(IndexManifest.latest(hfs, idx).get.segs("deletes").isEmpty)
    assert(admit(replay) == before)
    // races: an append gives the stale snapshot something to fold,
    // then a delete that commits mid-fold aborts the fold...
    DedupOps.appendToContainmentIndex(spark, idx,
      docs.filter($"doc_id" >= 250 && $"doc_id" < 270)
        .withColumn("doc_id", $"doc_id" + 30000),
      "doc_id", "text", "b3")
    val stale = IndexManifest.latest(hfs, idx).get
    DedupOps.deleteFromContainmentIndex(spark, idx,
      corpus.filter($"doc_id" % 4 === 0).select($"doc_id"), "doc_id",
      "d2")
    val e1 = intercept[IllegalArgumentException](
      DedupOps.compactContainmentIndexFrom(spark, idx, stale))
    assert(e1.getMessage.contains("concurrent delete"))
    // ...and a delete scoped against segments a compaction already
    // folded aborts instead of landing dangling tombstones
    val stale2 = IndexManifest.latest(hfs, idx).get
    DedupOps.compactContainmentIndex(spark, idx)
    val e2 = intercept[IllegalArgumentException](
      DedupOps.deleteFromContainmentIndexFrom(spark, idx,
        corpus.filter($"doc_id" % 4 === 1).select($"doc_id"),
        "doc_id", "d3", stale2))
    assert(e2.getMessage.contains("concurrent compaction"))
  }

  test("minhash ledger time travel (x155): as-of replays the frozen " +
      "snapshot's admission; survives compaction; vacuumed versions " +
      "error") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mh_tt").resolve("idx").toString
    val base = docs.filter($"doc_id" < 250)
    val appendBatch = docs.filter($"doc_id" >= 250 && $"doc_id" < 400)
    val probe = docs.filter($"doc_id" >= 400)
    def admitted(asOf: Option[Long]) =
      DedupOps.minhashAdmit(spark, idx, probe, "doc_id", "text",
        asOfVersion = asOf).select($"doc_id").as[Long].collect().toSet
    DedupOps.saveMinhashIndex(base, "doc_id", "text", idx)
    val v0 = DedupOps.minhashIndexVersion(spark, idx)
    val againstBase = admitted(None)
    DedupOps.appendToMinhashIndex(spark, idx, appendBatch, "doc_id",
      "text", "b1")
    assert(DedupOps.minhashIndexVersion(spark, idx) > v0,
      "append must advance the manifest version")
    // as-of the pre-append version == the base-only decision,
    // bit-for-bit; the live decision is strictly narrower (the
    // appended 250-399 slice rejects more of the probe batch)
    assert(admitted(Some(v0)) == againstBase)
    val live = admitted(None)
    assert(live.subsetOf(againstBase) && live != againstBase,
      "non-vacuity: the append must reject some probe doc the " +
        "frozen snapshot admits")
    // compaction folds segments under a NEW version; the pinned old
    // version still reads its retained segments unchanged
    DedupOps.appendToMinhashIndex(spark, idx,
      docs.filter($"doc_id" >= 400 && $"doc_id" < 420), "doc_id",
      "text", "b2")
    DedupOps.compactMinhashIndex(spark, idx)
    assert(admitted(Some(v0)) == againstBase,
      "as-of must survive a compaction while retained")
    val liveAfterB2 = admitted(None)
    // vacuum to the newest version only: the old snapshot is gone and
    // says so clearly; the LIVE decision is untouched by retention
    DedupOps.vacuumMinhashIndex(spark, idx, keepVersions = 1)
    val e = intercept[IllegalArgumentException](admitted(Some(v0)))
    assert(e.getMessage.contains(s"version $v0 not found"))
    assert(admitted(None) == liveAfterB2,
      "vacuum must not move the live admission decision")
  }

  test("IVFPQ index (x115): cold save->load->serve equals the " +
      "per-call form; frozen-codebook append, retry no-op, compaction " +
      "invariance, as-of time travel, vacuum") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivfpq").resolve("idx").toString
    val queries = embs.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "adist")
        .as[(Long, Long, Long, Double)].collect().toSet
    // cold save -> load -> serve == per-call ivfPqTopK, bit-for-bit
    Similarity.saveIvfPqIndex(embs, "vec_id", "embedding", idx,
      kCentroids = 8, coarseIters = 2, m = 4, ks = 8, pqIters = 2)
    val perCall = rows(Similarity.ivfPqTopK(embs, queries, "vec_id",
      "embedding", k = 5, kCentroids = 8, coarseIters = 2, nprobe = 2,
      m = 4, ks = 8, pqIters = 2))
    assert(rows(Similarity.queryIvfPqIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == perCall)

    // frozen-generation append: subset-trained index + appended rest
    // == subset-trained centroids/codebooks served over the full corpus
    val idx2 = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_app").resolve("idx").toString
    val subset = embs.filter($"vec_id" < 400)
    Similarity.saveIvfPqIndex(subset, "vec_id", "embedding", idx2,
      kCentroids = 8, coarseIters = 2, m = 4, ks = 8, pqIters = 2)
    val v0 = Similarity.ivfIndexVersion(spark, idx2)
    Similarity.appendToIvfPqIndex(spark, idx2,
      embs.filter($"vec_id" >= 400), "vec_id", "embedding", "b1")
    val appended = rows(Similarity.queryIvfPqIndex(spark, idx2,
      queries, "vec_id", "embedding", k = 5, nprobe = 2))
    val coarse = Clustering.kmeansCentroids(subset, "vec_id",
      "embedding", k = 8, iters = 2)
    val cbs = Similarity.pqCodebooks(subset, "vec_id", "embedding",
      m = 4, ks = 8, iters = 2)
    assert(appended == rows(Similarity.ivfPqTopKWith(embs, queries,
      "vec_id", "embedding", k = 5, coarse, cbs, nprobe = 2)))
    // retry of an applied batch no-ops
    val hfs = new org.apache.hadoop.fs.Path(idx2).getFileSystem(
      spark.sessionState.newHadoopConf())
    val vAfter = graft.sinks.IndexManifest.latest(hfs, idx2).get.version
    Similarity.appendToIvfPqIndex(spark, idx2,
      embs.filter($"vec_id" >= 400), "vec_id", "embedding", "b1")
    assert(graft.sinks.IndexManifest.latest(hfs, idx2).get.version ==
      vAfter)
    // as-of the pre-append version serves the subset index exactly
    assert(rows(Similarity.queryIvfPqIndex(spark, idx2, queries,
      "vec_id", "embedding", k = 5, nprobe = 2,
      asOfVersion = Some(v0))) ==
      rows(Similarity.ivfPqTopKWith(subset, queries, "vec_id",
        "embedding", k = 5, coarse, cbs, nprobe = 2)))
    // compaction folds to one segment, values unchanged
    Similarity.compactIvfPqIndex(spark, idx2)
    val snap = graft.sinks.IndexManifest.latest(hfs, idx2).get
    assert(snap.segs("corpus").length == 1 &&
      snap.segs("corpus").head.startsWith("compact_v"))
    assert(rows(Similarity.queryIvfPqIndex(spark, idx2, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == appended)
    // vacuum reclaims unreferenced segments; serve unchanged
    Similarity.vacuumIvfPqIndex(spark, idx2, keepVersions = 1)
    val dirs = hfs.listStatus(
        new org.apache.hadoop.fs.Path(s"$idx2/corpus"))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
    assert(dirs == Seq(s"batch=${snap.segs("corpus").head}"))
    assert(rows(Similarity.queryIvfPqIndex(spark, idx2, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == appended)
    intercept[IllegalArgumentException](Similarity.appendToIvfPqIndex(
      spark, idx2, embs, "vec_id", "embedding", "compact_v1_x"))
    // retrain on the live source corpus swaps all three generations in
    // one commit == per-call full-corpus training; applied record
    // survives so a late retry of b1 still no-ops
    Similarity.retrainIvfPqIndex(spark, idx2, embs, "vec_id",
      "embedding", kCentroids = 8, coarseIters = 2, m = 4, ks = 8,
      pqIters = 2)
    assert(rows(Similarity.queryIvfPqIndex(spark, idx2, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) == perCall)
    val segsAfter = graft.sinks.IndexManifest.latest(hfs, idx2).get
    assert(segsAfter.segs("corpus").length == 1 &&
      segsAfter.segs("corpus").head.startsWith("retrain_v") &&
      segsAfter.segs("codebooks") == segsAfter.segs("corpus"))
    assert(segsAfter.applied.contains("b1"))
    Similarity.appendToIvfPqIndex(spark, idx2,
      embs.filter($"vec_id" >= 400), "vec_id", "embedding", "b1")
    assert(graft.sinks.IndexManifest.latest(hfs, idx2).get
      .segs("corpus") == segsAfter.segs("corpus"))
  }

  test("IVF time travel (x112): an as-of read serves exactly the " +
      "index at that version — across a later compaction — and " +
      "vacuumed versions error clearly") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_tt").resolve("idx").toString
    val subsetIdx = java.nio.file.Files
      .createTempDirectory("graft_ivf_tt_sub").resolve("idx").toString
    val queries = embs.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
    Similarity.saveIvfIndex(embs.filter($"vec_id" < 300), "vec_id",
      "embedding", idx, kCentroids = 8, iters = 2)
    val v0 = Similarity.ivfIndexVersion(spark, idx)
    Similarity.appendToIvfIndex(spark, idx,
      embs.filter($"vec_id" >= 300), "vec_id", "embedding", "b1")
    // twin index frozen at the pre-append state = the as-of oracle
    Similarity.saveIvfIndex(embs.filter($"vec_id" < 300), "vec_id",
      "embedding", subsetIdx, kCentroids = 8, iters = 2)
    val atV0 = rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2, asOfVersion = Some(v0)))
    assert(atV0 == rows(Similarity.queryIvfIndex(spark, subsetIdx,
      queries, "vec_id", "embedding", k = 5, nprobe = 2)),
      "as-of(v0) must serve the pre-append index exactly")
    assert(atV0 != rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)),
      "fixture must make the append visible at HEAD or the gate is vacuous")
    // a compaction does not disturb retained-version reads
    Similarity.compactIvfIndex(spark, idx)
    assert(rows(Similarity.queryIvfIndex(spark, idx, queries, "vec_id",
      "embedding", k = 5, nprobe = 2, asOfVersion = Some(v0))) == atV0)
    // vacuum(keep=1) retires v0: the as-of read fails with the
    // retention message instead of serving a mixed or partial snapshot
    Similarity.vacuumIvfIndex(spark, idx, keepVersions = 1)
    val e = intercept[IllegalArgumentException] {
      Similarity.queryIvfIndex(spark, idx, queries, "vec_id",
        "embedding", k = 5, nprobe = 2, asOfVersion = Some(v0))
    }
    assert(e.getMessage.contains("retention"))
  }

  test("IVFPQ time travel (x149): the as-of read serves the " +
      "pre-append snapshot exactly — subset payloads AND subset " +
      "codes — across a later compaction; vacuumed versions error") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_tt").resolve("idx").toString
    val subsetIdx = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_tt_sub").resolve("idx").toString
    val queries = embs.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "adist")
        .as[(Long, Long, Long, Double)].collect().toSet
    def save(path: String): Unit =
      Similarity.saveIvfPqIndex(embs.filter($"vec_id" < 400),
        "vec_id", "embedding", path, kCentroids = 8, coarseIters = 2,
        m = 4, ks = 8, pqIters = 2)
    save(idx)
    val v0 = Similarity.ivfIndexVersion(spark, idx)
    Similarity.appendToIvfPqIndex(spark, idx,
      embs.filter($"vec_id" >= 400), "vec_id", "embedding", "b1")
    // twin index frozen at the pre-append state = the as-of oracle
    save(subsetIdx)
    val atV0 = rows(Similarity.queryIvfPqIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2, asOfVersion = Some(v0)))
    assert(atV0 == rows(Similarity.queryIvfPqIndex(spark, subsetIdx,
      queries, "vec_id", "embedding", k = 5, nprobe = 2)),
      "as-of(v0) must serve the pre-append codes index exactly")
    assert(atV0 != rows(Similarity.queryIvfPqIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)),
      "fixture must make the append visible at HEAD or the pin is vacuous")
    Similarity.compactIvfPqIndex(spark, idx)
    assert(rows(Similarity.queryIvfPqIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2,
      asOfVersion = Some(v0))) == atV0,
      "compaction must not disturb retained-version reads")
    Similarity.vacuumIvfPqIndex(spark, idx, keepVersions = 1)
    val e = intercept[IllegalArgumentException] {
      Similarity.queryIvfPqIndex(spark, idx, queries, "vec_id",
        "embedding", k = 5, nprobe = 2, asOfVersion = Some(v0))
    }
    assert(e.getMessage.contains("retention"))
  }

  test("ivfNearDupAdmit (x120): probe-bounded semantic admission; " +
      "replayed batches self-reject after the append; a threshold " +
      "above 1 admits everything") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_admit").resolve("idx").toString
    val corpus = embs.filter($"vec_id" < 300)
    val incoming = embs.filter($"vec_id" >= 300)
    Similarity.saveIvfIndex(corpus, "vec_id", "embedding", idx,
      kCentroids = 8, iters = 2)
    val admitted = Similarity.ivfNearDupAdmit(spark, idx, incoming,
      "vec_id", "embedding", threshold = 0.35, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    val incomingIds = incoming.select("vec_id").as[Long].collect().toSet
    assert(admitted.subsetOf(incomingIds) && admitted.nonEmpty)
    assert(admitted != incomingIds,
      "fixture must reject something or the gate is vacuous")
    // cos <= 1 always, so a threshold above 1 admits the whole batch
    assert(Similarity.ivfNearDupAdmit(spark, idx, incoming, "vec_id",
      "embedding", threshold = 1.01, nprobe = 2).count() ==
      incomingIds.size)
    // ingest the admitted slice; a REPLAY self-rejects (each vector's
    // own cell is always among its probes, and cos(v, v) = 1)
    val admittedDf = incoming.filter($"vec_id".isin(admitted.toSeq: _*))
    Similarity.appendToIvfIndex(spark, idx, admittedDf, "vec_id",
      "embedding", "b1")
    assert(Similarity.ivfNearDupAdmit(spark, idx, admittedDf, "vec_id",
      "embedding", threshold = 0.35, nprobe = 2).count() == 0,
      "replayed vectors must self-reject after the append")
  }

  test("IVF maintenance races: retrain CARRIES a concurrent append " +
      "(== retrain-then-append); compact/append abort cleanly when a " +
      "retrain or compaction wins their CAS window") {
    import graft.sinks.IndexManifest
    def mkIdx(tag: String): String = java.nio.file.Files
      .createTempDirectory(s"graft_ivf_$tag").resolve("idx").toString
    def hfs(p: String) = new org.apache.hadoop.fs.Path(p).getFileSystem(
      spark.sessionState.newHadoopConf())
    val queries = embs.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
    val base = embs.filter($"vec_id" < 300)
    val delta = embs.filter($"vec_id" >= 300)

    // (1) append lands between the retrain's snapshot resolution and
    // its commit: the carry loop re-assigns the unseen batch against
    // the NEW centroids and folds it into the retrained snapshot
    val a = mkIdx("race_carry")
    Similarity.saveIvfIndex(base, "vec_id", "embedding", a,
      kCentroids = 8, iters = 2)
    val staleA = IndexManifest.latest(hfs(a), a).get
    Similarity.appendToIvfIndex(spark, a, delta, "vec_id", "embedding",
      "b1")
    Similarity.retrainIvfIndexFrom(spark, a, staleA, kCentroids = 8,
      iters = 2)
    val snapA = IndexManifest.latest(hfs(a), a).get
    assert(snapA.segs("corpus").exists(_.contains("_carry_b1")),
      s"carried segment missing: ${snapA.segs("corpus")}")
    assert(snapA.applied.contains("b1"),
      "the carried batch's applied record must survive the retrain")
    // convergence oracle: a SERIALIZED retrain-then-append on a twin
    // index (same training data: the stale snapshot's base corpus)
    val b = mkIdx("serialized")
    Similarity.saveIvfIndex(base, "vec_id", "embedding", b,
      kCentroids = 8, iters = 2)
    Similarity.retrainIvfIndex(spark, b, kCentroids = 8, iters = 2)
    Similarity.appendToIvfIndex(spark, b, delta, "vec_id", "embedding",
      "b1")
    assert(rows(Similarity.queryIvfIndex(spark, a, queries, "vec_id",
      "embedding", k = 5, nprobe = 2)) ==
      rows(Similarity.queryIvfIndex(spark, b, queries, "vec_id",
        "embedding", k = 5, nprobe = 2)),
      "raced retrain+append must serve exactly retrain-then-append")

    // (2) a COMPACTION winning the retrain's window aborts the retrain
    // (its segment is a full old-generation copy; re-assigning it
    // would duplicate every vec_id) — maintenance ops serialize
    val staleA2 = IndexManifest.latest(hfs(a), a).get
    Similarity.compactIvfIndex(spark, a)
    val exRetrain = intercept[IllegalArgumentException](
      Similarity.retrainIvfIndexFrom(spark, a, staleA2, kCentroids = 8,
        iters = 2))
    assert(exRetrain.getMessage.contains("concurrent maintenance"))

    // (3) a RETRAIN winning the append's window aborts the append
    // (batch bucketed against the superseded generation); the rerun
    // against the fresh snapshot lands it
    val staleB = IndexManifest.latest(hfs(b), b).get
    Similarity.retrainIvfIndex(spark, b, kCentroids = 8, iters = 2)
    val d2 = delta.select(($"vec_id" + 10000L).as("vec_id"),
      $"embedding")
    val exAppend = intercept[IllegalArgumentException](
      Similarity.appendToIvfIndexFrom(spark, b, d2, "vec_id",
        "embedding", "b2", staleB))
    assert(exAppend.getMessage.contains("retrain committed during"))
    assert(!IndexManifest.latest(hfs(b), b).get.applied.contains("b2"))
    Similarity.appendToIvfIndex(spark, b, d2, "vec_id", "embedding",
      "b2")
    assert(IndexManifest.latest(hfs(b), b).get.applied.contains("b2"))

    // (4) a compaction that lost to ANOTHER compaction folding the
    // same segments aborts instead of double-committing their rows
    val staleB2 = IndexManifest.latest(hfs(b), b).get
    Similarity.compactIvfIndex(spark, b)
    val exCompact = intercept[IllegalArgumentException](
      Similarity.compactIvfIndexFrom(spark, b, staleB2))
    assert(exCompact.getMessage.contains("concurrent compaction"))
  }

  test("compactIvfIndex excludes an uncommitted partial batch " +
      "instead of blessing it; the batch retry then lands in full") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_partial").resolve("idx").toString
    val subset = embs.filter($"vec_id" < 300)
    Similarity.saveIvfIndex(subset, "vec_id", "embedding", idx,
      kCentroids = 8, iters = 2)
    Similarity.appendToIvfIndex(spark, idx,
      embs.filter($"vec_id" >= 300 && $"vec_id" < 400), "vec_id",
      "embedding", "b0")
    Similarity.appendToIvfIndex(spark, idx,
      embs.filter($"vec_id" >= 400), "vec_id", "embedding", "b1")
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sessionState.newHadoopConf())
    def live(): org.apache.spark.sql.DataFrame = {
      val segs = graft.sinks.IndexManifest.latest(fs, idx).get
        .segs("corpus")
      spark.read.parquet(s"$idx/corpus")
        .filter($"batch".isin(segs: _*))
    }
    val total = live().count()
    // simulate a crashed mid-write append: b1's manifest commit never
    // happened and one of its cell directories is missing. Roll the
    // manifest back to pre-b1 and break the segment.
    val v = graft.sinks.IndexManifest.latest(fs, idx).get.version
    assert(fs.delete(new org.apache.hadoop.fs.Path(idx,
      f"manifest_v$v%012d.json"), false))
    assert(!graft.sinks.IndexManifest.latest(fs, idx).get.applied
      .contains("b1"))
    val cells = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$idx/corpus/batch=b1"))
      .filter(_.getPath.getName.startsWith("bucket="))
    assert(fs.delete(cells.head.getPath, true))
    Similarity.compactIvfIndex(spark, idx)
    // base+b0 folded; the partial batch is invisible — never folded
    // half-missing
    val snapC = graft.sinks.IndexManifest.latest(fs, idx).get
    assert(snapC.segs("corpus").length == 1 &&
      snapC.segs("corpus").head.startsWith("compact_v"))
    assert(live().count() ==
      embs.filter($"vec_id" < 400).count())
    // the retry re-lands the batch in full (it was never applied)
    Similarity.appendToIvfIndex(spark, idx,
      embs.filter($"vec_id" >= 400), "vec_id", "embedding", "b1")
    assert(live().count() == total)
    val queries = embs.filter($"vec_id" < 8)
    val centroids = Clustering.kmeansCentroids(subset, "vec_id",
      "embedding", k = 8, iters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
    assert(rows(Similarity.queryIvfIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) ==
      rows(Similarity.ivfLearnedTopKWith(embs, queries, "vec_id",
        "embedding", k = 5, centroids, nprobe = 2)))
  }

  test("streamed IVF appends converge to the one-shot append (x98)") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_ivf_stream").toString
    val subset = embs.filter($"vec_id" < 300)
    Similarity.saveIvfIndex(subset, "vec_id", "embedding", s"$base/idx",
      kCentroids = 8, iters = 2)
    embs.filter($"vec_id" >= 300)
      .repartitionByRange(3, $"vec_id")
      .write.mode("overwrite").parquet(s"$base/newvecs")
    val schema = spark.read.parquet(s"$base/newvecs").schema
    val q = graft.streaming.StreamIndex.ivfAppendWriter(spark,
        s"$base/newvecs", schema, s"$base/idx", "vec_id", "embedding")
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination()
    val queries = embs.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
    val centroids = Clustering.kmeansCentroids(subset, "vec_id",
      "embedding", k = 8, iters = 2)
    assert(rows(Similarity.queryIvfIndex(spark, s"$base/idx", queries,
      "vec_id", "embedding", k = 5, nprobe = 2)) ==
      rows(Similarity.ivfLearnedTopKWith(embs, queries, "vec_id",
        "embedding", k = 5, centroids, nprobe = 2)))
  }

  test("semanticDedup: drops exactly the pair-list high sides") {
    val survivors = DedupOps.semanticDedup(embs, "vec_id", "embedding",
        threshold = 0.35, signBits = 6)
      .select("vec_id").as[Long].collect().toSet
    val all = embs.select("vec_id").as[Long].collect().toSet
    val highSides = DedupOps.cosineDupPairs(embs, "vec_id", "embedding",
        threshold = 0.35, signBits = 6)
      .select("vec_b").as[Long].collect().toSet
    assert(survivors == all -- highSides)
    // greedy rule sanity: the globally lowest id always survives
    assert(survivors.contains(all.min))
  }

  test("semanticDecontaminate (x197): hand fixture with exact cosines " +
      "and hit counts; agrees with cosineDupPairs' cross-frame " +
      "endpoints; empty eval flags nothing") {
    // eval 100/101 share bucket 63 (all six leading dims positive);
    // corpus 1 is a scaled copy of 100 (cos 1.0 / 6/sqrt(42) to 101),
    // corpus 2 is bucket-distance-3 (never a candidate), corpus 3 is
    // one sign flip away (candidate, cos 4/6 and 4/sqrt(42))
    val ev = Seq(
      (100L, Array(1f, 1f, 1f, 1f, 1f, 1f, 0f, 0f)),
      (101L, Array(1f, 1f, 1f, 1f, 1f, 1f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val cor = Seq(
      (1L, Array(2f, 2f, 2f, 2f, 2f, 2f, 0f, 0f)),
      (2L, Array(1f, -1f, 1f, -1f, 1f, -1f, 0f, 0f)),
      (3L, Array(1f, 1f, 1f, 1f, 1f, -1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = DedupOps.semanticDecontaminate(cor, ev, "vec_id",
        "embedding", threshold = 0.35, signBits = 6)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> ((2L, 1.0)), 3L -> ((2L, 0.666667))))
    // consistency with the self-pair detector: on a mixed frame,
    // cosineDupPairs' pairs with exactly one eval endpoint are the
    // same (corpus doc, cos) hits this op aggregates
    val evalSet = embs.filter(pmod($"vec_id", lit(19)) === 0)
    val corpus = embs.filter(pmod($"vec_id", lit(19)) =!= 0)
    val gotReal = DedupOps.semanticDecontaminate(corpus, evalSet,
        "vec_id", "embedding", threshold = 0.35, signBits = 6)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val evIds = evalSet.select("vec_id").as[Long].collect().toSet
    val cross = DedupOps.cosineDupPairs(embs, "vec_id", "embedding",
        threshold = 0.35, signBits = 6)
      .as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, c) =>
        if (evIds(a) && !evIds(b)) Some(b -> c)
        else if (evIds(b) && !evIds(a)) Some(a -> c) else None }
    val want = cross.groupBy(_._1).map { case (id, hs) =>
      id -> ((hs.length.toLong, hs.map(_._2).max)) }
    assert(gotReal == want,
      "cross-frame hits diverged from cosineDupPairs' endpoints")
    // empty eval set → nothing flagged
    assert(DedupOps.semanticDecontaminate(cor,
      ev.filter($"vec_id" < 0), "vec_id", "embedding", 0.35, 6)
      .count() == 0L)
    // output id column carries the CALLER's idCol name, not a
    // hardcoded vec_id
    val renamed = DedupOps.semanticDecontaminate(
      cor.withColumnRenamed("vec_id", "doc_id"),
      ev.withColumnRenamed("vec_id", "doc_id"),
      "doc_id", "embedding", 0.35, 6)
    assert(renamed.columns.toSeq ==
      Seq("doc_id", "n_eval_hits", "max_cos"))
  }

  test("simhashLedgerAdmit (x199): admission equals the brute-force " +
      "decision; appends are idempotent; as-of replays the pre-append " +
      "decision; recall-contract and params validation") {
    // seeded 64-bit sigs with planted near-dups: base 0-99, incoming
    // 200-259 where even incoming ids are 1-3 bit flips of a base sig
    val rnd = new scala.util.Random(7)
    val base = (0L until 100L).map(i => (i, rnd.nextLong()))
    val incoming = (0 until 60).map { j =>
      val id = 200L + j
      if (j % 2 == 0) {
        val src = base(j % 100)._2
        val flips = 1 + j % 3
        val flipped = (0 until flips).foldLeft(src)((s, k) =>
          s ^ (1L << ((j * 7 + k * 13) % 64)))
        (id, flipped)
      } else (id, rnd.nextLong())
    }
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_shledger").resolve("idx").toString
    DedupOps.saveSimhashLedger(
      base.take(70).toDF("doc_id", "sh"), ledgerDir)
    val v0 = DedupOps.simhashLedgerVersion(spark, ledgerDir)
    DedupOps.appendToSimhashLedger(spark, ledgerDir,
      base.drop(70).toDF("doc_id", "sh"), "b1")
    def admitted(asOf: Option[Long], indexed: Seq[(Long, Long)]) = {
      val got = DedupOps.simhashLedgerAdmit(spark, ledgerDir,
          incoming.toDF("doc_id", "sh"), maxHamming = 7,
          probeBits = 1, asOfVersion = asOf)
        .select("doc_id").as[Long].collect().toSet
      val want = incoming.filter { case (_, sh) =>
        !indexed.exists(b =>
          java.lang.Long.bitCount(b._2 ^ sh) <= 7)
      }.map(_._1).toSet
      (got, want)
    }
    val (gotFull, wantFull) = admitted(None, base)
    assert(gotFull == wantFull,
      "banded admission diverged from the brute-force decision")
    assert(gotFull.size < incoming.size && gotFull.nonEmpty,
      "fixture should both admit and reject")
    // append replay no-ops (same decisions after a duplicate append)
    DedupOps.appendToSimhashLedger(spark, ledgerDir,
      base.drop(70).toDF("doc_id", "sh"), "b1")
    assert(admitted(None, base)._1 == gotFull)
    // as-of: the pre-append snapshot only knows the first 70 sigs
    val (gotOld, wantOld) = admitted(Some(v0), base.take(70))
    assert(gotOld == wantOld)
    assert(gotOld.size >= gotFull.size)
    intercept[IllegalArgumentException](
      DedupOps.simhashLedgerAdmit(spark, ledgerDir,
        incoming.toDF("doc_id", "sh"), maxHamming = 8, probeBits = 1))
    intercept[IllegalArgumentException](
      DedupOps.simhashLedgerAdmit(spark, ledgerDir,
        incoming.toDF("doc_id", "sh"), maxHamming = 3, probeBits = 2))
    intercept[IllegalArgumentException](
      DedupOps.saveSimhashLedger(
        base.take(2).toDF("doc_id", "sh"), ledgerDir + "_bad",
        bands = 5))
    intercept[IllegalArgumentException](
      DedupOps.simhashLedgerVersion(spark, ledgerDir + "_missing"))
  }

  test("pmiCollocations (x201): hand-computed margins and milli-nat " +
      "scores; PMI ranks a rare-but-exclusive pair over a frequent " +
      "promiscuous one; minCount bars singletons; validation") {
    // corpus: "a b" ×4 in mixed company, "x y" ×2 exclusively.
    // bigram table: (a,b)=4, (a,c)=2, (d,b)=2, (x,y)=2, (b,a)=1,
    // (b,d)=1, (c,a)=1 … construct explicitly:
    val docs = Seq("a b a b", "a c a c", "d b d b", "x y x y")
      .toDF("text")
    // bigrams per doc: (a,b),(b,a),(a,b) / (a,c),(c,a),(a,c) /
    // (d,b),(b,d),(d,b) / (x,y),(y,x),(x,y) → T = 12
    val got = TextAnalysis.pmiCollocations(docs, "text", k = 10,
        minCount = 2L)
      .as[(String, String, Long, Long, Long, Long)].collect()
    def lnMilli(c: Long) =
      math.floor(BigDecimal(math.log(c.toDouble) * 1000.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toLong
    val t = 12L
    // margins: c1(a·)=4 [(a,b)×2,(a,c)×2], c2(·b)=4 [(a,b)×2,(d,b)×2],
    // c1(x·)=2, c2(·y)=2
    val want = Map(
      ("a", "b") -> ((2L, 4L, 4L,
        lnMilli(2) + lnMilli(t) - lnMilli(4) - lnMilli(4))),
      ("a", "c") -> ((2L, 4L, 2L,
        lnMilli(2) + lnMilli(t) - lnMilli(4) - lnMilli(2))),
      ("d", "b") -> ((2L, 2L, 4L,
        lnMilli(2) + lnMilli(t) - lnMilli(2) - lnMilli(4))),
      ("x", "y") -> ((2L, 2L, 2L,
        lnMilli(2) + lnMilli(t) - lnMilli(2) - lnMilli(2))))
    assert(got.map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6)))
      .toMap == want)
    // exclusivity wins: (x,y) at c12=2 outranks (a,b) at c12=2 with
    // fatter margins — and the singletons (b,a) etc. are barred
    assert(got.head._1 == "x" && got.head._2 == "y")
    assert(!got.exists(r => r._3 < 2L))
    intercept[IllegalArgumentException](
      TextAnalysis.pmiCollocations(docs, "text", k = 0))
    intercept[IllegalArgumentException](
      TextAnalysis.pmiCollocations(docs, "text", k = 5, minCount = 0L))
  }

  test("bigramStats: hand-computed counts and conditionals") {
    val docs = Seq("a b a b c", "a b").toDF("text")
    // bigrams: (a,b)×3, (b,a)×1, (b,c)×1 → c1(a·)=3, c1(b·)=2
    val got = TextAnalysis.bigramStats(docs, "text", k = 10)
      .select("w1", "w2", "c12", "c1", "p")
      .as[(String, String, Long, Long, Double)].collect().toSet
    assert(got == Set(
      ("a", "b", 3L, 3L, 1.0),
      ("b", "a", 1L, 2L, 0.5),
      ("b", "c", 1L, 2L, 0.5)))
    // k truncates on (count desc, w1, w2)
    val top1 = TextAnalysis.bigramStats(docs, "text", k = 1)
      .select("w1", "w2").as[(String, String)].collect().toSeq
    assert(top1 == Seq(("a", "b")))
  }

  test("bigramStats: single-token and empty docs contribute nothing") {
    val docs = Seq("solo", "", "x y").toDF("text")
    val got = TextAnalysis.bigramStats(docs, "text", 10)
      .select("w1", "w2").as[(String, String)].collect().toSet
    assert(got == Set(("x", "y")))
  }

  test("charEntropy: exact bits for uniform and degenerate alphabets") {
    val docs = Seq((1L, "aaaa"), (2L, "abab"), (3L, "abcd"), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .select("doc_id", "entropy", "n_distinct_chars")
      .as[(Long, Double, Long)].collect()
      .map { case (a, b, c) => a -> ((b, c)) }.toMap
    assert(got.keySet == Set(1L, 2L, 3L)) // empty doc: no row
    assert(math.abs(got(1L)._1 - 0.0) < 1e-12 && got(1L)._2 == 1L)
    assert(math.abs(got(2L)._1 - 1.0) < 1e-12 && got(2L)._2 == 2L)
    assert(math.abs(got(3L)._1 - 2.0) < 1e-12 && got(3L)._2 == 4L)
  }

  test("editOnePairs: full single-edit family == brute-force BYTE " +
      "levenshtein (incl multi-byte caveat)") {
    val data = Seq(
      1L -> "kitten", 2L -> "mitten",   // substitution
      3L -> "kittens",                  // insertion vs 1
      4L -> "kitte",                    // deletion vs 1
      5L -> "kitten",                   // identical to 1 (distance 0)
      6L -> "sitting",                  // distance 3 from kitten — out
      7L -> "", 8L -> "x", 9L -> "",    // empty family
      10L -> "kittén")                  // é is 2 BYTES from e → NOT a pair
    val got = DedupOps.editOnePairs(data.toDF("id", "s"), "id", "s")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute-force reference over the SAME byte-level metric
    def lev(x: String, y: String): Int = {
      val (a, b) = (x.getBytes("UTF-8"), y.getBytes("UTF-8"))
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, sa) <- data; (ib, sb) <- data
      if ia < ib && lev(sa, sb) <= 1
    } yield (ia, ib)).toSet
    assert(got == want)
    // the asymmetric cases specifically
    assert(got.contains((1L, 3L)) && got.contains((1L, 4L)) &&
      got.contains((7L, 8L)) && got.contains((7L, 9L)))
    assert(!got.exists(p => p._1 == 6L || p._2 == 6L))
    // byte semantics: the multi-byte substitution is distance 2 — out
    assert(!got.exists(p => p._1 == 10L || p._2 == 10L))
  }

  test("qualityLogit: probability bounds and signal monotonicity") {
    val docs = Seq(
      (1L, "the a of and to in is it plain natural text"), // stopword-rich
      (2L, ";;;; .... !!!! ,,,, :::: ????"))               // punct soup
      .toDF("doc_id", "text")
    val got = TextAnalysis.qualityLogit(docs, "text")
      .select("doc_id", "quality_prob").as[(Long, Double)]
      .collect().toMap
    assert(got.values.forall(p => p > 0.0 && p < 1.0))
    assert(got(1L) > got(2L),
      s"stopword-rich text must outscore punctuation soup: $got")
  }

  test("langId: deterministic, known-stopword text → en") {
    val out = Seq("the a of and x", "zzz qqq")
      .toDF("text").select(TextAnalysis.langId(col("text")).as("l"))
      .as[String].collect().toSeq
    assert(out == Seq("en", "und"))
  }

  test("langId: NULL and empty text → und, not NULL") {
    val out = Seq(Some("the a of"), None, Some(""))
      .toDF("text").select(TextAnalysis.langId(col("text")).as("l"))
      .as[String].collect().toSeq
    assert(out == Seq("en", "und", "und"))
  }

  test("normalizeText collapses case and whitespace runs") {
    val out = Seq("  A \t B\nc  ", "already clean").toDF("text")
      .select(TextAnalysis.normalizeText(col("text")).as("n"))
      .as[String].collect().toSeq
    assert(out == Seq("a b c", "already clean"))
  }

  test("canonicalizeUrl (x251): every rule hand-verified; non-URLs " +
      "canonicalize to NULL; paths stay case-significant") {
    val cases = Seq(
      // scheme/host case + default port + trailing slash + param sort
      // + fragment all collapse
      "HTTP://Example.COM:80/a/3/?b=2&a=1#frag" ->
        Some("http://example.com/a/3?a=1&b=2"),
      "http://example.com/a/3?a=1&b=2" ->
        Some("http://example.com/a/3?a=1&b=2"),
      // https default port dropped, non-default kept
      "HTTPS://h.io:443/x" -> Some("https://h.io/x"),
      "https://h.io:8443/x" -> Some("https://h.io:8443/x"),
      // http on 443 is NOT default — kept
      "http://h.io:443/x" -> Some("http://h.io:443/x"),
      // root path collapses; empty query/params dropped
      "https://h.io/" -> Some("https://h.io"),
      "https://h.io/?&&" -> Some("https://h.io"),
      // path case preserved (case-significant on most servers)
      "https://h.io/CaseSensitive" -> Some("https://h.io/CaseSensitive"),
      // query before any path
      "https://h.io?b=2&a=1" -> Some("https://h.io?a=1&b=2"),
      // non-URLs → NULL
      "no scheme here" -> None,
      "http://" -> None)
    val got = cases.map(_._1).toDF("url")
      .select(TextAnalysis.canonicalizeUrl(col("url")).as("c"))
      .as[Option[String]].collect().toSeq
    cases.zip(got).foreach { case ((in, want), g) =>
      assert(g == want, s"canonicalizeUrl($in) = $g, want $want")
    }
  }

  test("normalizeText composes NFC: decomposed == precomposed") {
    // decomposed (e + U+0301, A + U+030A) and precomposed spellings of
    // the same words must normalize to byte-identical output — the
    // property that makes multilingual near-dup collapse correctly
    val out = Seq("Café  Ångström", "café ångström")
      .toDF("text")
      .select(TextAnalysis.normalizeText(col("text")).as("n"))
      .as[String].collect().toSeq
    assert(out.head == out(1))
    assert(out.head == "café ångström")
  }

  test("nfcNormalize: composes combining marks, ASCII fast-path is " +
      "identity, NULL propagates") {
    val out = Seq(Some("näive"), Some("plain"), None).toDF("text")
      .select(graft.functions.StringExprs.nfcNormalize(col("text")).as("n"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(out == Seq(Some("näive"), Some("plain"), None))
  }

  test("redactPii replaces emails, phones, and IPv4 literals") {
    val out = Seq(
      "mail a@b.co or x.y-z@sub.domain.org call 555-123-4567 " +
        "from 192.168.0.1 ok")
      .toDF("text").select(TextAnalysis.redactPii(col("text")).as("r"))
      .as[String].head()
    assert(out == "mail <EMAIL> or <EMAIL> call <PHONE> from <IP> ok")
  }

  test("stripMarkup: tags dropped, entities decoded once, spacing " +
      "collapsed") {
    val out = Seq(
      "<p>a <b>b</b></p>c",
      "x &amp;lt; y &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;z",
      "plain")
      .toDF("text").select(TextAnalysis.stripMarkup(col("text")).as("t"))
      .as[String].collect().toSeq
    // &amp;lt; must decode to the LITERAL "&lt;", not to "<"
    assert(out == Seq("a b c", "x &lt; y <tag> \"q\" 's' z", "plain"))
  }

  test("repetitionRatio: repeated n-grams counted, short docs score 0") {
    val out = Seq("a b a b a b", "a", "x y z").toDF("text")
      .select(TextAnalysis.repetitionRatio(col("text"), 2).as("r"))
      .as[Double].collect().toSeq
    // "a b a b a b": 5 bigrams, 2 distinct → 0.6; "a": no bigrams → 0;
    // "x y z": 2 distinct bigrams of 2 → 0
    assert(out == Seq(0.6, 0.0, 0.0))
  }

  test("fingerprint: deterministic and order-sensitive") {
    val fps = Seq("a b c", "c b a", "a b c").toDF("text")
      .select(TextAnalysis.fingerprint(col("text")).as("f"))
      .as[Long].collect().toSeq
    assert(fps(0) == fps(2) && fps(0) != fps(1))
  }

  test("multimodal: frame extraction matches metadata frame count") {
    val withP = Multimodal.withPayload(docs.limit(20), "doc_id", "text")
    val meta = Multimodal.mediaMeta(withP, "doc_id")
      .select("doc_id", "n_frames").as[(Long, Long)].collect().toMap
    val frames = Multimodal.extractFrames(spark, withP, "doc_id")
      .groupByKey(_.doc_id).count().collect().toMap
    assert(meta == frames)
  }

  test("multimodal: stub decode is deterministic on empty payload") {
    assert(Multimodal.MediaCodec.decodeStub(1L, Array.empty, 64).isEmpty)
    assert(Multimodal.MediaCodec.decodeStub(1L, null, 64).isEmpty)
  }

  test("dedupClusters: components get min-id labels; chains converge") {
    // component {1,2,3} (path), component {7,9}, and a 10-node path
    // 20-21-...-29 whose diameter forces multiple rounds
    val path = (20L until 29L).map(i => (i + 1, i))
    val pairs = (Seq((1L, 2L), (2L, 3L), (9L, 7L)) ++ path).toDF("a", "b")
    // the driver finish and the forced round loop
    for (budget <- Seq(Long.MaxValue, 0L)) {
      val got = DedupOps.dedupClusters(pairs, "a", "b", maxIters = 30,
        reliable = false, driverPairs = budget)
        .as[(Long, Long)].collect().toMap
      assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L,
        s"budget $budget")
      assert(got(7L) == 7L && got(9L) == 7L)
      assert((20L to 29L).forall(got(_) == 20L))
      assert(got.size == 15)
    }
    // non-convergence guard: maxIters bounds only the round loop, and
    // one round cannot turn the 10-node path into a star forest
    intercept[IllegalArgumentException] {
      DedupOps.dedupClusters(path.toDF("a", "b"), "a", "b", maxIters = 1,
        reliable = false, driverPairs = 0L)
    }
  }

  test("dedupClustersStar: long chain converges in O(log n) rounds; " +
      "self-loops label themselves") {
    // a 40-node path has diameter 39 — min-label propagation would need
    // 39 rounds, the star rounds must finish well inside maxIters = 12
    val chain = (100L until 139L).map(i => (i + 1, i))
    val pairs = (chain ++ Seq((1L, 2L), (2L, 3L), (50L, 50L)))
      .toDF("a", "b")
    // the driver finish and the forced round loop
    for (budget <- Seq(Long.MaxValue, 0L)) {
      val got = DedupOps.dedupClusters(pairs, "a", "b", maxIters = 12,
        reliable = false, driverPairs = budget)
        .as[(Long, Long)].collect().toMap
      assert((100L to 139L).forall(got(_) == 100L), s"budget $budget")
      assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
      assert(got(50L) == 50L) // self-loop-only node keeps its own label
      assert(got.size == 44)
    }
  }

  test("dedupClusters: a two-center satellite is not treated as " +
      "converged — the star-forest probe requires one edge per satellite") {
    // canonical edges {(1,3),(2,3)} have disjoint center/satellite id
    // sets but are NOT a star forest (3 hangs off two centers) — the
    // convergence probe must keep iterating until {(1,2),(1,3)}
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("a", "b")
    for (budget <- Seq(Long.MaxValue, 0L)) {
      val got = DedupOps.dedupClusters(pairs, "a", "b", 30,
        reliable = false, driverPairs = budget)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"budget $budget")
    }
  }

  test("dedupClusters: a null id and a self-loop-only id get the " +
      "same rows on the driver finish and the round loop") {
    // (null, 5): a null endpoint adds no edge, so 5 labels itself and
    // the null id gets the (null, null) row of the node sweep's left
    // join; (7, 7) is self-loop-only; {1, 2, 3} is one component
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (3L, 2L), (null, 5L), (7L, 7L), (null, null))
      .toDF("a", "b")
    val want = Set[(java.lang.Long, java.lang.Long)](
      (1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (7L, 7L), (null, null))
    for (budget <- Seq(Long.MaxValue, 0L)) {
      val got = DedupOps.dedupClusters(pairs, "a", "b", 30,
        reliable = false, driverPairs = budget)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        Seq("id", "cluster_id").map((_, org.apache.spark.sql.types.LongType)))
      val rows = got.as[(java.lang.Long, java.lang.Long)].collect()
      assert(rows.length == want.size && rows.toSet == want,
        s"budget $budget: ${rows.toSeq}")
    }
  }

  test("containmentPairs: detects a small doc quoted inside a large " +
      "one that Jaccard misses") {
    val small = (1 to 8).map(i => s"w$i").mkString(" ")           // 8 toks
    val large = (small +: (9 to 80).map(i => s"w$i")).mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, small), (2L, large), (3L, other))
      .toDF("doc_id", "text")
    val cont = DedupOps.containmentPairs(docs, "doc_id", "text",
      n = 5, threshold = 0.8).as[(Long, Long, Double)].collect()
    assert(cont.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(cont.head._3 == 1.0) // every small-doc shingle is in large
    // the same pair is invisible to symmetric Jaccard at any sane bar
    val jac = DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
      n = 5, threshold = 0.5)
    assert(jac.count() == 0L)
  }

  test("hammingPairs: finds exactly the ≤1-substitution pairs, " +
      "including identical strings, despite a shared prefix") {
    val rows = Seq(
      (1L, "prefix-AAAA"), (2L, "prefix-AAAB"),  // dist 1
      (3L, "prefix-AAAA"),                        // dup of 1 (dist 0)
      (4L, "prefix-ABBA"),                        // dist 2 from 1 → out
      (5L, "prefix-AAAAX"),                       // longer → out
      (6L, "other-YYYYY")).toDF("doc_id", "name")
    val got = DedupOps.hammingPairs(rows, "doc_id", "name")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 0L), (2L, 3L, 1L)))
  }

  test("hammingPairs: two empty strings pair at distance 0") {
    val rows = Seq((1L, ""), (2L, ""), (3L, "x"), (4L, ""))
      .toDF("doc_id", "name")
    val got = DedupOps.hammingPairs(rows, "doc_id", "name")
      .as[(Long, Long, Long)].collect().toSet
    // empties pair with each other (dist 0); "x" vs "" differ in length
    assert(got == Set((1L, 2L, 0L), (1L, 4L, 0L), (2L, 4L, 0L)))
  }

  test("hammingPairs == brute force on random digit strings") {
    val rng = new scala.util.Random(42)
    val strs = (0L until 60L).map(i =>
      i -> ("ID" + (0 until 6).map(_ => rng.nextInt(3)).mkString))
    val want = (for {
      (ia, sa) <- strs; (ib, sb) <- strs
      if ia < ib && sa.length == sb.length &&
        sa.zip(sb).count(p => p._1 != p._2) <= 1
    } yield (ia, ib,
      sa.zip(sb).count(p => p._1 != p._2).toLong)).toSet
    val got = DedupOps.hammingPairs(
        strs.toDF("doc_id", "name"), "doc_id", "name")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture must generate some close pairs")
  }

  test("tfidfTopTerms: rare terms outrank common ones; rank capped at k") {
    // "rare" appears once, only in doc 1 → score 1·3/1 = 3.0;
    // "shared" is in all 3 docs → df=3, score tf·3/3 = tf
    val docs = Seq(
      (1L, "shared rare shared"),
      (2L, "shared other other"),
      (3L, "shared")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .as[(Long, String, Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._6) -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got((1L, 1L)) == (("rare", 1L, 1L, 3.0)))
    assert(got((1L, 2L)) == (("shared", 2L, 3L, 2.0)))
    assert(got((2L, 1L)) == (("other", 2L, 1L, 6.0)))
    assert(got((2L, 2L)) == (("shared", 1L, 3L, 1.0)))
    assert(got((3L, 1L)) == (("shared", 1L, 3L, 1.0)))
    assert(got.size == 5) // doc 3 has a single term — rank stops there
  }

  test("duplicateSpans: overlapping shared windows merge into maximal " +
      "spans; unique docs report zero coverage") {
    // doc 1 and 2 share tokens a1..a6 (w=4 → shared windows at doc-1
    // positions 0..2, merging into ONE span covering 6 tokens); doc 3
    // is disjoint text
    val d1 = "a1 a2 a3 a4 a5 a6 u1 u2 u3 u4"   // 10 tokens
    val d2 = "z1 z2 a1 a2 a3 a4 a5 a6"          //  8 tokens
    val d3 = "b1 b2 b3 b4 b5 b6 b7 b8"          //  8 tokens
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val got = DedupOps.duplicateSpans(docs, "doc_id", "text", w = 4)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((1L, 6L, 10L, 0.6)))
    assert(got(2L) == ((1L, 6L, 8L, 0.75)))
    assert(got(3L) == ((0L, 0L, 8L, 0.0)))
  }

  test("duplicateSpans: disjoint shared regions stay separate spans") {
    // docs share windows at positions 0 and 6 of doc 1 (gap 6 > w=4)
    val d1 = "c1 c2 c3 c4 x1 x2 d1 d2 d3 d4"
    val d2 = "c1 c2 c3 c4 y1 y2 d1 d2 d3 d4"
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val got = DedupOps.duplicateSpans(docs, "doc_id", "text", w = 4)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((2L, 8L)))
    assert(got(2L) == ((2L, 8L)))
  }

  test("dedupClustersStar: empty pair set yields empty labels") {
    // the forced round loop on an empty edge set: the first round's
    // probe sees no edge and the node sweep adds no row
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DedupOps.dedupClusters(pairs, "a", "b", 30, reliable = false,
      driverPairs = 0L).count() == 0L)
  }

  test("dedupClusters: empty pair set yields empty labels") {
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DedupOps.dedupClusters(pairs, "a", "b").count() == 0L)
  }

  test("quantizedTopK: high dot-product agreement with exact cosine " +
      "top-k on unit-ish vectors") {
    val queries = embs.filter($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(embs, queries,
      "vec_id", "embedding", 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.quantizedTopK(embs, queries,
      "vec_id", "embedding", 5)
    val qpairs = quant.select("query_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    // int8 quantization perturbs each element by ≤ scale/2 — on this
    // fixture the top-5 sets should overlap strongly (dot-product vs
    // cosine ranking AND quantization noise both in play)
    val recall = (qpairs & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"quantized recall@5 vs exact: $recall")
    // contract shape: 5 per query, no self-match
    assert(quant.groupBy("query_id").count().as[(Long, Long)]
      .collect().forall(_._2 == 5L))
    assert(quant.filter($"query_id" === $"vec_id").isEmpty)
  }

  test("quantizeInt8: levels in [-127,127], reconstruction within " +
      "scale/2, zero vector → zeros") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(-2.0f, 2.0f, 1.0f, -0.001f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .as[(Long, Array[Int], Double)].collect().sortBy(_._1)
    val orig = vecs.as[(Long, Array[Float])].collect().toMap
    out.foreach { case (id, q, scale) =>
      assert(q.forall(l => l >= -127 && l <= 127), s"vec $id level range")
      if (id == 2L) { assert(scale == 0.0 && q.forall(_ == 0)) }
      else {
        // max|x| must land exactly on ±127
        assert(q.map(math.abs).max == 127, s"vec $id peak level")
        orig(id).map(_.toDouble).zip(q).foreach { case (x, l) =>
          assert(math.abs(x - l * scale) <= scale / 2 + 1e-12,
            s"vec $id: $x vs ${l * scale}")
        }
      }
    }
  }

  test("sampled training (x87/x88): trains on the md5 sample only, " +
      "serves everything, recall floor holds on the clustered corpus") {
    // same well-separated fixture as the PQ clustered-recall gate: the
    // contract is that a 50% training sample still finds cluster
    // structure, so sampled-trained IVF/IVFPQ keep a recall floor while
    // the training scan halves
    val clustered = (0 until 200).map { id =>
      val cl = id % 8
      val v = (0 until 64).map(d =>
        (if (d == cl * 8) 4.0 else 0.0) +
          ((id * 31 + d * 7) % 11) * 0.02)
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = clustered.filter($"vec_id" < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(clustered, queries,
      "vec_id", "embedding", 5))

    // the training set really is the deterministic sample: centroids
    // from trainSample equal centroids from pre-filtering by hand
    val sampled = Corpus.deterministicSample(clustered, col("vec_id"),
      "8000")
    val nSampled = sampled.count()
    assert(nSampled > 8 && nSampled < 200,
      s"fixture must sample a strict subset (got $nSampled of 200)")
    assert(Clustering.kmeansCentroids(clustered, "vec_id", "embedding",
        8, 2, trainSample = Some("8000")) ==
      Clustering.kmeansCentroids(sampled, "vec_id", "embedding", 8, 2))

    // serving covers the FULL corpus: every query still gets k rows and
    // candidates outside the training sample are reachable
    val ivf = Similarity.ivfLearnedTopK(clustered, queries, "vec_id",
      "embedding", k = 5, kCentroids = 8, iters = 2, nprobe = 2,
      trainSample = Some("8000"))
    val byQ = ivf.groupBy("query_id").count().collect()
    assert(byQ.length == 8 && byQ.forall(_.getLong(1) == 5L))
    val sampledIds = sampled.select("vec_id").as[Long].collect().toSet
    assert(pairs(ivf).exists { case (_, v) => !sampledIds.contains(v) },
      "no out-of-sample candidate served — training filter leaked into " +
        "the serve path")
    val rIvf = (pairs(ivf) & exact).size.toDouble / exact.size
    assert(rIvf >= 0.8, s"sampled-trained IVF recall@5: $rIvf")

    val ivfpq = Similarity.ivfPqTopK(clustered, queries, "vec_id",
      "embedding", k = 5, kCentroids = 8, coarseIters = 2, nprobe = 2,
      m = 4, ks = 8, pqIters = 2, trainSample = Some("8000"))
    val rPq = (pairs(ivfpq) & exact).size.toDouble / exact.size
    assert(rPq >= 0.8, s"sampled-trained IVFPQ recall@5: $rPq")
  }

  test("kNN graph (x91/x92): k per node, corpus-as-queries is not " +
      "broadcast, mutual-kNN clusters are pure and min-labeled") {
    val clustered = (0 until 200).map { id =>
      val cl = id % 8
      val v = (0 until 64).map(d =>
        (if (d == cl * 8) 4.0 else 0.0) +
          ((id * 31 + d * 7) % 11) * 0.02)
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(clustered, "vec_id", "embedding", k = 3)
    val perNode = g.groupBy("src").count().collect()
    assert(perNode.length == 200 && perNode.forall(_.getLong(1) == 3L))
    // the query side IS the corpus — the plan must not carry a
    // broadcast hint (the small-batch serve path keeps its hint)
    assert(!g.queryExecution.analyzed.toString
      .toLowerCase.contains("broadcast"))
    val served = Similarity.ivfLearnedTopK(clustered,
      clustered.filter($"vec_id" < 8), "vec_id", "embedding", k = 3)
    assert(served.queryExecution.analyzed.toString
      .toLowerCase.contains("broadcast"))

    val cl = Similarity.mutualKnnClusters(clustered, "vec_id",
      "embedding", k = 3)
    val rows = cl.as[(Long, Long)].collect()
    assert(rows.length == 200, "coverage: every vector must be labeled")
    // label invariant: the cluster id is the component's min member
    rows.groupBy(_._2).foreach { case (label, members) =>
      assert(members.map(_._1).min == label,
        s"cluster $label is not its members' min")
    }
    // purity on the separated fixture: no multi-member cluster mixes
    // home dimensions (near-certain separation by construction)
    rows.groupBy(_._2).filter(_._2.length > 1).foreach {
      case (label, members) =>
        assert(members.map(_._1 % 8).distinct.length == 1,
          s"cluster $label mixes home dims: ${members.map(_._1).toSeq}")
    }
  }

  test("kNN graph refinement (x103): recall@k ≥ the unrefined graph's " +
      "against exact, k per node, no broadcast of the corpus") {
    // same separated fixture as x91's test, but with a decisive
    // boundary population: the additive jitter pushes some vectors
    // toward a neighboring home dimension, exactly the vectors whose
    // true neighbors sit one unprobed cell away
    val clustered = (0 until 200).map { id =>
      val cl = id % 8
      val v = (0 until 64).map(d =>
        (if (d == cl * 8) 4.0 else 0.0) +
          ((id * 31 + d * 7) % 11) * 0.02)
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").as[(Long, Long)].collect().toSet
    // exact kNN graph (brute force, every vector a query) = truth
    val exact = edgeSet(Similarity.bruteForceTopK(clustered, clustered,
      "vec_id", "embedding", k = 3)
      .select($"query_id".as("src"), $"vec_id".as("dst")))
    val g0 = Similarity.knnGraph(clustered, "vec_id", "embedding",
      k = 3, kCentroids = 8, iters = 2, nprobe = 2)
    val g1 = Similarity.knnGraphRefined(clustered, "vec_id",
      "embedding", k = 3, kCentroids = 8, iters = 2, nprobe = 2)
    // shape contract: k rows per node, same schema as knnGraph
    val perNode = g1.groupBy("src").count().collect()
    assert(perNode.length == 200 && perNode.forall(_.getLong(1) == 3L))
    assert(g1.schema.fieldNames.toSeq ==
      Seq("src", "dst", "rank", "cos"))
    val r0 = (edgeSet(g0) & exact).size.toDouble / exact.size
    val r1 = (edgeSet(g1) & exact).size.toDouble / exact.size
    assert(r1 >= r0,
      s"refinement must not lose recall: refined $r1 < unrefined $r0")
    assert(r1 >= 0.9, s"refined recall@3: $r1")
    // the corpus-sized sides are never broadcast (the x91 pin)
    assert(!g1.queryExecution.analyzed.toString
      .toLowerCase.contains("broadcast"))
  }

  test("kNN graph from persisted index (x93/x94): cold save→load→serve " +
      "equals the per-call forms; reliable threads through") {
    val clustered = (0 until 200).map { id =>
      val cl = id % 8
      val v = (0 until 64).map(d =>
        (if (d == cl * 8) 4.0 else 0.0) +
          ((id * 31 + d * 7) % 11) * 0.02)
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-knnidx-").toString
    Similarity.saveIvfIndex(clustered, "vec_id", "embedding", idx,
      kCentroids = 8, iters = 2)
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "rank", "cos")
        .as[(Long, Long, Long, Double)].collect().sortBy(e => (e._1, e._3))
        .toSeq
    assert(edges(Similarity.knnGraphFromIndex(spark, idx, k = 3)) ==
      edges(Similarity.knnGraph(clustered, "vec_id", "embedding", k = 3)))
    // the refined graph serves off the cold index identically too (x104)
    assert(edges(Similarity.knnGraphRefinedFromIndex(spark, idx, k = 3))
      == edges(Similarity.knnGraphRefined(clustered, "vec_id",
        "embedding", k = 3)))
    // the serve plan must be training-free: no Spark job beyond the
    // k-row centroid reload touches the corpus before the probe join —
    // pinned structurally: still no broadcast of the corpus-sized side
    val g = Similarity.knnGraphFromIndex(spark, idx, k = 3)
    assert(!g.queryExecution.analyzed.toString
      .toLowerCase.contains("broadcast"))
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().sortBy(_._1).toSeq
    val fromIdx = labels(Similarity.mutualKnnClustersFromIndex(
      spark, idx, k = 3))
    assert(fromIdx == labels(Similarity.mutualKnnClusters(clustered,
      "vec_id", "embedding", k = 3)))
    // reliable passthrough: identical answer with checkpointed CC state
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-knncc-").toString)
    assert(labels(Similarity.mutualKnnClustersFromIndex(spark, idx,
      k = 3, reliable = true)) == fromIdx)
    assert(labels(Similarity.mutualKnnClusters(clustered, "vec_id",
      "embedding", k = 3, reliable = true)) == fromIdx)
  }

  test("bestPassage (x159): earliest max-hit window; case-insensitive " +
      "whole-token match; end-truncated slice; zero-hit docs absent") {
    val d = Seq(
      (1L, "a b hash c join hash d"), // max-2 windows at 2,3,4 → 2
      (2L, "nothing relevant here"),  // no hits: absent
      (3L, "JOIN"),                   // case-folds; window truncates
      (4L, "x hash y"))               // single hit mid-doc
      .toDF("doc_id", "text")
    val got = TextAnalysis.bestPassage(d, "doc_id", "text",
        Seq("hash", "join"), window = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((2L, 2L, "hash c join")),
      3L -> ((0L, 1L, "join")),
      // the pos-0 window already contains the hit — earliest wins
      4L -> ((0L, 1L, "x hash y"))))
    // partition-independence (integer counts, total argmax)
    assert(TextAnalysis.bestPassage(d.repartition(5), "doc_id", "text",
        Seq("hash", "join"), window = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap == got)
    intercept[IllegalArgumentException](
      TextAnalysis.bestPassage(d, "doc_id", "text", Seq.empty))
    intercept[IllegalArgumentException](
      TextAnalysis.bestPassage(d, "doc_id", "text", Seq("a"),
        window = 0))
  }

  test("shingleNovelty (x157): hand-computed df-1 fractions; per-doc " +
      "distinct shingles; short docs carry no row") {
    val d = Seq(
      (1L, "a b c d e"),          // one shingle, shared with doc 2
      (2L, "a b c d e f"),        // two shingles, one unique
      (3L, "x y z"),              // < 5 tokens: no shingles, no row
      (4L, "a a a a a a"))        // repeated shingle dedupes in-doc
      .toDF("doc_id", "text")
    val got = TextAnalysis.shingleNovelty(d, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((1L, 0L, 0.0)),   // its only shingle also lives in doc 2
      2L -> ((2L, 1L, 0.5)),   // "b c d e f" is corpus-unique
      4L -> ((1L, 1L, 1.0))))  // in-doc repeats count once, df = 1
    // partition-independence (exact integer counts + one IEEE divide)
    assert(TextAnalysis.shingleNovelty(d.repartition(5), "doc_id",
        "text").as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap == got)
    intercept[IllegalArgumentException](
      TextAnalysis.shingleNovelty(d, "doc_id", "text", n = 0))
  }

  test("bpeLearn (x165): hand-computed merges; leftmost run pairing " +
      "for l = r; total-order tie-break; early exhaustion") {
    def learn(texts: Seq[String], k: Int): Seq[(Long, String, String, Long)] =
      TextAnalysis.bpeLearn(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"), "text", merges = k)
        .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    // aa×3 + ab×1: round 1 merges (a,a) at freq 3, round 2 (a,b) at 1
    assert(learn(Seq("aa aa ab", "aa"), 2) ==
      Seq((1L, "a", "a", 3L), (2L, "a", "b", 1L)))
    // run parity: [a,a,a,a] merges positions 1-2 and 3-4 → [aa,aa],
    // whose pair (aa,aa) is round 2; [a,a,a] → [aa,a] (odd tail)
    assert(learn(Seq("aaaa"), 2) ==
      Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)))
    assert(learn(Seq("aaa"), 2) ==
      Seq((1L, "a", "a", 2L), (2L, "aa", "a", 1L)))
    // equal frequencies tie-break on (left, right) ascending
    assert(learn(Seq("ba ca"), 1) == Seq((1L, "b", "a", 1L)))
    // corpus runs dry before k rounds → fewer rows, no error
    assert(learn(Seq("ab"), 5).map(t => (t._2, t._3)) ==
      Seq(("a", "b")))
    // case-folding + non-letter splitting happen before training
    // ("a8ab" splits to "a" + "ab"; 1-char words carry no pairs)
    assert(learn(Seq("AB a8ab"), 1) == Seq((1L, "a", "b", 2L)))
    intercept[IllegalArgumentException](
      TextAnalysis.bpeLearn(Seq((1L, "x")).toDF("doc_id", "text"),
        "text", merges = 0))
  }

  test("bpeMergeOnce == reference leftmost non-overlapping merge, " +
      "exhaustively over {a,b}-strings to length 6 and all 4 pairs") {
    def ref(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val words: Seq[Vector[String]] = (1 to 6).flatMap { len =>
      (0 until (1 << len)).map(bits => Vector.tabulate(len)(i =>
        if ((bits >> i & 1) == 0) "a" else "b"))
    }
    val pairs = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("b", "b"))
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "syms")
    // one job: all four merges as parallel columns over all 126 words
    val cols = pairs.zipWithIndex.map { case ((l, r), i) =>
      TextAnalysis.bpeMergeOnce(col("syms"), l, r).as(s"m$i")
    }
    val got = df.select(col("id") +: cols: _*)
      .as[(Long, Seq[String], Seq[String], Seq[String], Seq[String])]
      .collect().sortBy(_._1)
    got.foreach { case (id, m0, m1, m2, m3) =>
      val w = words(id.toInt)
      val expect = pairs.map { case (l, r) => ref(w, l, r) }
      assert(Seq(m0, m1, m2, m3).map(_.toVector) == expect,
        s"word $w: got ${Seq(m0, m1, m2, m3)} want $expect")
    }
  }

  test("bpeEncode (x166): merge folds apply in rank order; counts " +
      "hand-verified; docs without letter runs are absent") {
    val d = Seq((1L, "aaaa aaa b"), (2L, "ab aa"), (3L, "123 !!"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(d, "doc_id", "text",
        Seq(("a", "a"), ("aa", "aa")))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // aaaa→[aaaa] 1 tok; aaa→[aa,a] 2; b→[b] 1; ab→[a,b] 2; aa→[aa] 1
    assert(got == Map(
      1L -> ((3L, 8L, 4L)),
      2L -> ((2L, 4L, 3L))))
    // empty merge list = character tokenization
    val plain = TextAnalysis.bpeEncode(d, "doc_id", "text", Seq.empty)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(plain == Map(1L -> ((3L, 8L, 8L)), 2L -> ((2L, 4L, 4L))))
  }

  test("x230 tokenizer persistence: save/load round-trips the " +
      "vocabulary; retrain swaps generations in one commit; time " +
      "travel replays the old generation; unsegmentable words drop") {
    val d = Seq((1L, "abcd abcd abcd"), (2L, "zz zz")).toDF(
      "doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_univocab").resolve("idx").toString
    // gen 1 learns on doc 1 only — its alphabet has no 'z'
    val gen1 = TextAnalysis.unigramLearn(
      d.filter($"doc_id" === 1), "text")
    TextAnalysis.saveUnigramVocab(gen1, idx)
    val v1 = Corpus.histSketchVersion(spark, idx)
    assert(TextAnalysis.loadUnigramVocab(spark, idx) ==
      gen1.orderBy("piece").collect()
        .map(r => (r.getString(0), r.getLong(2))).toSeq)
    // gen-1 encode of the full frame: doc 2's words are
    // unsegmentable ('z' unseen) and DROP — doc 2 emits no row
    val encOld = TextAnalysis.unigramEncode(d, "doc_id", "text",
        TextAnalysis.loadUnigramVocab(spark, idx))
      .as[(Long, Long, Long, Long)].collect()
    assert(encOld.map(_._1).toSet == Set(1L))
    // retrain on the full corpus — new generation covers 'z'
    TextAnalysis.retrainUnigramVocab(spark, idx, d, "text")
    val encNew = TextAnalysis.unigramEncode(d, "doc_id", "text",
        TextAnalysis.loadUnigramVocab(spark, idx))
      .as[(Long, Long, Long, Long)].collect()
    assert(encNew.map(_._1).toSet == Set(1L, 2L))
    // time travel: the pinned old generation still serves byte-same
    assert(TextAnalysis.loadUnigramVocab(spark, idx, Some(v1)) ==
      gen1.orderBy("piece").collect()
        .map(r => (r.getString(0), r.getLong(2))).toSeq)
    intercept[IllegalArgumentException](
      TextAnalysis.loadUnigramVocab(spark, idx, Some(99L)))
  }

  test("viterbiSeg == exhaustive min-(cost, n_pieces, path) " +
      "segmentation over all {a,b}-words to length 6; unsegmentable " +
      "words yield null") {
    val vocab: Seq[(String, Long)] = Seq("a" -> 700L, "b" -> 900L,
      "aa" -> 1000L, "ab" -> 650L, "ba" -> 1300L, "bb" -> 2600L,
      "aba" -> 1500L, "abab" -> 1600L)
    val costOf = vocab.toMap
    // reference: enumerate every segmentation, take the total-order min
    def segs(word: String, pos: Int): Seq[(Long, Int, String)] =
      if (pos == word.length) Seq((0L, 0, ""))
      else (1 to 4).flatMap { l =>
        if (pos + l > word.length) Nil
        else costOf.get(word.substring(pos, pos + l)).toSeq.flatMap {
          c =>
            segs(word, pos + l).map { case (cc, n, p) =>
              (cc + c, n + 1,
                " " + word.substring(pos, pos + l) + p)
            }
        }
      }
    def refBest(word: String): Option[(Long, Int, String)] =
      segs(word, 0) match { case Seq() => None; case xs => Some(xs.min) }
    val words = (1 to 6).flatMap { len =>
      (0 until (1 << len)).map(bits => String.valueOf(
        Array.tabulate(len)(i => if ((bits >> i & 1) == 0) 'a' else 'b')))
    } ++ Seq("abcab", "c") // 'c' not in vocab → unsegmentable
    val costMap = map(vocab.flatMap { case (p, c) =>
      Seq(lit(p), lit(c)) }: _*)
    val got = words.toDF("word")
      .withColumn("s", TextAnalysis.viterbiSeg(col("word"), costMap))
      .select(col("word"), col("s.c"), col("s.n"), col("s.p"))
      .as[(String, Option[Long], Option[Int], Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    words.foreach { w =>
      refBest(w) match {
        case None =>
          assert(got(w) == ((None, None, None)), s"$w should be null")
        case Some((c, n, p)) =>
          assert(got(w) == ((Some(c), Some(n), Some(p))),
            s"$w: got ${got(w)} want ($c,$n,$p)")
      }
    }
  }

  test("tokenizerScorecard (x236) hand fixture: per-lang integer " +
      "counts, BPE total on letter-runs, unigram OOV = unseen-char " +
      "and overlong words, ratios are single rounded divisions") {
    // lang A: "abab" ×2 + "xy" (x,y not in vocab → unigram OOV) +
    // an 17-char word (overlong → unigram OOV, BPE still encodes).
    // lang B: "ab" alone. vocab = {a, b, ab}; merges = [(a, b)].
    val long17 = "a" * 17
    val d = Seq(
      (1L, "A", s"abab abab xy $long17"),
      (2L, "B", "ab")).toDF("doc_id", "lang", "text")
    val vocab = Seq(("a", 100L), ("b", 100L), ("ab", 50L))
    val got = TextAnalysis.tokenizerScorecard(d, "text", "lang",
        Seq(("a", "b")), vocab)
      .orderBy("lang", "tokenizer")
      .as[(String, String, Long, Long, Long, Long, Long,
        Option[Double], Option[Double])].collect().toSeq
    // A/bpe: 4 words, chars 4+4+2+17=27; "abab"→[ab,ab]=2 tokens ×2,
    //   "xy"→[x,y]=2, long17 → 17 (no "aa" merge) → 23 tokens
    // A/unigram: enc words = 2 ("abab"→[ab,ab] cost-min), oov = 2;
    //   enc chars 8, tokens 4
    // B/bpe: 1 word "ab" → 1 token; B/unigram: [ab] → 1 piece
    assert(got == Seq(
      ("A", "bpe", 4L, 4L, 0L, 27L, 23L,
        Some(5.75), Some(math.rint(27.0 / 23 * 1e6) / 1e6)),
      ("A", "unigram", 4L, 2L, 2L, 8L, 4L, Some(2.0), Some(2.0)),
      ("B", "bpe", 1L, 1L, 0L, 2L, 1L, Some(1.0), Some(2.0)),
      ("B", "unigram", 1L, 1L, 0L, 2L, 1L, Some(1.0), Some(2.0))),
      s"got $got")
  }

  test("unigramLearn (x215) hand fixture: seed → Viterbi → prune → " +
      "smoothed micronat costs, every number closed-form; " +
      "unigramEncode (x216) applies the learned vocabulary") {
    // corpus = "abcd"×3: all pieces seed at count 3 (chars 4·3, pairs
    // 3·3, triples 2·3, the word 1·3 → total0 = 30); equal costs make
    // Viterbi pick the 1-piece segmentation, so only "abcd" is used →
    // vocab1 = chars (smoothed 1) + abcd (3+1=4), total1 = 8:
    // cost(abcd) = round(1e6·ln(2)) = 693147, chars = ln(8) → 2079442
    val d = Seq((1L, "abcd abcd abcd")).toDF("doc_id", "text")
    val learned = TextAnalysis.unigramLearn(d, "text")
      .orderBy("piece").as[(String, Long, Long)].collect().toSeq
    assert(learned == Seq(("a", 1L, 2079442L), ("abcd", 4L, 693147L),
      ("b", 1L, 2079442L), ("c", 1L, 2079442L), ("d", 1L, 2079442L)))
    val enc = TextAnalysis.unigramEncode(d, "doc_id", "text",
        learned.map(t => (t._1, t._3)))
      .as[(Long, Long, Long, Long)].head()
    assert(enc == ((1L, 3L, 3L, 3L * 693147L)))
    // coverage contract on the real fixture: every ≤16-char word
    // encodes (chars are always in vocab), pieces never exceed chars
    val docs = Tables.load(spark, Sf0001, "documents")
    val learnedReal = TextAnalysis.unigramLearn(docs, "text")
      .as[(String, Long, Long)].collect()
    assert(learnedReal.count(_._1.length == 1) >= 20,
      "alphabet must be covered")
    assert(learnedReal.count(_._1.length > 1) <= 60)
    val vocabReal = learnedReal.map(t => (t._1, t._3)).toSeq
    val occ = docs.select(explode(expr(
        "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .filter(length(col("w")) <= 16)
    val nOcc = occ.count()
    val encReal = TextAnalysis.unigramEncode(docs, "doc_id", "text",
      vocabReal)
    assert(encReal.agg(sum("n_words")).as[Long].head() == nOcc,
      "every capped word must segment under full char coverage")
    assert(encReal.filter(col("n_pieces") > col("n_words") * 16)
      .count() == 0L)
    // fewer pieces than characters: multi-char pieces actually fire
    val chars = occ.agg(sum(length(col("w")))).as[Long].head()
    val pieces = encReal.agg(sum("n_pieces")).as[Long].head()
    assert(pieces < chars,
      s"unigram must beat char tokenization ($pieces vs $chars)")
  }
}
