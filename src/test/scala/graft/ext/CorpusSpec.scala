package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  test("incrementalDedup admits only unseen text, keeps all columns") {
    val corpus = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    val incoming = Seq((10L, "a b c"), (11L, "x y z"), (12L, "x y z"))
      .toDF("doc_id", "text")
    val got = Corpus.incrementalDedup(incoming, corpus, "text")
    assert(got.columns.toSeq == Seq("doc_id", "text"))
    // both copies of the novel text are admitted (dedup-within-batch is a
    // separate op); the corpus duplicate is rejected
    assert(got.select("doc_id").as[Long].collect().toSet == Set(10L, 11L, 12L)
      - 10L)
  }

  test("incrementalDedup with empty corpus admits everything") {
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val incoming = Seq((1L, "a")).toDF("doc_id", "text")
    assert(Corpus.incrementalDedup(incoming, corpus, "text").count() == 1L)
  }

  test("assignSplit is content-stable and respects percentages") {
    val docs = (0L until 200L).map(i => (i, s"doc number $i text body"))
      .toDF("doc_id", "text")
    val s1 = Corpus.assignSplit(docs, "text")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // re-run on a repartitioned frame → identical assignment
    val s2 = Corpus.assignSplit(docs.repartition(7), "text")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1 == s2)
    assert(s1.values.toSet.subsetOf(Set("train", "val", "test")))
    // roughly 80/10/10 (content-hashed, not exact)
    assert(s1.values.count(_ == "train") > 100)
  }

  test("clusterSafeSplit: clusters never straddle splits; singletons " +
      "get exactly their assignSplit label; content-stable") {
    val docs = (0L until 60L).map(i => (i, s"doc number $i text body"))
      .toDF("doc_id", "text")
    // clusters {0,1,2} (min 0) and {10,11} (min 10); rest singletons
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster_id")
    val got = Corpus.clusterSafeSplit(docs, "doc_id", "text", labels)
      .select("doc_id", "cluster_id", "split")
      .as[(Long, Long, String)].collect()
    assert(got.length == 60)
    // one split per cluster
    val byCluster = got.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(byCluster.values.forall(_.size == 1),
      s"cluster with mixed splits: ${byCluster.filter(_._2.size > 1)}")
    // clustered docs carry the CANONICAL member's split
    val own = Corpus.assignSplit(docs, "text")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val gotM = got.map(t => t._1 -> t._3).toMap
    assert(gotM(1L) == own(0L) && gotM(2L) == own(0L) &&
      gotM(11L) == own(10L))
    // singletons keep their own content split (assignSplit equality)
    (got.map(_._1).toSet -- Set(0L, 1L, 2L, 10L, 11L)).foreach { id =>
      assert(gotM(id) == own(id), s"singleton $id diverged") }
    // content-stable under repartitioning
    val re = Corpus.clusterSafeSplit(docs.repartition(7), "doc_id",
      "text", labels.repartition(3))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(re == gotM)
  }

  test("clusterSafeSplit: never loses rows — stale labels whose " +
      "canonical member is absent fall back to the doc's own split") {
    val docs = (0L until 10L).map(i => (i, s"doc number $i text body"))
      .toDF("doc_id", "text")
    // doc 5's canonical member 999 does not exist in docs (stale /
    // superset labels) — a silent inner join would drop doc 5
    val stale = Seq((5L, 999L)).toDF("id", "cluster_id")
    val got = Corpus.clusterSafeSplit(docs, "doc_id", "text", stale)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got.size == 10, s"split lost rows: ${got.keySet}")
    // the orphaned doc gets its OWN content split
    val own = Corpus.assignSplit(docs, "text")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got(5L) == own(5L))
    assert(got.view.filterKeys(_ != 5L).toMap ==
      own.view.filterKeys(_ != 5L).toMap)
  }

  test("lengthBucket thresholds are half-open [lo, hi)") {
    val got = Seq(15L, 16L, 63L, 64L, 255L, 256L, 1023L, 1024L)
      .toDF("n")
      .select(Corpus.lengthBucket(col("n")).as("b")).as[String].collect()
    assert(got.toSeq == Seq("lt16", "lt64", "lt64", "lt256", "lt256",
      "lt1024", "lt1024", "ge1024"))
  }

  test("deterministicSample is stable and rejects bad thresholds") {
    val docs = (0L until 500L).map(i => (i, "t")).toDF("doc_id", "text")
    val a = Corpus.deterministicSample(docs, col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    val b = Corpus.deterministicSample(docs.repartition(5), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    assert(a.nonEmpty && a.size < 500) // ~25%
    intercept[IllegalArgumentException] {
      Corpus.deterministicSample(docs, col("doc_id"), "ZZZZ")
    }
  }

  test("stratifiedSample applies per-stratum rates on the shared " +
      "md5 address space") {
    val docs = (0L until 600L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "zz"))
      .toDF("doc_id", "lang")
    val out = Corpus.stratifiedSample(docs, col("lang"), col("doc_id"),
      Map("en" -> "ffff", "de" -> "4000"), defaultThreshold = "0000")
    val byLang = out.groupBy("lang").count().as[(String, Long)]
      .collect().toMap
    // "ffff" is an exclusive bound: keeps every key whose md5 prefix
    // < "ffff" — all 200 en rows in this fixture (none hash to ffff)
    assert(byLang.getOrElse("en", 0L) == 200L, "ffff keeps en rows")
    assert(!byLang.contains("zz"), "default 0000 drops undeclared strata")
    val de = byLang.getOrElse("de", 0L)
    assert(de > 0L && de < 200L, s"de should be a strict subset, got $de")
    // per-stratum selection == the global sampler at the same threshold
    // (the address space is shared, so quotas compose)
    val global = Corpus.deterministicSample(
      docs.filter(col("lang") === "de"), col("doc_id"), "4000")
      .select("doc_id").as[Long].collect().toSet
    assert(out.filter(col("lang") === "de")
      .select("doc_id").as[Long].collect().toSet == global)
    intercept[IllegalArgumentException] {
      Corpus.stratifiedSample(docs, col("lang"), col("doc_id"),
        Map("en" -> "XY"))
    }
  }

  test("packBatches: offset-based assignment, shard-independent packing") {
    // 10 docs of 5 tokens each per shard → capacity 12 packs docs at
    // offsets 0,5,10,15,... into batches 0,0,0,1,1,2,2,2,3,3
    val docs = (0L until 20L).map(i => (i, "t1 t2 t3 t4 t5"))
      .toDF("doc_id", "text")
      .withColumn("shard", pmod(col("doc_id"), lit(2L)))
    val got = Corpus.packBatches(docs, "text", "doc_id", capacity = 12L,
        partitionCols = Seq("shard"))
      .select("doc_id", "shard", "batch_id")
      .as[(Long, Long, Long)].collect()
    // recompute expected per shard in plain Scala
    val expected = got.map(_._1).sorted.map { id =>
      val posInShard = id / 2 // ids alternate shards 0,1,0,1,...
      (id, id % 2, (posInShard * 5) / 12)
    }.map(t => t._1 -> t._3).toMap
    got.foreach { case (id, _, b) =>
      assert(b == expected(id), s"doc $id: batch $b != ${expected(id)}")
    }
    // packing one shard alone yields the same batches — batches never
    // cross shards, so shards pack (and consume) independently
    val solo = Corpus.packBatches(docs.filter(col("shard") === 0L),
        "text", "doc_id", capacity = 12L, partitionCols = Seq("shard"))
      .select("doc_id", "batch_id").as[(Long, Long)].collect().toMap
    got.filter(_._2 == 0L).foreach { case (id, _, b) =>
      assert(solo(id) == b)
    }
  }

  test("packBatches plan sorts within (split, shard), not one partition") {
    val docs = (0L until 40L).map(i => (i, s"w$i body"))
      .toDF("doc_id", "text")
    val sharded = Corpus.assignSplit(docs, "text")
      .withColumn("shard", pmod(col("doc_id"), lit(8L)))
    val plan = Corpus.packBatches(sharded, "text", "doc_id", 512L,
      Seq("split", "shard")).queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(split") &&
      plan.contains("shard"),
      s"window exchange must partition by (split, shard):\n$plan")
    assert(!plan.contains("SinglePartition"),
      "no stage of the pack may collapse to one partition")
  }

  test("chunkDocuments: stride windows with short tail, exact positions") {
    val doc = Seq((7L, (0 until 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Corpus.chunkDocuments(doc, "text", "doc_id",
        chunkTokens = 4, stride = 3)
      .select("chunk_pos", "chunk_text", "n_chunk_tokens")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, "w0 w1 w2 w3", 4L),
      (3L, "w3 w4 w5 w6", 4L),
      (6L, "w6 w7 w8 w9", 4L),
      (9L, "w9", 1L)))
    // stride == chunkTokens partitions exactly: every token in one chunk
    val exact = Corpus.chunkDocuments(doc, "text", "doc_id", 5, 5)
      .agg(sum("n_chunk_tokens")).head.getLong(0)
    assert(exact == 10L)
  }

  test("tokenBudgetMix: fills budgets in hash order; undeclared groups " +
      "drop; raising a budget only adds rows") {
    // per-doc token counts are all 4; budget 9 admits the first 2 docs
    // of the group in (md5(id), id) order
    val docs = (1L to 10L).map(i =>
      (i, if (i <= 6) "g1" else "g2", "t t t t")).toDF("doc_id", "lang", "text")
    def run(b: Map[String, Long]): Set[Long] =
      Corpus.tokenBudgetMix(docs, "lang", "doc_id", "text", b)
        .select("doc_id").as[Long].collect().toSet
    val small = run(Map("g1" -> 9L))
    assert(small.size == 2 && small.subsetOf((1L to 6L).toSet),
      "budget 9 admits exactly two 4-token g1 docs; g2 undeclared drops")
    // admission order matches md5-hex ordering of the ids
    val expectOrder = (1L to 6L).sortBy(i => (md5Hex(i.toString), i))
    assert(small == expectOrder.take(2).toSet)
    // monotone rebalancing: a larger budget strictly extends the set
    val bigger = run(Map("g1" -> 13L, "g2" -> 4L))
    assert(small.subsetOf(bigger))
    assert(bigger.count(_ <= 6L) == 3 && bigger.count(_ > 6L) == 1)
    // cum_tokens is the running total in admission order
    val cums = Corpus.tokenBudgetMix(docs, "lang", "doc_id", "text",
        Map("g1" -> 13L)).select("doc_id", "cum_tokens")
      .as[(Long, Long)].collect().toMap
    assert(expectOrder.take(3).zip(Seq(4L, 8L, 12L))
      .forall { case (id, c) => cums(id) == c })
  }

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  test("eventSequences: event-time order with id tiebreak, stable " +
      "under repartitioning") {
    val events = Seq(
      (3L, 1L, "click", 20L), (1L, 1L, "view", 10L),
      (2L, 1L, "view", 20L),   // same ts as event 3 → id order: 2 then 3
      (4L, 2L, "purchase", 5L))
      .toDF("event_id", "user_id", "event_type", "sec")
      .select($"event_id", $"user_id", $"event_type",
        timestamp_seconds($"sec").as("ts"))
    def run(df: org.apache.spark.sql.DataFrame) =
      Corpus.eventSequences(df, "user_id")
        .as[(Long, Long, String)].collect().toSet
    val got = run(events)
    assert(got == Set(
      (1L, 3L, "view@10000000,view@20000000,click@20000000"),
      (2L, 1L, "purchase@5000000")))
    assert(run(events.repartition(7)) == got)
  }

  test("decontaminate finds only true n-gram overlaps") {
    val train = Seq(
      (1L, "one two three four five six"),   // shares 5-gram with eval
      (2L, "totally different words here now")) // no overlap
      .toDF("doc_id", "text")
    val eval = Seq((100L, "zero one two three four five"))
      .toDF("doc_id", "text")
    val got = Corpus.decontaminate(train, eval, "text", "doc_id", n = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L)) // "one two three four five" only
  }

  test("sourceCap: exact per-group bound, deterministic, partition-stable") {
    val docs = (0L until 100L).map(i => (i, s"g${i % 3}"))
      .toDF("doc_id", "grp")
    val got = Corpus.sourceCap(docs, "grp", "doc_id", cap = 10)
      .select("doc_id", "grp").as[(Long, String)].collect().toSet
    val perGroup = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(perGroup == Map("g0" -> 10, "g1" -> 10, "g2" -> 10))
    // same admission set under a different physical layout
    val again = Corpus.sourceCap(docs.repartition(7), "grp", "doc_id", 10)
      .select("doc_id", "grp").as[(Long, String)].collect().toSet
    assert(again == got)
    // a group under its cap is passed through whole
    val small = Corpus.sourceCap(docs.filter($"doc_id" < 5L), "grp",
      "doc_id", 10)
    assert(small.count() == 5L)
    assertThrows[IllegalArgumentException](
      Corpus.sourceCap(docs, "grp", "doc_id", 0))
  }

  test("weightedSample: k rows, positive weights only, biased to weight") {
    // two strata: ids 0-99 weight 1, ids 100-199 weight 50; a weighted
    // sample of 40 must draw overwhelmingly from the heavy stratum
    val docs = (0L until 200L)
      .map(i => (i, if (i < 100) 1.0d else 50.0d))
      .toDF("doc_id", "w")
    val got = Corpus.weightedSample(docs, "doc_id", col("w"), k = 40)
    assert(got.count() == 40L)
    val heavy = got.filter($"doc_id" >= 100L).count()
    assert(heavy >= 30L, s"heavy stratum drew only $heavy of 40")
    // deterministic: same frame, different partitioning → same sample
    val again = Corpus.weightedSample(docs.repartition(9), "doc_id",
      col("w"), k = 40).select("doc_id").as[Long].collect().toSet
    assert(again ==
      got.select("doc_id").as[Long].collect().toSet)
    // zero/negative weights are never sampled
    val withZero = docs.withColumn("w",
      when($"doc_id" === 7L, lit(0.0d)).otherwise($"w"))
    assert(!Corpus.weightedSample(withZero, "doc_id", col("w"), 200)
      .select("doc_id").as[Long].collect().contains(7L))
  }

  test("bloomDedup is exactly incrementalDedup (FP sliver re-verified)") {
    val corpus = (0L until 300L).map(i => (i, s"corpus text $i"))
      .toDF("doc_id", "text")
    val incoming = (0L until 300L)
      .map(i => (1000L + i, if (i % 3 == 0) s"corpus text $i"
                            else s"fresh text $i"))
      .toDF("doc_id", "text")
    // deliberately undersized filter → real false positives → the exact
    // re-check path is genuinely exercised
    val viaBloom = Corpus.bloomDedup(incoming, corpus, "text",
      expectedItems = 50L, numBits = 256L)
      .select("doc_id").as[Long].collect().toSet
    val exact = Corpus.incrementalDedup(incoming, corpus, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(viaBloom == exact)
    assert(exact.size == 200) // the 2/3 fresh slice
  }

  test("inBatchNegatives: ring successors, same-group rejected, " +
      "deterministic") {
    val docs = (0L until 64L).map(i => (i, s"g${i % 4}"))
      .toDF("doc_id", "grp")
    val got = Corpus.inBatchNegatives(docs, "doc_id", "grp", k = 3,
        buckets = 4)
      .select("doc_id", "neg_id", "neg_rank")
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // no self-negatives, at most k per doc, ranks in 1..k
    assert(got.forall { case (d, n, _) => d != n })
    assert(got.groupBy(_._1).values.forall(_.length <= 3))
    assert(got.forall { case (_, _, r) => r >= 1 && r <= 3 })
    // a negative never shares the anchor's group
    val grpOf = (0L until 64L).map(i => i -> s"g${i % 4}").toMap
    assert(got.forall { case (d, n, _) => grpOf(d) != grpOf(n) })
    // partition-layout invariant
    val again = Corpus.inBatchNegatives(docs.repartition(7), "doc_id",
        "grp", 3, 4)
      .select("doc_id", "neg_id", "neg_rank")
      .as[(Long, Long, Long)].collect()
    assert(again.toSet == got.toSet)
  }

  test("bloomDedup with empty corpus admits everything") {
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val incoming = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Corpus.bloomDedup(incoming, corpus, "text").count() == 2L)
  }

  test("bloomDedupSharded == incrementalDedup (undersized shards, " +
      "NULL text, shard invariance)") {
    val corpus = (0L until 200L).map(i => (i, s"corpus text $i"))
      .toDF("doc_id", "text")
    val incoming = ((0L until 200L).map(i =>
        (1000L + i, if (i % 4 == 0) s"corpus text $i" else s"new text $i")) :+
        (2000L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val exact = Corpus.incrementalDedup(incoming, corpus, "text")
      .select("doc_id").as[Long].collect().toSet
    // tiny per-shard filters → forced FPs exercise the re-check path
    for (shards <- Seq(1, 3, 5)) {
      val got = Corpus.bloomDedupSharded(incoming, corpus, "text",
          shards = shards, expectedItemsPerShard = 16L,
          numBitsPerShard = 128L)
        .select("doc_id").as[Long].collect().toSet
      assert(got == exact, s"shards=$shards")
    }
    assert(exact.contains(2000L)) // the NULL-text row is admitted
    assert(exact.size == 151) // 150 fresh + the NULL row
  }

  test("bloomDedupSharded scans the corpus ONCE in the returned plan " +
      "and runs ONE eager build action") {
    // Distinguishable corpus leaf: an extra column incoming lacks.
    val corpus = (0L until 100L).map(i => (i, s"corpus text $i", "c"))
      .toDF("doc_id", "text", "corpus_tag")
    val incoming = (0L until 50L).map(i =>
        (1000L + i, if (i % 2 == 0) s"corpus text $i" else s"new text $i"))
      .toDF("doc_id", "text")
    val execIds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val id = js.properties.getProperty("spark.sql.execution.id")
        if (id != null) execIds.add(id)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val got =
      try Corpus.bloomDedupSharded(incoming, corpus, "text", shards = 4,
        expectedItemsPerShard = 64L, numBitsPerShard = 512L)
      finally {
        // listener delivery is async; events for jobs started inside the
        // call are posted in order — poll until the count stabilizes
        var last = -1
        var stable = 0
        while (stable < 6) { // 300 ms of no change
          Thread.sleep(50)
          val now = execIds.size
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
        spark.sparkContext.removeSparkListener(listener)
      }
    // ONE eager action (the single collect of all shard filters) — the
    // round-6 shape ran S of them, one full corpus scan per shard.
    assert(execIds.size == 1,
      s"expected 1 eager build execution, saw ${execIds.size}")
    // The lazy remainder re-reads the corpus exactly once (the global
    // suspect anti-join). In the ANALYZED plan (optimization may prune/
    // collapse outputs) each corpus subtree surfaces the tag column in
    // exactly one node — the rename Project over the raw relation — so
    // the node count equals the corpus scan count.
    val corpusScans = got.queryExecution.analyzed.collect {
      case p if p.output.exists(_.name == "corpus_tag") => p
    }.length
    assert(corpusScans == 1,
      s"expected exactly 1 corpus scan in the plan, saw $corpusScans")
    // and it still computes the right answer
    val exact = Corpus.incrementalDedup(incoming, corpus.drop("corpus_tag"),
      "text").select("doc_id").as[Long].collect().toSet
    assert(got.select("doc_id").as[Long].collect().toSet == exact)
  }

  test("bloomDedup keeps NULL-text rows, exactly like incrementalDedup") {
    val corpus = (0L until 50L).map(i => (i, s"corpus text $i"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (100L, "corpus text 1"),    // true dup — dropped
      (101L, "brand new"),        // fresh — kept
      (102L, null.asInstanceOf[String]), // NULL probe — must be kept
      (103L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val viaBloom = Corpus.bloomDedup(incoming, corpus, "text")
      .select("doc_id").as[Long].collect().toSet
    val exact = Corpus.incrementalDedup(incoming, corpus, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(viaBloom == exact)
    assert(viaBloom == Set(101L, 102L, 103L))
  }

  test("removeDuplicateSpans (x96): surgery on detected offsets; " +
      "no-span docs pass through whitespace-canonical") {
    val shared = (1 to 8).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared keep1 keep2"),
      (2L, s"lead $shared tail"),
      (3L, "no    duplicated\ttext here")).toDF("doc_id", "text")
    val spans = DedupOps.duplicateSpanOffsets(docs, "doc_id", "text",
      w = 8, minDocs = 2)
    // the shared window is one maximal span per doc at its position
    assert(spans.as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 0L, 8L), (2L, 1L, 9L)))
    val out = Corpus.removeDuplicateSpans(docs, "doc_id", "text", spans)
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "keep1 keep2", 2L -> "lead tail",
      3L -> "no duplicated text here"))
    // a doc duplicated WHOLE goes to empty text, not a dropped row
    val twins = Seq((1L, shared), (2L, shared)).toDF("doc_id", "text")
    val tw = Corpus.removeDuplicateSpans(twins, "doc_id", "text",
      DedupOps.duplicateSpanOffsets(twins, "doc_id", "text", 8, 2))
      .as[(Long, String)].collect().toMap
    assert(tw == Map(1L -> "", 2L -> ""))
  }

  test("splitLeakage (x152): cross-split near-dup pairs land " +
      "off-diagonal, same-split on it; endpoints normalized; " +
      "pairs over unknown ids ignored") {
    val docs = Seq((1L, "train"), (2L, "train"), (3L, "test"),
      (4L, "train"), (5L, "val")).toDF("doc_id", "split")
    val pairs = Seq((1L, 2L), // same split
      (3L, 4L),               // cross, arrives (test, train) — already ordered
      (4L, 5L),               // cross, normalizes to (train, val)
      (5L, 3L),               // cross, normalizes to (test, val)
      (1L, 99L)               // endpoint not in df: ignored
    ).toDF("doc_a", "doc_b")
    val got = Corpus.splitLeakage(docs, "doc_id", "split", pairs)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("train", "train", 1L), ("test", "train", 1L),
      ("train", "val", 1L), ("test", "val", 1L)))
  }

  test("topFractionByQuantile (x150): per-group histogram threshold " +
      "keeps >= ceil(frac*n) with whole-bucket ties; nulls excluded; " +
      "frac=1 keeps every scored row") {
    // group A: 8 rows, distinct buckets 10..80 — top 25% = ceil(2) =
    // rows scoring 0.8 and 0.7. group B: 4 rows with a TIE at the
    // threshold bucket (0.5, 0.5, 0.5, 0.1) — ceil(0.25*4)=1 but the
    // whole 50-bucket survives (3 rows): overshoot is bounded by ties,
    // never a partial bucket.
    val rows =
      (1L to 8L).map(i => (i, "A", i.toDouble / 10.0)) ++
      Seq((11L, "B", 0.5), (12L, "B", 0.5), (13L, "B", 0.5),
        (14L, "B", 0.1)) ++
      Seq((21L, null.asInstanceOf[String], 0.9),
        (22L, "A", Double.NaN))
    val df = rows.toDF("id", "grp", "score")
      .withColumn("score",
        when(col("id") === 22L, lit(null).cast("double"))
          .otherwise(col("score")))
    val kept = Corpus.topFractionByQuantile(df, "grp", col("score"),
        frac = 0.25)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(7L, 8L, 11L, 12L, 13L))
    // frac = 1 keeps every row that HAS a group and a score
    val all = Corpus.topFractionByQuantile(df, "grp", col("score"),
        frac = 1.0)
      .select("id").as[Long].collect().toSet
    assert(all == ((1L to 8L) ++ Seq(11L, 12L, 13L, 14L)).toSet)
    // precision sharpens the threshold: at precision 0 group A's
    // scores all floor to bucket 0 — one bucket, everything survives
    val coarse = Corpus.topFractionByQuantile(df, "grp", col("score"),
        frac = 0.25, precision = 0)
      .filter(col("grp") === "A").select("id").as[Long].collect().toSet
    assert(coarse == (1L to 8L).toSet)
    // validation
    assert(intercept[IllegalArgumentException] {
      Corpus.topFractionByQuantile(df, "grp", col("score"), frac = 0.0)
    }.getMessage.contains("frac"))
    assert(intercept[IllegalArgumentException] {
      Corpus.topFractionByQuantile(df, "grp", col("score"), frac = 0.5,
        precision = 10)
    }.getMessage.contains("precision"))
  }

  test("kllTrimByGroup (x233): exact-regime band == inclusive " +
      "order-statistic band, ties at the threshold survive, groups " +
      "trim independently, null group/value dropped, and the plan " +
      "carries no Window and no per-group Sort") {
    // group A: 20 distinct values 1..20 → lo = Q(0.10) = ceil(2) = 2,
    // hi = Q(0.90) = 18; kept = [2, 18]. group B: ties AT both band
    // ends — surviving values (5,5,5,9,9,9) after 108's NULL drops:
    // n=6, lo rank ceil(0.6)=1 → 5, hi rank ceil(5.4)=6 → 9; every
    // tied 5 and 9 survives (inclusive band, the x60 boundary rule).
    val rows =
      (1L to 20L).map(i => (i, "A", i)) ++
      Seq((105L, "B", 5L), (106L, "B", 5L), (107L, "B", 5L),
        (108L, "B", 7L), (109L, "B", 9L), (110L, "B", 9L),
        (111L, "B", 9L)) ++
      Seq((200L, null.asInstanceOf[String], 10L))
    val df = rows.toDF("id", "grp", "v")
      .withColumn("v",
        when(col("id") === 108L, lit(null).cast("long"))
          .otherwise(col("v")))
    val got = Corpus.kllTrimByGroup(df, col("v"), Seq("grp"),
      k = 1024, loMicros = 100000L, hiMicros = 900000L)
    val kept = got.select("id").as[Long].collect().toSet
    assert(kept == ((2L to 18L).toSet ++
      Set(105L, 106L, 107L, 109L, 110L, 111L)),
      s"got $kept")
    // thresholds ride along per group
    assert(got.filter(col("grp") === "B")
      .select("lo", "hi").distinct().as[(Double, Double)].collect()
      .toSeq == Seq((5.0, 9.0)))
    // the scale contract: no Window, no Sort anywhere in the plan —
    // the corpus-side work is one keyed aggregate + one broadcast
    // join + one filter. AQE resolves joins at execution, so audit
    // the executed plan's final section (the ExtSpec x176 pattern).
    got.collect()
    val plan = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"), s"plan must carry no Window:\n$plan")
    assert("(?m)\\bSort\\b|SortMergeJoin|SortAggregate".r
      .findFirstIn(plan).isEmpty, s"plan must carry no Sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"thresholds must come back as a broadcast join:\n$plan")
    // degenerate band: lo == hi keeps exactly the median ties
    val med = Corpus.kllTrimByGroup(df.filter(col("grp") === "B"),
      col("v"), Seq("grp"), k = 64, loMicros = 500000L,
      hiMicros = 500000L).select("id").as[Long].collect().toSet
    assert(med == Set(105L, 106L, 107L), s"got $med")
    assert(intercept[IllegalArgumentException] {
      Corpus.kllTrimByGroup(df, col("v"), Seq("grp"), k = 64,
        loMicros = 900000L, hiMicros = 100000L)
    }.getMessage.contains("loMicros"))
  }

  test("kllBinByGroup (x248): exact-regime bins are order-statistic " +
      "edges; ties land in ONE bin (value-defined, not ntile's " +
      "positional split); validation") {
    // group A 1..8: edges Q(.25)=2, Q(.5)=4, Q(.75)=6 → bins
    // {1,2}→1, {3,4}→2, {5,6}→3, {7,8}→4. group B all-ties (5×4):
    // every edge is 5, every row lands in bin 1 — ntile(4) would
    // split them 1/2/3/4 positionally.
    val rows = (1L to 8L).map(v => ("A", v)) ++
      (101L to 104L).map(_ => ("B", 5L))
    val df = rows.toDF("grp", "v")
    val got = Corpus.kllBinByGroup(df, col("v"), Seq("grp"), k = 64,
        qMicros = Seq(250000L, 500000L, 750000L))
      .select("grp", "v", "bin").as[(String, Long, Long)]
      .collect().toSet
    val want = Set(("A",1L,1L), ("A",2L,1L), ("A",3L,2L), ("A",4L,2L),
      ("A",5L,3L), ("A",6L,3L), ("A",7L,4L), ("A",8L,4L),
      ("B",5L,1L))
    assert(got == want, s"got $got")
    assert(Corpus.kllBinByGroup(df, col("v"), Seq("grp"), k = 64,
        qMicros = Seq(250000L, 500000L, 750000L))
      .filter(col("grp") === "B").count() == 4L,
      "all four tied B rows survive, all in bin 1")
    assert(intercept[IllegalArgumentException] {
      Corpus.kllBinByGroup(df, col("v"), Seq("grp"), k = 64,
        qMicros = Seq(500000L, 250000L))
    }.getMessage.contains("ascending"))
  }

  test("temperatureMix (x161): hand-computed micro-shares; tail " +
      "up-weighted, head damped; null groups dropped; validation") {
    def words(k: Int): String = (1 to k).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (Some("a"), words(9)),            // √9  = 3
      (Some("b"), words(16)),           // √16 = 4
      (Some("c"), words(12)),           // c totals 25 tokens over 2
      (Some("c"), words(13)),           //   docs — √25 = 5
      (None: Option[String], words(99))) // null lang: excluded
      .toDF("lang", "text")
    val got = Corpus.temperatureMix(d, "lang", "text")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // N = 50, T = 3+4+5 = 12: raw = n·1e6 div 50, mix = ⌊1e6·√n/12⌋
    assert(got == Map(
      "a" -> ((1L, 9L, 180000L, 250000L)),
      "b" -> ((1L, 16L, 320000L, 333333L)),
      "c" -> ((2L, 25L, 500000L, 416666L))))
    // α=0.5 semantics: the small source gains share, the head loses
    assert(got("a")._4 > got("a")._3 && got("c")._4 < got("c")._3)
    assert(Corpus.temperatureMix(d.repartition(5), "lang", "text")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap == got)
    assert(intercept[IllegalArgumentException] {
      Corpus.temperatureMix(d.filter(col("lang").isNull), "lang",
        "text")
    }.getMessage.contains("no non-null groups"))
  }

  test("dsirWeights (x158): equals an independent recomputation from " +
      "the exposed hash buckets; all-target scores zero; " +
      "partition-independent; validation") {
    val d = Seq(
      (1L, "en", "alpha alpha beta"),
      (2L, "en", "alpha gamma"),
      (3L, "xx", "beta beta delta"),
      (4L, "xx", "alpha delta delta epsilon"))
      .toDF("doc_id", "lang", "text")
    val got = Corpus.dsirWeights(d, "doc_id", "text",
      col("lang") === "en").as[(Long, Long)].collect().toMap
    // independent recomputation: fetch the per-token buckets through
    // the public expression, then apply the paper's smoothed log-ratio
    // in plain Scala (same IEEE ops, same Math.log)
    graft.functions.TextHashExprs.register(spark)
    val toks = d.select(col("doc_id"), col("lang"),
        explode(graft.functions.TextHashExprs
          .shingleWindowHashes(col("text"), 1)).as("h"))
      .select(col("doc_id"), col("lang"), pmod(col("h"), lit(256L)).as("b"))
      .as[(Long, String, Long)].collect()
    val tr = toks.length.toLong
    val tt = toks.count(_._2 == "en").toLong
    val cr = toks.groupBy(_._3).map { case (b, v) => b -> v.length }
    val ct = toks.filter(_._2 == "en").groupBy(_._3)
      .map { case (b, v) => b -> v.length }
    val lw = cr.keys.map { b =>
      b -> math.floor(math.log(
        ((ct.getOrElse(b, 0) + 1L) * (tr + 256L)).toDouble /
          ((cr(b) + 1L) * (tt + 256L)).toDouble) * 1000000.0).toLong
    }.toMap
    val expect = toks.groupBy(_._1)
      .map { case (id, v) => id -> v.map(t => lw(t._3)).sum }
    assert(got == expect)
    // target docs should (here) read more target-like than the rest
    assert(got(1L) > got(3L) && got(2L) > got(3L))
    // target == pool: every ratio is exactly 1, every score exactly 0
    assert(Corpus.dsirWeights(d, "doc_id", "text", lit(true))
      .as[(Long, Long)].collect().forall(_._2 == 0L))
    // exact integer micro-nats: immune to physical layout
    assert(Corpus.dsirWeights(d.repartition(5), "doc_id", "text",
      col("lang") === "en").as[(Long, Long)].collect().toMap == got)
    assert(intercept[IllegalArgumentException] {
      Corpus.dsirWeights(d, "doc_id", "text", col("lang") === "en",
        buckets = 100)
    }.getMessage.contains("power of two"))
    assert(intercept[IllegalArgumentException] {
      Corpus.dsirWeights(d, "doc_id", "text", col("lang") === "zz")
    }.getMessage.contains("no tokens"))
  }

  test("kAnonymityAudit (x168): violations-only output; k and l flags " +
      "independent; null quasi-values group together; validation") {
    // (lang, sens): en has 3 rows but sens uniform → l-violation only;
    // fr has 1 row → both; de has 3 rows, 3 sens values → clean
    val d = Seq(
      ("en", 1L), ("en", 1L), ("en", 1L),
      ("fr", 2L),
      ("de", 1L), ("de", 2L), ("de", 3L),
      (null.asInstanceOf[String], 1L), (null.asInstanceOf[String], 2L))
      .toDF("lang", "sens")
    val got = Corpus.kAnonymityAudit(d, Seq("lang"), k = 3,
        sensitiveCol = Some("sens"), l = 2)
      .as[(String, Long, Long, Boolean, Boolean)].collect()
      .map(r => Option(r._1) -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == Map(
      Some("en") -> ((3L, 1L, false, true)),
      Some("fr") -> ((1L, 1L, true, true)),
      None -> ((2L, 2L, true, false))))
    // without a sensitive column: k flags only, n_sensitive null
    val kOnly = Corpus.kAnonymityAudit(d, Seq("lang"), k = 3)
      .as[(String, Long, Option[Long], Boolean, Boolean)].collect()
      .map(r => Option(r._1) -> ((r._2, r._3, r._4, r._5))).toMap
    assert(kOnly == Map(
      Some("fr") -> ((1L, None, true, false)),
      None -> ((2L, None, true, false))))
    intercept[IllegalArgumentException](
      Corpus.kAnonymityAudit(d, Seq.empty, k = 3))
    intercept[IllegalArgumentException](
      Corpus.kAnonymityAudit(d, Seq("lang"), k = 1))
    intercept[IllegalArgumentException](
      Corpus.kAnonymityAudit(d, Seq("lang"), k = 3, None, l = 2))
  }

  test("rendezvousShard (x174): matches an independent recomputation; " +
      "growing n moves docs ONLY onto the new shard (minimal " +
      "movement); content-stable under layout; validation") {
    val ids = (0L until 512L).toSeq
    val d = ids.toDF("id")
    val got = d.select(col("id"),
        Corpus.rendezvousShard(col("id"), 8).as("s8"),
        Corpus.rendezvousShard(col("id"), 9).as("s9"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // independent recomputation with java's own MD5
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def ref(id: Long, n: Int): Long =
      (0 until n).map(s => (md5hex(s"$id:$s"), s.toLong))
        .max._2
    got.foreach { case (id, s8, s9) =>
      assert(s8 == ref(id, 8) && s9 == ref(id, 9), s"id $id")
    }
    // the rendezvous property: every doc that moved, moved TO the new
    // shard (8); and roughly 1/9 of docs move (loose band)
    val moved = got.filter(t => t._2 != t._3)
    assert(moved.forall(_._3 == 8L))
    assert(moved.length > 512 / 9 / 3 && moved.length < 512 / 9 * 3,
      s"moved ${moved.length} of 512 — expected ~${512 / 9}")
    // all shards populated, layout-immune
    assert(got.map(_._2).distinct.sorted.toSeq == (0L until 8L))
    assert(d.repartition(7).select(
        Corpus.rendezvousShard(col("id"), 8).as("s")).as[Long]
      .collect().sorted.toSeq == got.map(_._2).sorted.toSeq)
    intercept[IllegalArgumentException](Corpus.rendezvousShard(col("id"), 0))
  }

  test("zipfFit (x169): hand-built spectrum matches the exact integer " +
      "OLS; degenerate spectrum yields null slope; layout-immune") {
    // tf: a:4, b:2, c:2, d:1, e:1, f:1 → spectrum (4,1) (2,2) (1,3)
    val d = Seq((1L, "a a b c d"), (2L, "a a b c e f")).toDF("doc_id", "text")
    val got = Corpus.zipfFit(d, "text")
      .as[(Long, Long, Long, Long, Option[Double])].head()
    // mirrors the engine's round-to-guard-digits-then-floor milli-nats
    def mn(v: Long) = math.floor(BigDecimal(math.log(v.toDouble) * 1000.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toLong
    val pts = Seq((4L, 1L), (2L, 2L), (1L, 3L))
      .map { case (c, m) => (mn(c), mn(m)) }
    val (n, sx, sy) = (pts.length.toLong, pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val (num, den) = (n * sxy - sx * sy, n * sxx - sx * sx)
    assert(got == ((6L, 3L, num, den,
      Some(BigDecimal(num.toDouble / den.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))))
    // the fitted slope on this fixture is negative (Zipf-shaped)
    assert(got._5.get < 0.0)
    // one distinct frequency → den = 0 → null slope, not a crash
    val degen = Corpus.zipfFit(Seq((1L, "x y z")).toDF("doc_id", "text"),
      "text").as[(Long, Long, Long, Long, Option[Double])].head()
    assert(degen._1 == 3L && degen._4 == 0L && degen._5.isEmpty)
    // integer sums: immune to physical layout
    assert(Corpus.zipfFit(d.repartition(7), "text")
      .as[(Long, Long, Long, Long, Option[Double])].head() == got)
  }

  test("persisted HLL sketch (x186): save+append == one-shot estimate " +
      "exactly; replays no-op; time travel serves the pre-append " +
      "estimate") {
    import spark.implicits._
    val ids = spark.range(0, 5000).toDF("id")
    val a = ids.filter(col("id") % 3 =!= 0)
    val b = ids.filter(col("id") % 3 === 0)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_hll").resolve("idx").toString
    Corpus.saveHllSketch(a, col("id"), idx)
    Corpus.appendToHllSketch(spark, idx, b, col("id"), "b1")
    def row(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].head()
    val merged = row(Corpus.queryHllSketch(spark, idx))
    assert(merged == row(Corpus.hllDistinct(ids, col("id"))),
      "merged registers diverged from the one-shot estimate")
    // replay: the applied record makes the append a no-op
    Corpus.appendToHllSketch(spark, idx, b, col("id"), "b1")
    assert(row(Corpus.queryHllSketch(spark, idx)) == merged)
    // time travel: version 1 is the save-only snapshot
    assert(row(Corpus.queryHllSketch(spark, idx,
        asOfVersion = Some(1L))) ==
      row(Corpus.hllDistinct(a, col("id"))))
    intercept[IllegalArgumentException](
      Corpus.queryHllSketch(spark, idx, asOfVersion = Some(99L)))
    // batchIds must be filesystem-safe (the histogram sketch's rule)
    intercept[IllegalArgumentException](Corpus.appendToHllSketch(
      spark, idx, b, col("id"), "b2/evil"))
    intercept[IllegalArgumentException](Corpus.appendToHllSketch(
      spark, idx, b, col("id"), "d2 evil"))
  }

  test("persisted CMS sketch (x188): save+append == one-shot " +
      "estimates exactly; persisted (depth, width) drive the probe " +
      "hashing; replays no-op") {
    import spark.implicits._
    val rows = spark.range(0, 3000).toDF("id")
      .withColumn("k", col("id") % 50)
    val a = rows.filter(col("id") % 3 =!= 0)
    val b = rows.filter(col("id") % 3 === 0)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_cms").resolve("idx").toString
    // non-default params: the query must pick them up from the index
    Corpus.saveCmsSketch(a, col("k"), idx, depth = 3, width = 512)
    Corpus.appendToCmsSketch(spark, idx, b, col("k"), "b1")
    val probes = spark.range(0, 50).toDF("k")
      .unionByName(Seq(-5L).toDF("k"))
    def est(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val merged = est(Corpus.queryCmsSketch(spark, idx, probes, "k"))
    val oneShot = est(Corpus.countMinEstimates(rows, col("k"), probes,
      "k", depth = 3, width = 512))
    assert(merged == oneShot,
      "summed segments diverged from the one-shot sketch")
    assert(merged(-5L) == 0L)
    // replay no-op
    Corpus.appendToCmsSketch(spark, idx, b, col("k"), "b1")
    assert(est(Corpus.queryCmsSketch(spark, idx, probes, "k")) == merged)
    // time travel: version 1 is the save-only snapshot
    assert(est(Corpus.queryCmsSketch(spark, idx, probes, "k",
        asOfVersion = Some(1L))) ==
      est(Corpus.countMinEstimates(a, col("k"), probes, "k",
        depth = 3, width = 512)))
    // turnstile delete (x190): a negated segment nets the removed
    // rows out — estimates equal the one-shot sketch over survivors
    Corpus.removeFromCmsSketch(spark, idx, b, col("k"), "d1")
    val afterDel = est(Corpus.queryCmsSketch(spark, idx, probes, "k"))
    assert(afterDel == est(Corpus.countMinEstimates(a, col("k"),
      probes, "k", depth = 3, width = 512)))
    // delete replay no-ops; append/delete marker namespaces disjoint
    Corpus.removeFromCmsSketch(spark, idx, b, col("k"), "d1")
    assert(est(Corpus.queryCmsSketch(spark, idx, probes, "k")) ==
      afterDel)
    intercept[IllegalArgumentException](Corpus.appendToCmsSketch(
      spark, idx, b, col("k"), "delete_d1"))
    // batchIds must be filesystem-safe (the histogram sketch's rule)
    intercept[IllegalArgumentException](Corpus.appendToCmsSketch(
      spark, idx, b, col("k"), "b2/evil"))
    intercept[IllegalArgumentException](Corpus.appendToCmsSketch(
      spark, idx, b, col("k"), "d2 evil"))
    intercept[IllegalArgumentException](Corpus.removeFromCmsSketch(
      spark, idx, b, col("k"), "b2/evil"))
    intercept[IllegalArgumentException](Corpus.removeFromCmsSketch(
      spark, idx, b, col("k"), "d2 evil"))
  }

  test("histQuantiles (x191): every estimate BRACKETS the exact order " +
      "statistic (one-bucket-width error bound); hand-computed small " +
      "fixture; nulls/negatives excluded; validation errors") {
    import spark.implicits._
    // hand fixture: values 0..99 (n=100), width 10. q=0.5 → k=50 →
    // the 50th smallest is 49 → bucket 4 → [40, 49]. q=1.0 → k=100 →
    // 99 → bucket 9 → [90, 99]. q=0.001 → k=1 → 0 → bucket 0.
    val v = spark.range(0, 100).toDF("v")
      .unionByName(Seq((null: Option[Long]), Some(-7L)).toDF("v"))
    val got = Corpus.histQuantiles(v, col("v"), 10L,
        Seq(1000L, 500000L, 1000000L))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got(1000L) == ((100L, 1L, 0L, 0L, 9L)))
    assert(got(500000L) == ((100L, 50L, 4L, 40L, 49L)))
    assert(got(1000000L) == ((100L, 100L, 9L, 90L, 99L)))
    // bracket property on an irregular distribution: for every q the
    // exact k-th smallest lies in [est_lo, est_hi]
    val vals = (0 until 500).map(i => (i.toLong * i) % 997L)
    val df = vals.toDF("v")
    val sorted = vals.sorted
    val qs = Seq(100000L, 250000L, 500000L, 900000L, 990000L, 1000000L)
    Corpus.histQuantiles(df, col("v"), 25L, qs)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .foreach { case (q, n, k, _, lo, hi) =>
        assert(n == 500L)
        assert(k == (q * 500L + 999999L) / 1000000L)
        val exact = sorted(k.toInt - 1)
        assert(exact >= lo && exact <= hi,
          s"q=$q: exact $exact outside [$lo, $hi]")
      }
    // empty input → empty output, not an error
    assert(Corpus.histQuantiles(Seq.empty[Long].toDF("v"), col("v"),
      10L, Seq(500000L)).count() == 0L)
    intercept[IllegalArgumentException](
      Corpus.histQuantiles(df, col("v"), 0L, Seq(500000L)))
    intercept[IllegalArgumentException](
      Corpus.histQuantiles(df, col("v"), 10L, Seq.empty))
    intercept[IllegalArgumentException](
      Corpus.histQuantiles(df, col("v"), 10L, Seq(0L)))
    intercept[IllegalArgumentException](
      Corpus.histQuantiles(df, col("v"), 10L, Seq(1000001L)))
  }

  test("histQuantilesBy (x198): per-group estimates bracket the exact " +
      "per-group order statistics; a single group equals the global " +
      "form; null groups excluded; validation") {
    import spark.implicits._
    val rows = (0 until 300).map { i =>
      (if (i % 3 == 0) "en" else "fr", (i.toLong * 7) % 211)
    }
    val df = rows.toDF("lang", "v")
      .unionByName(Seq((null: String, 5L), ("de", -1L))
        .toDF("lang", "v"))
    val qs = Seq(250000L, 500000L, 750000L, 1000000L)
    val got = Corpus.histQuantilesBy(df, col("v"), Seq("lang"), 20L, qs)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    // null lang excluded entirely; "de"'s only value is negative →
    // the group vanishes too
    assert(got.map(_._1).toSet == Set("en", "fr"))
    val byLang = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    got.foreach { case (lang, q, n, k, _, lo, hi) =>
      val vals = byLang(lang)
      assert(n == vals.length.toLong)
      assert(k == (q * n + 999999L) / 1000000L)
      val exact = vals(k.toInt - 1)
      assert(exact >= lo && exact <= hi,
        s"$lang q=$q: exact $exact outside [$lo, $hi]")
    }
    // one group ≡ the global form on that group's rows
    val en = df.filter(col("lang") === "en")
    val grouped = Corpus.histQuantilesBy(en, col("v"), Seq("lang"),
        20L, qs)
      .select("q_micros", "n", "k", "bucket", "est_lo", "est_hi")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val global = Corpus.histQuantiles(en, col("v"), 20L, qs)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(grouped == global)
    intercept[IllegalArgumentException](
      Corpus.histQuantilesBy(df, col("v"), Seq.empty, 20L, qs))
    intercept[IllegalArgumentException](
      Corpus.histQuantilesBy(df, col("v"), Seq("lang"), 0L, qs))
    intercept[IllegalArgumentException](
      Corpus.histQuantilesBy(df, col("v"), Seq("lang"), 20L,
        Seq(2000000L)))
  }

  test("histQuantilesWeighted (x204): weighted estimates bracket the " +
      "exact weighted order statistic; weight 1 reduces to the " +
      "unweighted form; zero weights contribute nothing; negative/" +
      "null weights excluded") {
    import spark.implicits._
    val rows = (0 until 200).map(i =>
      ((i.toLong * 13) % 307, (i.toLong % 9) + 1))
    val df = rows.toDF("v", "w")
    val qs = Seq(100000L, 500000L, 900000L, 1000000L)
    val got = Corpus.histQuantilesWeighted(df, col("v"), col("w"),
        25L, qs)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // exact weighted order statistic: expand each value w times
    val expanded = rows.flatMap { case (v, w) =>
      Seq.fill(w.toInt)(v)
    }.sorted
    val totalW = rows.map(_._2).sum
    got.foreach { case (q, n, k, _, lo, hi) =>
      assert(n == totalW)
      assert(k == (q * n + 999999L) / 1000000L)
      val exact = expanded(k.toInt - 1)
      assert(exact >= lo && exact <= hi,
        s"q=$q: weighted exact $exact outside [$lo, $hi]")
    }
    // weight 1 ≡ unweighted
    val w1 = Corpus.histQuantilesWeighted(df, col("v"), lit(1L),
        25L, qs)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val unw = Corpus.histQuantiles(df, col("v"), 25L, qs)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(w1 == unw)
    // zero-weight rows contribute nothing; negative/null excluded
    val mixed = Seq((1000L, 0L), (5L, 3L)).toDF("v", "w")
      .unionByName(Seq((7L, Some(-2L)), (9L, None: Option[Long]))
        .toDF("v", "w"))
    val m = Corpus.histQuantilesWeighted(mixed, col("v"), col("w"),
        10L, Seq(1000000L))
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(m == ((1000000L, 3L, 3L, 0L, 0L, 9L)))
  }

  test("robustOutliersByGroup (x205): hand-computed fences and " +
      "counts; a planted extreme value moves the MEAN-based flag but " +
      "not the median fences; strict fence edges") {
    import spark.implicits._
    // group g: 96 values spread 0..95 (width 1 → est_hi = bucket), 4
    // extremes at 1000 — k = 25/50/75 of n = 100 picks order
    // statistics 24/49/74, iqr = 50, (3·50) div 2 = 75 → fences
    // [-51, 149] → n_low = 0, n_high = 4
    val vals = ((0 until 96).map(_.toLong) ++ Seq.fill(4)(1000L))
      .map(("g", _))
    val got = Corpus.robustOutliersByGroup(vals.toDF("g", "v"),
        col("v"), Seq("g"), bucketWidth = 1L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .head()
    assert(got == (("g", 100L, 24L, 49L, 74L, -51L, 149L, 0L, 4L)))
    // robustness: the same data WITHOUT the extremes has the same
    // median (the extremes never moved it)
    val clean = Corpus.robustOutliersByGroup(
        (0 until 96).map(("g", _)).toDF("g", "v"), col("v"), Seq("g"),
        bucketWidth = 1L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .head()
    assert(clean._4 == 48L || clean._4 == 47L) // med within a bucket
    assert(clean._8 == 0L && clean._9 == 0L)
    // strict edges: a value exactly AT a fence is not an outlier
    val edge = (Seq.fill(4)(10L) :+ 10L).map(("e", _)) // iqr 0 → fences = med
    val e = Corpus.robustOutliersByGroup(edge.toDF("g", "v"), col("v"),
        Seq("g"), bucketWidth = 1L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .head()
    assert(e._8 == 0L && e._9 == 0L)
  }

  test("histDrift (x206): hand-computed exact L1; identical mixes " +
      "drift 0; disjoint supports drift 2; scale-invariant; empty " +
      "side errors") {
    import spark.implicits._
    def df(vs: Long*) = vs.toDF("v")
    def drift(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, w: Long) =
      Corpus.histDrift(a, b, col("v"), w)
        .as[(Long, Long, Long, Double)].head()
    // a: buckets {0:2, 1:1}; b: buckets {0:1, 2:1} (w=10) →
    // num = |2·2-1·3| + |1·2-0| + |0-1·3| = 1+2+3 = 6; den = 6 → 1.0
    assert(drift(df(1, 2, 11), df(3, 25), 10L) == ((3L, 2L, 6L, 1.0)))
    assert(drift(df(1, 2, 11), df(1, 2, 11), 10L)._4 == 0.0)
    // doubling one side leaves the mix unchanged
    assert(drift(df(1, 2, 11), df(1, 1, 2, 2, 11, 11), 10L)._4 == 0.0)
    assert(drift(df(1), df(100), 10L)._4 == 2.0)
    val err = intercept[Exception](drift(df(1), df(-5), 10L))
    assert(err.getMessage.contains("empty snapshot side") ||
      err.getCause != null)
  }

  test("histDriftMatrix (x209): every pair row equals the two-frame " +
      "histDrift; identical groups drift 0; ordering canonical") {
    import spark.implicits._
    val df = ((0 until 90).map(i => ("a", (i % 30).toLong)) ++
      (0 until 60).map(i => ("b", (i % 30).toLong)) ++   // same mix as a
      (0 until 50).map(i => ("c", (i % 7) * 40L)))        // different mix
      .toDF("g", "v")
    val m = Corpus.histDriftMatrix(df, col("v"), "g", 10L)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(m.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    // a and b carry the SAME value mix at different sizes → drift 0
    assert(m(("a", "b"))._4 == 0.0)
    assert(m(("a", "c"))._4 > 0.0)
    // each matrix row equals the dedicated two-frame op
    for ((ga, gb) <- m.keySet) {
      val two = Corpus.histDrift(df.filter(col("g") === ga),
          df.filter(col("g") === gb), col("v"), 10L)
        .as[(Long, Long, Long, Double)].head()
      assert(m((ga, gb)) == ((two._1, two._2, two._3, two._4)),
        s"pair ($ga,$gb) diverged from histDrift")
    }
    intercept[IllegalArgumentException](
      Corpus.histDriftMatrix(df, col("v"), "g", 0L))
  }

  test("persisted histogram sketch (x192/x193/x194): save+append == " +
      "one-shot estimates exactly; persisted width drives the serve; " +
      "replays no-op; time travel; turnstile delete nets out") {
    import spark.implicits._
    val rows = spark.range(0, 3000).toDF("id")
      .withColumn("v", (col("id") * col("id")) % 613L)
    val a = rows.filter(col("id") % 3 =!= 0)
    val b = rows.filter(col("id") % 3 === 0)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_hist").resolve("idx").toString
    val qs = Seq(100000L, 500000L, 900000L, 1000000L)
    // non-default width: the serve must pick it up from the index
    Corpus.saveHistSketch(a, col("v"), idx, bucketWidth = 17L)
    Corpus.appendToHistSketch(spark, idx, b, col("v"), "b1")
    def est(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
    val merged = est(Corpus.queryHistSketch(spark, idx, qs))
    assert(merged == est(Corpus.histQuantiles(rows, col("v"), 17L, qs)),
      "summed segments diverged from the one-shot sketch")
    // replay no-op
    Corpus.appendToHistSketch(spark, idx, b, col("v"), "b1")
    assert(est(Corpus.queryHistSketch(spark, idx, qs)) == merged)
    // time travel: version 1 is the save-only snapshot
    assert(est(Corpus.queryHistSketch(spark, idx, qs,
        asOfVersion = Some(1L))) ==
      est(Corpus.histQuantiles(a, col("v"), 17L, qs)))
    intercept[IllegalArgumentException](
      Corpus.queryHistSketch(spark, idx, qs, asOfVersion = Some(99L)))
    // turnstile delete (x193): a negated segment nets the removed
    // rows out — estimates equal the one-shot sketch over survivors
    Corpus.removeFromHistSketch(spark, idx, b, col("v"), "d1")
    val afterDel = est(Corpus.queryHistSketch(spark, idx, qs))
    assert(afterDel == est(Corpus.histQuantiles(a, col("v"), 17L, qs)))
    // delete replay no-ops; append/delete marker namespaces disjoint
    Corpus.removeFromHistSketch(spark, idx, b, col("v"), "d1")
    assert(est(Corpus.queryHistSketch(spark, idx, qs)) == afterDel)
    intercept[IllegalArgumentException](Corpus.appendToHistSketch(
      spark, idx, b, col("v"), "delete_d1"))
    // batchIds must be filesystem-safe — '/' or spaces would nest or
    // malform segment paths and manifest entries
    intercept[IllegalArgumentException](Corpus.appendToHistSketch(
      spark, idx, b, col("v"), "b2/evil"))
    intercept[IllegalArgumentException](Corpus.removeFromHistSketch(
      spark, idx, b, col("v"), "d2 evil"))
    // version drift (x212): drift between two retained snapshots
    // equals the two-frame histDrift over the corresponding slices —
    // v1 was save-only (a), v2 added b
    val (s2, _) = Corpus.histSketchState(spark, idx,
      asOfVersion = Some(2L))
    val (s1, _) = Corpus.histSketchState(spark, idx,
      asOfVersion = Some(1L))
    assert(Corpus.histDriftFromCounters(s2, s1)
        .as[(Long, Long, Long, Double)].head() ==
      Corpus.histDrift(rows, a, col("v"), 17L)
        .as[(Long, Long, Long, Double)].head())
  }
}
