package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Dev-loop phase profiler for round-19 optimization targets.
  * NOT part of the engine or the bench contract — run with
  *   sbt "runMain graft.tools.ProbeR19 <target>"
  */
object ProbeR19 {
  private def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $name%-40s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.EngineConf.session("graft-probe-r19")

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    args.headOption.getOrElse("x92") match {
      case "x92" =>
        val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
        // replicate mutualKnnClusters phase by phase
        val g = t("knnGraph build (lazy)") {
          graft.ext.Similarity.knnGraph(emb, "vec_id", "embedding",
            k = 3, kCentroids = 8, iters = 2, nprobe = 2)
            .select(col("src"), col("dst"))
        }
        val edges = t("mat(edges)") {
          graft.ext.Checkpoints.materialize(g, reliable = false)
        }
        println(s"[probe] edges rows = ${edges.count()}")
        val mutual = t("mutual join + mat") {
          graft.ext.Checkpoints.materialize(
            edges.hint("SHUFFLE_HASH").join(
              edges.select(col("dst").as("src"), col("src").as("dst"))
                .hint("SHUFFLE_HASH"),
              Seq("src", "dst")), reliable = false)
        }
        println(s"[probe] mutual rows = ${mutual.count()}")
        val labels = t("dedupClusters") {
          val l = graft.ext.DedupOps.dedupClusters(mutual, "src", "dst")
          graft.ext.Checkpoints.materialize(l, reliable = false)
        }
        t("label join + mat") {
          val ids = emb.select(col("vec_id").cast(LongType).as("vec_id"))
          val out = ids.join(labels, col("vec_id") === col("id"), "left")
            .select(col("vec_id"),
              coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
          noop(graft.ext.Checkpoints.materialize(out, reliable = false))
        }

      case "x94" =>
        val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
        val idx = java.nio.file.Files
          .createTempDirectory("probe-ivf94-").toString
        t("saveIvfIndex") {
          graft.ext.Similarity.saveIvfIndex(emb, "vec_id", "embedding",
            idx, kCentroids = 8, iters = 2)
        }
        t("mutualKnnClustersFromIndex full") {
          noop(graft.ext.Similarity.mutualKnnClustersFromIndex(spark, idx,
            k = 3, nprobe = 2))
        }

      case "x218" =>
        val docs = graft.sources.Tables.load(spark, sfDir, "documents")
        val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
        val q0 = emb.filter(col("vec_id") === 0)
        val base = java.nio.file.Files
          .createTempDirectory("probe-pin218-").toString
        val bidx = base + "/bm25"
        val vidx = base + "/ivf"
        val pins = base + "/pins"
        t("saveBm25Index") {
          graft.ext.TextAnalysis.saveBm25Index(
            docs.filter(col("doc_id") < 400), "doc_id", "text", bidx)
        }
        t("saveIvfIndex") {
          graft.ext.Similarity.saveIvfIndex(
            emb.filter(col("vec_id") < 400), "vec_id", "embedding", vidx,
            kCentroids = 8, iters = 2)
        }
        val pin1 = t("commitPin") {
          graft.ext.Hybrid.commitPin(spark, pins, bidx, vidx)
        }
        t("appendToBm25Index b1") {
          graft.ext.TextAnalysis.appendToBm25Index(spark, bidx,
            docs.filter(col("doc_id") >= 400), "doc_id", "text", "b1")
        }
        t("appendToIvfIndex b1") {
          graft.ext.Similarity.appendToIvfIndex(spark, vidx,
            emb.filter(col("vec_id") >= 400), "vec_id", "embedding", "b1")
        }
        val mid = t("servePinned mid (lazy)") {
          graft.ext.Hybrid.servePinned(spark, pins, bidx,
            Seq("hash", "join", "merge"), 0L, vidx, q0, "vec_id",
            "embedding", kLex = 10, kVec = 5, k = 10)
        }
        t("servePinned mid noop") { noop(mid) }
        val pin2 = t("dualAppend replay") {
          graft.ext.Hybrid.dualAppend(spark, pins, bidx,
            docs.filter(col("doc_id") >= 400), "doc_id", "text", vidx,
            emb.filter(col("vec_id") >= 400), "vec_id", "embedding", "b1")
        }
        val post = graft.ext.Hybrid.servePinned(spark, pins, bidx,
          Seq("hash", "join", "merge"), 0L, vidx, q0, "vec_id",
          "embedding", kLex = 10, kVec = 5, k = 10,
          pinVersion = Some(pin2.version))
        t("servePinned post noop") { noop(post) }
        println(s"[probe] pins $pin1 $pin2")

      case "starcc" =>
        // replicate dedupClusters' star rounds one by one on x92's mutual
        // graph
        val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
        val g = graft.ext.Similarity.knnGraph(emb, "vec_id", "embedding",
          k = 3, kCentroids = 8, iters = 2, nprobe = 2)
          .select(col("src"), col("dst"))
        val e0 = graft.ext.Checkpoints.materialize(g, reliable = false)
        val mutual = graft.ext.Checkpoints.materialize(
          e0.hint("SHUFFLE_HASH").join(
            e0.select(col("dst").as("src"), col("src").as("dst"))
              .hint("SHUFFLE_HASH"),
            Seq("src", "dst")), reliable = false)
        def mat(df: DataFrame) =
          graft.ext.Checkpoints.materialize(df, reliable = false)
        val raw = t("raw mat") {
          mat(mutual.select(col("src").cast(LongType).as("u"),
            col("dst").cast(LongType).as("v")))
        }
        var edges = t("canonical mat") {
          mat(raw.select(least(col("u"), col("v")).as("u"),
              greatest(col("u"), col("v")).as("v"))
            .filter(col("u") =!= col("v")).distinct())
        }
        def starPhase(e: DataFrame, large: Boolean): DataFrame = {
          val b = e.union(e.select(col("v").as("u"), col("u").as("v")))
          val m = b.groupBy("u")
            .agg(least(min(col("v")), first(col("u"))).as("m"))
          val joined = b.join(m, "u")
          val rewired =
            if (large) joined.filter(col("v") > col("u"))
              .select(col("v").as("u"), col("m").as("v"))
            else joined.filter(col("v") <= col("u"))
              .select(col("v").as("u"), col("m").as("v"))
              .union(m.select(col("u"), col("m").as("v")))
          rewired
            .select(least(col("u"), col("v")).as("u"),
              greatest(col("u"), col("v")).as("v"))
            .filter(col("u") =!= col("v")).distinct()
        }
        def signature(e: DataFrame): (Long, Long) = {
          val r = e.agg(count(lit(1)),
            coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
        var sig = t("sig0")(signature(edges))
        var converged = false
        var round = 0
        while (!converged && round < 30) {
          val next = t(s"round $round mat") {
            mat(starPhase(starPhase(edges, large = true), large = false))
          }
          val nextSig = t(s"round $round sig")(signature(next))
          converged = nextSig == sig
          graft.ext.Checkpoints.release(edges)
          edges = next
          sig = nextSig
          round += 1
        }
        println(s"[probe] converged after $round rounds, " +
          s"${signature(edges)._1} edges")

      case "x247" =>
        val d = graft.sources.Tables.load(spark, sfDir, "documents")
        val base = java.nio.file.Files
          .createTempDirectory("probe-mh247-").toString
        t("saveMinhashIndex") {
          graft.ext.DedupOps.saveMinhashIndex(
            d.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3)),
            "doc_id", "text", base + "/ledger")
        }
        t("land batch files") {
          Seq(4, 0).zipWithIndex.foreach { case (m, i) =>
            d.filter(pmod(col("doc_id"), lit(5)) === m)
              .select("doc_id", "text").coalesce(1)
              .write.mode("append").parquet(base + "/in")
          }
        }
        // replicate ONE admit micro-batch by hand
        val b = spark.read.parquet(base + "/in")
        val bp = b.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        t("contentBatchId agg") { bp.agg(count(lit(1))).head() }
        val admitted = t("minhashAdmit (lazy+mat refs)") {
          graft.ext.DedupOps.minhashAdmit(spark, base + "/ledger", bp,
            "doc_id", "text", threshold = 0.5)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }
        t("admitted out write") {
          admitted.write
            .mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(base + "/out/batch=manual")
        }
        t("appendToMinhashIndex") {
          graft.ext.DedupOps.appendToMinhashIndex(spark,
            base + "/ledger", admitted, "doc_id", "text", "manual1")
        }

      case "plans" =>
        // Commit-able before/after plan dumps for the round's internal-
        // frame changes. The touched operators are ITERATIVE: their
        // returned frames explain as bare checkpoint scans, so the
        // informative dump is the loop-INPUT build plan — "before"
        // mirrors the pre-change construction, "after" is the shape the
        // committed code produces (both labeled as such in the file).
        val out = java.nio.file.Paths.get("plans/r19")
        java.nio.file.Files.createDirectories(out)
        def dump(name: String, header: String, df: DataFrame): Unit = {
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode
              .fromString("formatted"))
          java.nio.file.Files.write(out.resolve(name),
            (header + "\n\n" + plan).getBytes("UTF-8"))
          val nEx = "Exchange".r.findAllIn(plan).length
          val nScan = "Scan parquet".r.findAllIn(plan).length
          println(s"[probe] $name: exchanges=$nEx parquetScans=$nScan")
        }
        val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
        val fwd = li.groupBy((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .agg(count(lit(1)).as("w"))
        val e0 = fwd.unionByName(
          fwd.select(col("dst").as("src"), col("src").as("dst"),
            col("w")))
        // BEFORE: eo joins the raw edge-prep plan against an out-weight
        // agg over the same raw plan — the source scan + merge shuffle
        // replays once per reference (x147's edge prep shown)
        val outwB = e0.groupBy("src").agg(sum(col("w")).as("outw"))
        dump("pagerank_eo_before.txt",
          "x147 pageRankCore loop-input (eo) build plan BEFORE " +
            "(mirrors pre-893e762 construction: outw + eo + nodes all " +
            "replay the raw edge-prep plan — count the lineitem scans)",
          e0.join(outwB.hint("shuffle_hash"), Seq("src"))
            .repartition(col("src")))
        // AFTER: the committed code materializes the edge prep once
        val eM = graft.ext.Checkpoints.materialize(e0, reliable = false)
        val outwA = eM.groupBy("src").agg(sum(col("w")).as("outw"))
        dump("pagerank_eo_after.txt",
          "x147 pageRankCore loop-input (eo) build plan AFTER " +
            "(committed 893e762: outw/eo/nodes derive from one edge " +
            "checkpoint — the Scan ExistingRDD rows; zero lineitem " +
            "scans here, exactly one in the checkpoint build)",
          eM.join(outwA.hint("shuffle_hash"), Seq("src"))
            .repartition(col("src")))
        graft.ext.Checkpoints.release(eM)
        // star-CC one round: BEFORE had a distinct (full exchange)
        // between the two phases and a separate signature job; AFTER
        // drops the inner distinct and folds the star-forest probe
        // into the round's materializing action
        val edges = {
          import spark.implicits._
          graft.ext.Checkpoints.materialize(
            Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("u", "v"),
            reliable = false)
        }
        def phase(e: DataFrame, large: Boolean, dedup: Boolean)
            : DataFrame = {
          val b = e.union(e.select(col("v").as("u"), col("u").as("v")))
          val m = b.groupBy("u")
            .agg(least(min(col("v")), first(col("u"))).as("m"))
          val joined = b.join(m, "u")
          val rewired =
            if (large) joined.filter(col("v") > col("u"))
              .select(col("v").as("u"), col("m").as("v"))
            else joined.filter(col("v") <= col("u"))
              .select(col("v").as("u"), col("m").as("v"))
              .union(m.select(col("u"), col("m").as("v")))
          val canon = rewired
            .select(least(col("u"), col("v")).as("u"),
              greatest(col("u"), col("v")).as("v"))
            .filter(col("u") =!= col("v"))
          if (dedup) canon.distinct() else canon
        }
        dump("starcc_round_before.txt",
          "dedupClusters star-round plan BEFORE (pre-2659a98: " +
            "large-star phase ends in its own distinct — an extra " +
            "full Exchange per round; the convergence signature ran " +
            "as a SECOND job over the materialized round)",
          phase(phase(edges, large = true, dedup = true),
            large = false, dedup = true))
        dump("starcc_round_after.txt",
          "dedupClusters star-round plan AFTER (committed 2659a98: " +
            "no inner distinct; the star-forest convergence probe is " +
            "the round's materializing action — compare Exchange " +
            "counts)",
          phase(phase(edges, large = true, dedup = false),
            large = false, dedup = true))
        graft.ext.Checkpoints.release(edges)

      case "mkbig" =>
        // Build a /tmp scaling fixture: COPIES of each big table with
        // offset ids (copy 0 = the original rows), so join keys stay
        // consistent across tables and absolute-id filters still match
        // copy 0. For TIMING the 8-vs-32-core scaling probe only —
        // never an oracle target (results differ from sf0.1 by design).
        val mult = sys.env.getOrElse("SPARK_GRAFT_BIG_MULT", "8").toInt
        val outDir = sys.env.getOrElse("SPARK_GRAFT_BIG_DIR", "/tmp/sfbig")
        val off = 100000000L
        def scaled(name: String, idCols: Seq[String]): Unit = {
          val t0 = graft.sources.Tables.load(spark, sfDir, name)
          val copies = (0 until mult).map { i =>
            idCols.foldLeft(t0) { (df, c) =>
              df.withColumn(c, col(c) + lit(i * off)) }
          }
          copies.reduce(_ unionByName _)
            .repartition(32)
            .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
          println(s"[probe] $name x$mult written")
        }
        scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
        scaled("orders", Seq("o_orderkey", "o_custkey"))
        scaled("customer", Seq("c_custkey"))
        scaled("supplier", Seq("s_suppkey"))
        scaled("part", Seq("p_partkey"))
        scaled("documents", Seq("doc_id"))
        scaled("embeddings", Seq("vec_id"))
        scaled("events", Seq("event_id", "user_id"))
        Seq("nation", "region").foreach { name =>
          graft.sources.Tables.load(spark, sfDir, name)
            .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
          println(s"[probe] $name copied")
        }

      case other => sys.error(s"unknown probe target $other")
    }
    spark.stop()
  }
}
