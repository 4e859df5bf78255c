package graft.props

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.model.Contracts
import graft.ops.{Actions, Conform, Metrics}
import graft.sinks.{Segments, Upsert}

/** Property-based invariants (SURVEY §5.3): upsert idempotence, pivot
  * round-trip, metric invariants, conformance totality. Kept at small
  * generator sizes — each property materializes Spark jobs. */
object EngineProps extends Properties("graft") {

  private lazy val spark: SparkSession =
    graft.EngineConf.session("graft-props", cpus = 4)

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val genKv: Gen[List[(Long, String)]] =
    Gen.listOfN(8, for {
      k <- Gen.choose(0L, 5L)
      v <- Gen.alphaStr.map(_.take(6))
    } yield (k, v)).map(_.distinctBy(_._1))

  property("upsert idempotence: load twice == once") = forAll(genKv) { kv =>
    kv.isEmpty || {
      import spark.implicits._
      val dir = java.nio.file.Files
        .createTempDirectory("graft_prop").resolve("t").toString
      val src = kv.toDF("k", "v")
      Upsert.upsert(spark, dir, src, Seq("k"))
      Upsert.upsert(spark, dir, src, Seq("k"))
      val got = spark.read.parquet(dir).as[(Long, String)].collect().toSet
      got == kv.toSet
    }
  }

  private val genActions: Gen[List[(String, List[(String, Int)])]] =
    Gen.listOfN(6, for {
      id <- Gen.identifier.map(_.take(4))
      acts <- Gen.listOfN(3, for {
        t <- Gen.oneOf("lead", "purchase", "video.view", "comment")
        v <- Gen.choose(0, 50)
      } yield (t, v)).map(_.distinctBy(_._1))
    } yield (id, acts))

  property("pivot preserves per-type sums (explode∘pivot round-trip)") =
    forAll(genActions) { rows =>
      rows.isEmpty || {
        import spark.implicits._
        val df = rows.toDF("ad_id", "raw")
          .withColumn("actions", expr(
            "transform(raw, x -> named_struct('action_type', x._1, 'value', CAST(x._2 AS STRING)))"))
          .drop("raw")
        val types = Seq("lead", "purchase", "video.view", "comment")
        val norm = Actions.normalizeActions(df, types)
        // sum over wide columns == sum over exploded raw values per type
        types.map(Actions.sanitize).forall { t =>
          val wide = norm.agg(sum(col(t))).head.getLong(0)
          val tall = rows.flatMap(_._2)
            .filter(x => Actions.sanitize(x._1) == t).map(_._2.toLong).sum
          wide == tall
        }
      }
    }

  private val genMetrics: Gen[List[(Double, Long, Long, Long)]] =
    Gen.listOfN(6, for {
      spend <- Gen.choose(0, 10000).map(_ / 100.0)
      clicks <- Gen.choose(0L, 100L)
      imps <- Gen.choose(0L, 1000L)
      leads <- Gen.choose(0L, 20L)
    } yield (spend, clicks, imps, leads))

  property("metric invariant: cpc*clicks == spend; div-zero -> 0") =
    forAll(genMetrics) { rows =>
      rows.isEmpty || {
        import spark.implicits._
        val df = rows.toDF("spend", "clicks", "impressions", "lead")
        Metrics.recalcMetrics(df).collect().forall { r =>
          val cpc = r.getAs[Double]("cpc")
          val clicks = r.getAs[Long]("total_clicks")
          val spend = r.getAs[Double]("total_spend")
          if (clicks == 0L) cpc == 0.0
          else math.abs(cpc * clicks - spend) < 1e-6
        }
      }
    }

  // (key, payload) rows with nullable keys — nulls must behave exactly
  // like the built-in full_outer (never match, null-extend).
  private val genSide: Gen[List[(Option[Long], Long)]] =
    Gen.listOfN(10, for {
      k <- Gen.option(Gen.choose(0L, 4L))
      v <- Gen.choose(0L, 99L)
    } yield (k, v))

  property("fullOuterViaBroadcast == built-in full_outer (incl null keys)") =
    forAll(genSide, genSide) { (l, r) =>
      import spark.implicits._
      val left = l.toDF("k", "lv")
      val right = r.toDF("k", "rv")
      val got = graft.ops.Joins.fullOuterViaBroadcast(left, right, Seq("k"))
        .select("k", "lv", "rv")
        .collect().map(x => (Option(x.get(0)), Option(x.get(1)),
          Option(x.get(2)))).toSeq.sortBy(_.toString)
      val want = left.join(right, Seq("k"), "full_outer")
        .select("k", "lv", "rv")
        .collect().map(x => (Option(x.get(0)), Option(x.get(1)),
          Option(x.get(2)))).toSeq.sortBy(_.toString)
      got == want
    }

  property("bloomSemiJoin == built-in left_semi (incl null keys)") =
    forAll(genSide, genSide) { (l, r) =>
      import spark.implicits._
      val fact = l.toDF("k", "lv")
      val dim = r.toDF("k", "rv")
      // tiny filter sizing on purpose: correctness must not depend on
      // the FP rate — the exact semi join clears every false positive
      val got = graft.ops.Joins.bloomSemiJoin(fact, dim, "k", "k",
          expectedItems = 4L, numBits = 64L)
        .select("k", "lv")
        .collect().map(x => (Option(x.get(0)), Option(x.get(1))))
        .toSeq.sortBy(_.toString)
      val want = fact.join(dim.select("k"), Seq("k"), "left_semi")
        .select("k", "lv")
        .collect().map(x => (Option(x.get(0)), Option(x.get(1))))
        .toSeq.sortBy(_.toString)
      got == want
    }

  // (key, id, tick) event lists for the time-join properties
  private val genEvents: Gen[List[(String, Long, Long)]] =
    Gen.listOfN(12, for {
      k <- Gen.oneOf("a", "b")
      id <- Gen.choose(0L, 999L)
      t <- Gen.choose(0L, 500L)
    } yield (k, id, t)).map(_.distinctBy(_._2))

  property("intervalJoin == naive equi-join + range filter") =
    forAll(genEvents, genEvents, Gen.choose(1L, 120L),
      Gen.choose(0L, 60L), Gen.choose(1L, 200L)) { (l, r, before, after, bkt) =>
      l.isEmpty || r.isEmpty || {
        import spark.implicits._
        val left = l.toDF("k", "lid", "lt")
        val right = r.toDF("k", "rid", "rt")
        val got = graft.ops.RangeJoin.intervalJoin(left, right, Seq("k"),
          "lt", "rt", before, after, bucketTicks = bkt,
          tick = c => c) // ticks are already longs here
          .select("lid", "rid").as[(Long, Long)].collect().toSet
        val want = (for {
          (lk, lid, lt) <- l
          (rk, rid, rt) <- r
          if lk == rk && rt >= lt - before && rt <= lt + after
        } yield (lid, rid)).toSet
        got == want
      }
    }

  property("asofJoin == naive latest-right-at-or-before per left row") =
    forAll(genEvents, genEvents) { (l, r) =>
      l.isEmpty || {
        import spark.implicits._
        val left = l.toDF("k", "lid", "t")
        val right = r.toDF("k", "rid", "t")
        val got = graft.ops.AsOf.asofJoin(left, right, Seq("k"), "t", "t",
          Map("rid" -> "attr"), tieBreak = Some("attr"))
          .select("lid", "attr").collect()
          .map(x => x.getLong(0) -> Option(x.get(1))).toMap
        val want = l.map { case (lk, lid, lt) =>
          val best = r.filter(x => x._1 == lk && x._3 <= lt)
          lid -> (if (best.isEmpty) None
                  // latest tick; ties broken by highest id (tieBreak asc →
                  // last non-null carried forward)
                  else Some(best.maxBy(x => (x._3, x._2))._2))
        }.toMap
        got == want
      }
    }

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.listOfN(12, for {
      a <- Gen.choose(0L, 9L)
      b <- Gen.choose(0L, 9L) if a != b
    } yield (a, b))

  private val genWeightedEdges: Gen[List[(Long, Long, Long)]] =
    Gen.listOfN(12, for {
      a <- Gen.choose(0L, 7L)
      b <- Gen.choose(0L, 7L) if a != b
      w <- Gen.choose(1L, 5L)
    } yield (a, b, w))

  property("pageRank: exact-integer ranks invariant under edge " +
      "permutation + partition count; w=1 == unweighted") =
    forAll(genWeightedEdges) { edges =>
      edges.isEmpty || {
        import spark.implicits._
        import graft.ext.Graph
        val df = edges.toDF("src", "dst", "w")
        def ranks(d: org.apache.spark.sql.DataFrame) =
          Graph.pageRankWeighted(d, "src", "dst", "w", iters = 3,
            scale = 1000000L).as[(Long, Long)].collect().toMap
        val base = ranks(df)
        // row order and partitioning must not move a single fixed-point
        // unit (the floating-point formulation fails exactly here)
        val permuted = ranks(df.orderBy(desc("dst"), asc("src"))
          .repartition(7))
        // unweighted == weighted at w ≡ 1 over the deduped edge set
        val dedup = edges.map(e => (e._1, e._2)).distinct
        val uw = Graph.pageRank(dedup.toDF("src", "dst"), "src", "dst",
          iters = 3, scale = 1000000L)
          .as[(Long, Long)].collect().toMap
        val w1 = ranks(dedup.map(e => (e._1, e._2, 1L))
          .toDF("src", "dst", "w"))
        base == permuted && uw == w1
      }
    }

  property("dedupClusters == brute-force union-find on random graphs") =
    forAll(genEdges) { edges =>
      edges.isEmpty || {
        import spark.implicits._
        // reference: in-memory union-find with min-id canonical roots
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val want = nodes.map(n => n -> find(n)).toMap
        val got = graft.ext.DedupOps
          .dedupClusters(edges.toDF("a", "b"), "a", "b")
          .as[(Long, Long)].collect().toMap
        got == want
      }
    }

  property("dedupClustersStar == dedupClusters on random graphs") =
    forAll(genEdges) { edges =>
      edges.isEmpty || {
        import spark.implicits._
        val df = edges.toDF("a", "b")
        val want = graft.ext.DedupOps.dedupClusters(df, "a", "b")
          .as[(Long, Long)].collect().toMap
        // the driver finish (default budget) and the forced round loop
        val driver = graft.ext.DedupOps.dedupClustersStar(df, "a", "b")
          .as[(Long, Long)].collect().toMap
        val rounds = graft.ext.DedupOps.dedupClustersStar(df, "a", "b",
          30, reliable = false, driverPairs = 0L)
          .as[(Long, Long)].collect().toMap
        driver == want && rounds == want
      }
    }

  property("labelPropagation == in-memory synchronous reference on " +
      "random graphs") =
    forAll(genEdges, Gen.choose(1, 3)) { (edges, rounds) =>
      // reference: canonical undirected simple graph, synchronous
      // vote rounds, (count DESC, smallest-label) argmax — the exact
      // published semantics the distributed op claims
      val und = edges
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(e => e._1 != e._2).distinct
      und.isEmpty || {
        import spark.implicits._
        val adj = (und ++ und.map(_.swap)).groupBy(_._1)
          .view.mapValues(_.map(_._2).distinct).toMap
        var lbl: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
        for (_ <- 1 to rounds) {
          lbl = adj.map { case (n, nbrs) =>
            val votes = nbrs.groupBy(lbl).view.mapValues(_.size)
            n -> votes.toSeq.map { case (l, c) => (-c, l) }.min._2
          }
        }
        val got = graft.ext.Graph
          .labelPropagation(edges.toDF("a", "b"), "a", "b", rounds)
          .as[(Long, Long)].collect().toMap
        got == lbl
      }
    }

  private val genCorpus: Gen[(List[(Long, String)], List[(Long, String)])] =
    for {
      // tiny vocabulary → guaranteed cross-set text collisions
      corpus <- Gen.listOfN(12, for {
        id <- Gen.choose(0L, 1000L)
        t <- Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
      } yield (id, t))
      incoming <- Gen.listOfN(12, for {
        id <- Gen.choose(2000L, 3000L)
        t <- Gen.oneOf("aa", "bb", "cc", "xx", "yy", "zz")
      } yield (id, t))
    } yield (corpus.distinctBy(_._1), incoming.distinctBy(_._1))

  property("bloomDedup == incrementalDedup on random corpora (tiny " +
      "filter, forced FPs)") = forAll(genCorpus) { case (corpus, inc) =>
    corpus.isEmpty || inc.isEmpty || {
      import spark.implicits._
      val c = corpus.toDF("doc_id", "text")
      val i = inc.toDF("doc_id", "text")
      // 64 bits for up to 12 items → dense filter, plenty of FPs
      val viaBloom = graft.ext.Corpus.bloomDedup(i, c, "text",
          expectedItems = 8L, numBits = 64L)
        .as[(Long, String)].collect().toSet
      val exact = graft.ext.Corpus.incrementalDedup(i, c, "text")
        .as[(Long, String)].collect().toSet
      viaBloom == exact
    }
  }

  private val genSnapshot: Gen[List[(Option[Long], String)]] =
    Gen.listOfN(10, for {
      k <- Gen.option(Gen.choose(0L, 6L))
      v <- Gen.oneOf("a", "b", "c", "d")
    } yield (k, v)).map(_.distinctBy(_._1)) // unique keys incl ≤1 NULL

  property("CDC roundtrip: apply(old, diff(old,new)) == new, with NULL " +
      "keys") = forAll(genSnapshot, genSnapshot) { (oldS, newS) =>
    (oldS.isEmpty && newS.isEmpty) || {
      import spark.implicits._
      val o = oldS.toDF("k", "v")
      val n = newS.toDF("k", "v")
      val applied = graft.ops.Cdc.applyChanges(o,
          graft.ops.Cdc.snapshotDiffWithValues(o, n, Seq("k"), Seq("v")),
          Seq("k"), Seq("v"))
        .as[(Option[Long], String)].collect().toSet
      applied == newS.toSet
    }
  }

  private val genFacts: Gen[List[(Long, Double, Boolean)]] =
    Gen.listOfN(30, for {
      k <- Gen.choose(0L, 4L)
      v <- Gen.choose(-1000.0, 1000.0)
      side <- Gen.oneOf(true, false)
    } yield (k, v, side))

  property("IncrementalAgg: merge(state(A), state(B)) == state(A ∪ B)") =
    forAll(genFacts) { facts =>
      facts.isEmpty || {
        import spark.implicits._
        val all = facts.map { case (k, v, _) => (k, v) }
          .toDF("k", "value")
        val a = facts.filter(_._3).map { case (k, v, _) => (k, v) }
          .toDF("k", "value")
        val b = facts.filterNot(_._3).map { case (k, v, _) => (k, v) }
          .toDF("k", "value")
        def canon(df: org.apache.spark.sql.DataFrame) =
          graft.ops.IncrementalAgg.present(df, Seq("k"))
            .as[(Long, Long, Double, Double, Double)].collect().toSet
        val direct = canon(graft.ops.IncrementalAgg
          .state(all, Seq("k"), "value"))
        val merged = canon(graft.ops.IncrementalAgg.merge(
          graft.ops.IncrementalAgg.state(a, Seq("k"), "value"),
          graft.ops.IncrementalAgg.state(b, Seq("k"), "value"),
          Seq("k")))
        merged == direct
      }
    }

  private val genSchema: Gen[List[String]] =
    Gen.someOf(Contracts.AdsDimension.fieldNames.toSeq ++ Seq("junk1", "junk2"))
      .map(_.toList.distinct)

  property("conformance totality: any column subset -> exact contract") =
    forAll(genSchema) { cols =>
      cols.isEmpty || {
        val df = spark.createDataFrame(
          java.util.List.of[org.apache.spark.sql.Row](),
          StructType(cols.map(c => StructField(c, StringType))))
        val out = Conform.conformToSchema(df, Contracts.AdsDimension)
        out.schema.map(f => (f.name, f.dataType)) ==
          Contracts.AdsDimension.map(f => (f.name, f.dataType))
      }
    }

  // independent header construction (plain Scala, NOT the engine's
  // expression builder) → the parser must invert it for any dims
  private val genHeader: Gen[(String, Int, Int)] = for {
    fmt <- Gen.oneOf("png", "gif", "jpeg")
    w <- Gen.choose(0, 65535)
    h <- Gen.choose(0, 65535)
  } yield (fmt, w, h)

  property("ImageHeaderMeta inverts any spec-layout header") =
    forAll(Gen.listOfN(4, genHeader)) { hdrs =>
      hdrs.isEmpty || {
        import spark.implicits._
        def be32(v: Int) = Array[Byte]((v >>> 24).toByte,
          (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
        def be16(v: Int) = Array[Byte]((v >>> 8).toByte, v.toByte)
        def le16(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte)
        def build(fmt: String, w: Int, h: Int): Array[Byte] = fmt match {
          case "png" => Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d,
            0x0a, 0x1a, 0x0a, 0, 0, 0, 0x0d, 'I', 'H', 'D', 'R') ++
            be32(w) ++ be32(h)
          case "gif" => "GIF89a".getBytes("US-ASCII") ++ le16(w) ++ le16(h)
          case _ => Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
            0xe0.toByte, 0x00, 0x04, 0, 0, 0xff.toByte, 0xc0.toByte,
            0x00, 0x11, 0x08) ++ be16(h) ++ be16(w) ++ Array[Byte](3)
        }
        graft.functions.ImageExprs.register(spark)
        val rows = hdrs.zipWithIndex.map { case ((f, w, h), i) =>
          (i.toLong, build(f, w, h))
        }
        val got = rows.toDF("id", "p")
          .select($"id", graft.functions.ImageExprs
            .imageHeaderMeta($"p").as("m"))
          .select($"id", $"m.format", $"m.width", $"m.height")
          .as[(Long, String, Int, Int)].collect()
          .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
        hdrs.zipWithIndex.forall { case ((f, w, h), i) =>
          got(i.toLong) == ((f, w, h))
        }
      }
    }

  private val genVecs: Gen[List[(Long, Seq[Double])]] =
    Gen.listOfN(14, for {
      id <- Gen.choose(0L, 30L)
      v <- Gen.listOfN(4, Gen.choose(-4.0, 4.0))
    } yield (id, v: Seq[Double])).map(_.distinctBy(_._1))
      .suchThat(_.size >= 6)

  property("ivfLearnedTopK: ranks well-formed, scores EXACTLY equal " +
      "brute force on the returned pairs") = forAll(genVecs) { vecs =>
    import spark.implicits._
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.limit(2)
    val learned = graft.ext.Similarity.ivfLearnedTopK(df, queries,
        "vec_id", "embedding", k = 3, kCentroids = 3, iters = 1,
        nprobe = 2)
      .as[(Long, Long, Long, Double)].collect()
    // all pairs with their exact cos: k = corpus size
    val exact = graft.ext.Similarity.bruteForceTopK(df, queries,
        "vec_id", "embedding", k = vecs.size)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    val perQ = learned.groupBy(_._1)
    perQ.values.forall { rs =>
      val ranks = rs.map(_._2).sorted.toSeq
      ranks == (1L to rs.length).toSeq // dense ranks from 1
    } &&
    learned.forall { case (q, _, v, cos) =>
      q != v && exact((q, v)) == cos // scoring within buckets is exact
    }
  }

  // arbitrary — including malformed — ranked lists: duplicate ids,
  // duplicate ranks, over-deep ranks, missing queries
  private val genRankedList: Gen[List[(Long, Long, Long)]] =
    Gen.listOfN(10, for {
      q <- Gen.choose(0L, 2L)
      r <- Gen.choose(1L, 6L)
      id <- Gen.choose(10L, 16L)
    } yield (q, r, id))

  property("eval metrics bounded on ANY input: recall/top1_rr/ndcg " +
      "in [0,1], self-eval of a well-formed list scores 1") =
    forAll(genRankedList, genRankedList) { (el, al) =>
      import spark.implicits._
      {
        val e = el.toDF("query_id", "rank", "vec_id")
        val a = al.toDF("query_id", "rank", "vec_id")
        val rec = graft.ext.Similarity.recallAtK(e, a,
            "query_id", "vec_id", k = 4)
          .as[(Long, Long, Double, Double)].collect()
        val nd = graft.ext.Similarity.ndcgAtK(e, a,
            "query_id", "vec_id", k = 4)
          .as[(Long, Double, Double, Double)].collect()
        rec.forall(r => r._3 >= 0.0 && r._3 <= 1.0 &&
          r._4 >= 0.0 && r._4 <= 1.0 && r._2 >= 0L && r._2 <= 4L) &&
        nd.forall(r => r._4 >= 0.0 && r._4 <= 1.0 &&
          r._2 >= 0.0 && r._2 <= r._3) &&
        // a well-formed list scored against itself is perfect — build
        // one by normalizing el through the same truncation the
        // metrics promise (dense re-rank of distinct (q,id))
        {
          val wf = el.distinctBy(t => (t._1, t._3))
            .groupBy(_._1).toList.flatMap { case (q, rs) =>
              rs.sortBy(t => (t._2, t._3)).take(4).zipWithIndex
                .map { case (t, i) => (q, i + 1L, t._3) }
            }
          val w = wf.toDF("query_id", "rank", "vec_id")
          graft.ext.Similarity.recallAtK(w, w, "query_id", "vec_id",
              k = 4)
            .as[(Long, Long, Double, Double)].collect()
            .forall(r => r._3 == 1.0 && r._4 == 1.0) &&
          graft.ext.Similarity.ndcgAtK(w, w, "query_id", "vec_id",
              k = 4)
            .as[(Long, Double, Double, Double)].collect()
            .forall(_._4 == 1.0)
        }
      }
    }

  /** Batch ids drawn from a small pool (so replays happen), each op
    * either from the newest snapshot or from the one before the
    * previous op (a stale snapshot that may predate its own id). */
  private val genSegmentOps: Gen[List[(Int, Boolean)]] =
    Gen.listOfN(5, Gen.zip(Gen.choose(0, 3), Gen.oneOf(false, true)))

  property("Segments: appends, replays and stale-snapshot appends land " +
      "each batch once; a fold carries a racing append and a second " +
      "fold of the same inputs is rejected") =
    forAll(genSegmentOps) { ops =>
      import spark.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_prop_seg").resolve("idx").toString
      def rows(b: Int): Seq[Int] = (0 until 3).map(b * 10 + _)
      def land(seg: String, vs: Seq[Int]): Unit =
        vs.toDF("v").coalesce(1).write.mode("overwrite")
          .parquet(s"$root/t/$seg")
      def scanned(s: graft.sinks.IndexSnapshot): Seq[Int] =
        Segments.scan(spark, root, s, "t").as[Int].collect().sorted.toSeq
      land("base", Seq(-1))
      Segments.create(spark, root, Map("t" -> Seq("base")))
      var prev = Segments.snapshot(spark, root)
      ops.foreach { case (b, stale) =>
        val cur = Segments.snapshot(spark, root)
        val id = s"b$b"
        Segments.append(spark, root, if (stale) prev else cur, id,
          s"delta_$id", Seq("t"))(land(s"delta_$id", rows(b)))
        prev = cur
      }
      val firsts = ops.map(_._1).distinct
      val ids = firsts.map(b => s"b$b")
      val s1 = Segments.snapshot(spark, root)
      val landedOnce = s1.applied == ids &&
        s1.segs("t") == "base" +: ids.map(id => s"delta_$id") &&
        scanned(s1) == (-1 +: firsts.flatMap(rows)).sorted
      // an append commits while the fold over s1 is writing: the fold's
      // commit must carry it; a second fold of s1's segments must abort
      Segments.fold(spark, root, s1, Seq("t"), "fold") { seg =>
        Segments.append(spark, root, s1, "late", "delta_late",
          Seq("t"))(land("delta_late", rows(9)))
        land(seg, scanned(s1))
      }
      val s2 = Segments.snapshot(spark, root)
      val carried = s2.segs("t").length == 2 &&
        s2.segs("t").last == "delta_late" &&
        s2.applied == ids :+ "late" &&
        scanned(s2) == (scanned(s1) ++ rows(9)).sorted
      val refolded = scala.util.Try(Segments.fold(spark, root, s1,
        Seq("t"), "fold")(seg => land(seg, scanned(s1))))
      landedOnce && carried && refolded.isFailure &&
        Segments.snapshot(spark, root).version == s2.version
    }
}
