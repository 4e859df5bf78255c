package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Iterative graph analytics beyond connected components
  * ([[DedupOps.dedupClusters]]): link analysis over graphs derived from
  * corpus/warehouse tables.
  */
object Graph {

  /** PageRank in EXACT integer arithmetic (Page et al. 1999, the
    * power-iteration form): ranks are maintained as fixed-point longs
    * (`scale` = 1.0), each node's contribution is `rank DIV outdeg`
    * (floor division), and the update is
    *
    *   rank' = ((100−damp)·scale) DIV 100 + (damp · Σ in-contribs) DIV 100
    *
    * — every step is 64-bit integer arithmetic, so the result is
    * bit-identical in every engine and independent of partial-
    * aggregation order (the floating-point formulation sums doubles in
    * visit order — unreproducible across runs, engines, and cluster
    * sizes; at fixed-point the only cost is ≤1 unit of floor-rounding
    * per edge per round, far below any ranking-relevant difference).
    * Dangling nodes (no out-edges) keep only the teleport base and
    * their surplus mass LEAKS (the non-normalized variant) — totals are
    * not conserved, rankings are; callers wanting conservation should
    * close the graph (add reverse edges) as the gated x82 bipartite
    * construction does. Duplicate edges count once.
    *
    * Fixed `iters` power rounds by default, NOT convergence-probed: a
    * fixed iteration count is what makes the output a pure function of
    * the edge list (the oracle unrolls the same rounds), and in practice
    * rank ORDER stabilizes in a handful of rounds long before values do.
    * `tol` adds an OPTIONAL early exit for long production runs: stop
    * after the first round whose max |Δrank| (in scaled units) falls
    * below `tol` — one cheap max-agg per round over the two node-keyed
    * frames the loop already materializes. Because the arithmetic is
    * exact fixed-point, Δ = 0 is a true fixed point: with `tol =
    * Some(1)` the early exit returns BIT-IDENTICAL output to any larger
    * fixed `iters` that reaches the same fixed point (GraphSpec pins
    * it; gated x95). A 100 TB run sets `iters` as the hard budget and
    * `tol` as the expected stop.
    *
    * Scale shape (the iterative discipline of [[DedupOps.dedupClusters]]'
    * star rounds):
    * the edge list joined each round carries only (src, dst, outdeg) —
    * 24-byte rows, hash-partitioned ONCE on the join key and
    * `localCheckpoint`ed, so every round's join shuffles only the
    * node-rank side (8+8 bytes per NODE, not per edge) and the
    * per-round lineage is truncated (without it the plan doubles per
    * round). Contributions aggregate partial+final on dst. Driver holds
    * nothing beyond two bounded statistics (node count, max weight —
    * one cheap job each over the already-materialized checkpoints) that
    * ENFORCE the overflow contract: total rank mass never exceeds
    * `nodes · scale` (teleport equilibrium), so the guard requires
    * `nodes · scale · max(100, wmax)` to stay below 2⁶² — at 10⁹ nodes
    * use `scale = 10⁷` (default 10⁹ is sized for ≤4·10⁷ nodes). A
    * violated contract is a require() at call time, never a silent
    * 64-bit wrap mid-iteration. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, damp: Long = 85L,
      scale: Long = 1000000000L, reliable: Boolean = false,
      tol: Option[Long] = None): DataFrame = {
    val e = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst")).distinct()
      .withColumn("w", lit(1L))
    pageRankCore(e, iters, damp, scale, reliable, tol)
  }

  /** Weighted-edge PageRank: each node distributes its rank
    * PROPORTIONALLY to positive integer edge weights —
    * `contrib(u→v) = (rank(u) · w(u,v)) DIV Σ_x w(u,x)` — the citation-
    * count / co-occurrence-strength form. Same exact-integer contract,
    * iteration shape, and enforced overflow guard as [[pageRank]]
    * (which is this op at w ≡ 1); parallel (src, dst) rows MERGE by
    * summing their weights. Rows with NULL or non-positive weight are
    * excluded (documented contract — pre-validate with
    * [[graft.ops.Audit]] when that must be an error, not a filter). */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 5, damp: Long = 85L,
      scale: Long = 1000000000L, reliable: Boolean = false,
      tol: Option[Long] = None): DataFrame = {
    val e = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"),
        col(weightCol).cast(LongType).as("w"))
      .filter(col("w") > 0L)
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
    pageRankCore(e, iters, damp, scale, reliable, tol)
  }

  /** Personalized PageRank (Haveliwala 2002): the teleport mass lands
    * on a SEED set instead of uniformly — rank measures proximity to
    * the seeds, which is the "related entities" / graph-recommendation
    * query (seeds = a user's items → ranks = what their neighborhood
    * endorses). Same exact-integer power iteration, plan pins,
    * checkpoint discipline, and overflow contract as [[pageRank]]:
    * the ONLY change is the per-node teleport term, `base(v) =
    * ((100−damp)·scale·n) div (100·|S|)` for v ∈ S and 0 elsewhere —
    * total teleport is conserved (÷-floor leak only shrinks it), so
    * the rank-mass bound and both overflow requires hold verbatim,
    * and seeding EVERY node reproduces [[pageRank]] bit-for-bit
    * (GraphSpec pins the equivalence).
    *
    * Seeds are intersected with the graph's node set first (an absent
    * seed has no edges to receive or spread mass — counting it would
    * silently destroy teleport mass); an empty intersection is a
    * clear error. The seed frame is assumed SMALL relative to the
    * graph (it's a query, not a dataset) — it is read twice: one
    * semi-join + one bounded count. */
  def pageRankPersonalized(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String,
      iters: Int = 5, damp: Long = 85L, scale: Long = 1000000000L,
      reliable: Boolean = false, tol: Option[Long] = None): DataFrame = {
    val e = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst")).distinct()
      .withColumn("w", lit(1L))
    pageRankCore(e, iters, damp, scale, reliable, tol,
      Some(seeds.select(col(seedCol).cast(LongType).as("id")).distinct()))
  }

  /** [[pageRankPersonalized]] over weighted edges — seeds pin the
    * teleport, weights shape the propagation ([[pageRankWeighted]]'s
    * proportional distribution). The full graph-recommendation form:
    * seeds = a user's items, weights = interaction strength. Both
    * parameter contracts compose unchanged (w ≡ 1 reproduces the
    * unweighted personalized variant bit-for-bit — GraphSpec pins
    * it). */
  def pageRankWeightedPersonalized(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, seeds: DataFrame,
      seedCol: String, iters: Int = 5, damp: Long = 85L,
      scale: Long = 1000000000L, reliable: Boolean = false,
      tol: Option[Long] = None): DataFrame = {
    val e = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"),
        col(weightCol).cast(LongType).as("w"))
      .filter(col("w") > 0L)
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
    pageRankCore(e, iters, damp, scale, reliable, tol,
      Some(seeds.select(col(seedCol).cast(LongType).as("id")).distinct()))
  }

  /** Shared power-iteration core over a prepared (src, dst, w) edge
    * frame (w > 0, parallel edges pre-merged).
    *
    * PLAN PIN — every join in the loop carries a SHUFFLE_HASH hint on
    * its node-keyed side, so no round can plan a broadcast join. A
    * broadcast here is wrong twice over: at 100 TB neither the edge
    * list nor a node-keyed frame fits in a broadcast, and even at
    * bench scale the planner's stats for a `localCheckpoint`ed
    * LogicalRDD understate the edge frame enough that it flips the
    * EDGE side into a driver-built broadcast — a single-threaded
    * LongHashedRelation build + reserialize of every edge row that
    * takes 10-50s (run-to-run, heap-dependent) while all executor
    * threads idle (jstack: `broadcast-exchange` RUNNABLE in
    * `LongToUnsafeRowMap.append`, 20 executors parked). Pinned, each
    * round is the shape the scaladoc promises: edges stay put, only
    * the (id, rank) side shuffles, and the hash build is per-partition
    * parallel. GraphSpec pins the executed plan. */
  private def pageRankCore(e0: DataFrame, iters: Int, damp: Long,
      scale: Long, reliable: Boolean,
      tol: Option[Long] = None,
      seeds: Option[DataFrame] = None): DataFrame = {
    def mat(df: DataFrame): DataFrame = Checkpoints.materialize(df, reliable)
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(damp >= 0L && damp <= 100L, s"damp must be in [0,100] (got $damp)")
    require(scale >= 1L, s"scale must be >= 1 (got $scale)")
    tol.foreach(t => require(t >= 1L, s"tol must be >= 1 (got $t)"))
    // Materialize the prepared (src, dst, w) edge frame ONCE: the
    // out-weight aggregate, the eo join (which references it TWICE —
    // probe side + outw build side), and the node set (twice more) all
    // replay the preparation plan otherwise, and that plan is a full
    // source scan + distinct/merge shuffle each time. 24-byte rows,
    // released as soon as eo and nodes are standalone checkpoints.
    val e = mat(e0)
    val outw = e.groupBy("src").agg(sum(col("w")).as("outw"))
    // (src, dst, w, outw) partitioned on the per-round join key and
    // materialized once — rounds shuffle only the rank side
    val eo = mat(e.join(outw.hint("shuffle_hash"), Seq("src"))
      .repartition(col("src")))
    val nodes = mat(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    Checkpoints.release(e)
    // overflow contract, ENFORCED: rank mass is bounded by the teleport
    // equilibrium n·scale (M_t <= n·(1−d)·scale + d·M_{t−1}, fixpoint
    // n·scale, leak only shrinks it), so the largest intermediates are
    // damp·Σcontribs <= 100·n·scale and rank·w <= n·scale·wmax. Both
    // statistics are bounded driver reads over materialized checkpoints
    // (a count and a 1-row max), not data collects.
    val n = nodes.count()
    val wmax = eo.agg(coalesce(max(col("w")), lit(1L))).head().getLong(0)
    val mass = BigInt(math.max(n, 1L)) * BigInt(scale)
    val headroom = BigInt(Long.MaxValue) / 2
    require(mass * 100 <= headroom,
      s"pageRank overflow contract: nodes($n) x scale($scale) x 100 " +
        s"exceeds 2^62 — lower scale (10^7 suffices for 10^9 nodes)")
    require(mass * BigInt(math.max(wmax, 1L)) <= headroom,
      s"pageRank overflow contract: nodes($n) x scale($scale) x " +
        s"max_weight($wmax) exceeds 2^62 — lower scale or rescale weights")
    val base = (100L - damp) * scale / 100L
    // the teleport side of each round: (id, base). Uniform PageRank is
    // a narrow projection of the materialized node set; the
    // personalized variant seeds get ((100−d)·scale·n) div (100·|S|)
    // and everyone else 0 — total teleport conserved, so the overflow
    // requires above cover both forms (the b product is ≤ 100·n·scale,
    // inside the already-checked headroom; computed in BigInt).
    val nb = seeds match {
      case None => nodes.withColumn("base", lit(base))
      case Some(s) =>
        // ONE seed-tagging pass instead of semi-join + re-join: tag the
        // node set with a seed flag, count the present seeds off the
        // materialized checkpoint (a cheap block scan, not a source
        // replay), and derive the per-node base as a projection — the
        // per-round join re-evaluates only a when() over the checkpoint
        val tagged = mat(nodes.join(
            s.withColumn("_seed", lit(1)).hint("shuffle_hash"),
            Seq("id"), "left")
          .select(col("id"),
            coalesce(col("_seed"), lit(0)).as("_seed")))
        val m = tagged.filter(col("_seed") === 1).count()
        require(m > 0,
          "personalized PageRank: no seed appears in the graph's " +
            "node set (absent seeds can neither receive nor spread " +
            "mass, so they are excluded before the teleport split)")
        val b = ((BigInt(100L - damp) * scale * n) /
          (BigInt(100) * m)).toLong
        tagged.select(col("id"),
          when(col("_seed") === 1, lit(b)).otherwise(lit(0L))
            .as("base"))
    }
    var ranks = mat(nodes.withColumn("rank", lit(scale)))
    var round = 0
    var converged = false
    while (round < iters && !converged) {
      val rhint = ranks.hint("shuffle_hash")
      val contribs = eo.join(rhint, eo("src") === rhint("id"))
        .select(col("dst"), expr("(rank * w) div outw").as("_c"))
        .groupBy("dst").agg(sum(col("_c")).as("_s"))
      val next = mat(nb
        .join(contribs.hint("shuffle_hash"),
          nb("id") === contribs("dst"), "left")
        .select(col("id"),
          // SQL div: exact 64-bit floor division (Column./ on longs
          // silently promotes to double — the determinism killer here)
          (col("base") + expr(s"($damp * coalesce(_s, 0)) div 100"))
            .as("rank")))
      // convergence probe BEFORE releasing the previous round: one
      // node-keyed join of two materialized checkpoints + a 1-row max —
      // cheap next to the round's edge join, and only when asked for
      tol.foreach { t =>
        val delta = next
          .join(ranks.withColumnRenamed("rank", "_prev")
            .hint("shuffle_hash"), Seq("id"))
          .agg(coalesce(max(abs(col("rank") - col("_prev"))), lit(0L)))
          .head().getLong(0)
        if (delta < t) converged = true
      }
      // next is materialized (eager checkpoint) — the previous round's
      // blocks are dead; release them before they pile up round-on-round
      Checkpoints.release(ranks)
      ranks = next
      round += 1
    }
    // the loop inputs are dead too: the returned frame is a standalone
    // checkpoint referencing none of them (release on the uniform
    // variant's nb — a projection, not a checkpoint — is a no-op)
    Checkpoints.release(eo)
    Checkpoints.release(nodes)
    Checkpoints.release(nb)
    ranks
  }

  /** Exact global triangle count with DEGREE-ORDERED orientation
    * (Schank & Wagner 2005's node-iterator++ / the "compact-forward"
    * family): canonicalize to an undirected simple edge set, orient
    * every edge from its (degree, id)-smaller endpoint to the larger,
    * and count wedge closures e(a,b) ⋈ e(a,c) ⋈ e(b,c). The
    * orientation is WHY this scales: out-degree under it is O(√E) even
    * for hub nodes, so the wedge join materializes O(E^1.5) candidate
    * rows instead of the Σdeg² a naive neighbor self-join pays — on a
    * power-law graph the difference is the job finishing or not.
    * Exact integer counts; each triangle counted once (the closing
    * edge's orientation picks exactly one of a wedge's two orderings).
    *
    * Output: one row (n_nodes, n_edges, n_triangles) — nodes with at
    * least one edge, undirected simple edges, global triangles.
    * Self-loops and duplicate/reverse edges are dropped in
    * canonicalization.
    *
    * Plan shape: the oriented edge list is materialized ONCE
    * ([[Checkpoints.materialize]] — it appears three times in the
    * wedge join, and Catalyst does not dedupe aliased subtrees), and
    * every join over the checkpointed lineage is pinned SHUFFLE_HASH
    * (checkpointing erases the stats Catalyst plans from — the
    * SCALE.md round-12 lesson; neither side of a big-graph wedge join
    * can broadcast). `reliable` routes the materialization to the
    * fault-tolerant checkpoint dir. */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String,
      reliable: Boolean = false): DataFrame = {
    val s = col(srcCol).cast(LongType)
    val d = col(dstCol).cast(LongType)
    val und = edges
      .select(least(s, d).as("u"), greatest(s, d).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
    val deg = und.select(col("u").as("id"))
      .unionByName(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg"))
    val lower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = und
      .join(deg.select(col("id").as("u"), col("dg").as("du")),
        Seq("u"))
      .join(deg.select(col("id").as("v"), col("dg").as("dv")),
        Seq("v"))
      .select(when(lower, col("u")).otherwise(col("v")).as("a"),
        when(lower, col("v")).otherwise(col("u")).as("b"))
    val e = Checkpoints.materialize(oriented, reliable)
    val wedges = e.as("e1").hint("SHUFFLE_HASH")
      .join(e.as("e2").hint("SHUFFLE_HASH"),
        col("e1.a") === col("e2.a") && col("e1.b") =!= col("e2.b"))
      .select(col("e1.b").as("a"), col("e2.b").as("b"))
    val triangles = wedges.hint("SHUFFLE_HASH")
      .join(e.hint("SHUFFLE_HASH"), Seq("a", "b"))
      .agg(count(lit(1)).as("t")).head().getLong(0)
    val nEdges = e.count()
    val nNodes = deg.count()
    Checkpoints.release(e)
    import edges.sparkSession.implicits._
    Seq((nNodes, nEdges, triangles))
      .toDF("n_nodes", "n_edges", "n_triangles")
  }

  /** Per-node triangle counts and LOCAL CLUSTERING COEFFICIENT
    * (Watts & Strogatz 1998): for node i with degree dᵢ and tᵢ
    * triangles through it, cᵢ = 2tᵢ / (dᵢ(dᵢ−1)) — the fraction of a
    * node's neighbor pairs that are themselves connected, the standard
    * local-density / spam-farm signal on link graphs. Same
    * degree-ordered wedge machinery as [[triangleCount]] (orientation
    * bounds the join at O(E^1.5)), but each closed wedge now emits its
    * THREE corners (center + both endpoints) so one count aggregation
    * yields per-node tᵢ; a left join back to the degree table keeps
    * triangle-free nodes with cᵢ = 0.
    *
    * The coefficient is emitted as exact floor-micros via 64-bit
    * integer division — `lcc_micros = (2·10⁶·tᵢ) div (dᵢ(dᵢ−1))` —
    * never a double (the repo's float-free ratio discipline; identical
    * bit-for-bit in any engine). Degree-1 nodes have no neighbor pair:
    * lcc_micros = 0 by convention.
    *
    * Output: (id, degree, n_triangles, lcc_micros), one row per node
    * with ≥ 1 edge. Canonicalization as [[triangleCount]]: undirected
    * simple graph, self-loops and duplicate/reverse edges dropped. */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String, reliable: Boolean = false): DataFrame = {
    val s = col(srcCol).cast(LongType)
    val d = col(dstCol).cast(LongType)
    val und = edges
      .select(least(s, d).as("u"), greatest(s, d).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
    val deg = und.select(col("u").as("id"))
      .unionByName(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val lower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = und
      .join(deg.select(col("id").as("u"), col("degree").as("du")),
        Seq("u"))
      .join(deg.select(col("id").as("v"), col("degree").as("dv")),
        Seq("v"))
      .select(when(lower, col("u")).otherwise(col("v")).as("a"),
        when(lower, col("v")).otherwise(col("u")).as("b"))
    val e = Checkpoints.materialize(oriented, reliable)
    // keep the wedge CENTER: a closed wedge (c→x, c→y) + edge (x,y)
    // is one triangle with corners {c, x, y}
    val wedges = e.select(col("a").as("c"), col("b").as("x")).as("e1")
      .hint("SHUFFLE_HASH")
      .join(e.select(col("a").as("c"), col("b").as("y")).as("e2")
        .hint("SHUFFLE_HASH"), col("e1.c") === col("e2.c") &&
          col("e1.x") =!= col("e2.y"))
      .select(col("e1.c").as("c"), col("e1.x").as("x"),
        col("e2.y").as("y"))
    val triCorners = wedges.hint("SHUFFLE_HASH")
      .join(e.select(col("a").as("x"), col("b").as("y"))
        .hint("SHUFFLE_HASH"), Seq("x", "y"))
      .select(explode(array(col("c"), col("x"), col("y"))).as("id"))
    val perNode = triCorners.groupBy("id")
      .agg(count(lit(1)).as("n_triangles"))
    val out = deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") < 2, lit(0L)).otherwise(
          expr("2000000 * coalesce(n_triangles, 0) div " +
            "(degree * (degree - 1))")).as("lcc_micros"))
    // the result is a per-node aggregate (small); materialize it before
    // releasing the oriented edges its lineage replays over (the caller
    // owns the final frame's blocks — the module's loop discipline)
    val res = Checkpoints.materialize(out, reliable)
    Checkpoints.release(e)
    res
  }

  /** Unweighted single-source (multi-seed) shortest-path hops — BFS
    * levels, the Pregel hello-world the family was missing: every node
    * reachable from the seed set within `maxHops` gets its exact
    * minimum hop distance (seeds = 0). Frontier-only expansion: round
    * k joins ONLY the hop-(k−1) frontier against the adjacency, so
    * total work is Σ|frontier|·deg — edges are touched once per
    * direction over the whole run, not once per round (the textbook
    * BFS work bound, which is what makes 20 hops over a 100 TB graph
    * a bounded job instead of 20 full-graph joins).
    *
    * Canonicalization as [[triangleCount]]/[[kCore]]: undirected
    * simple graph. Seeds not present in the edge set are still
    * emitted at hop 0 (a seed is at distance 0 from itself by
    * definition); `seeds` must be non-empty. Exact integer hops —
    * deterministic, partition-independent, and the oracle unrolls the
    * same rounds declaratively (hop = min over rounds). Output:
    * (id, hop), one row per reached node.
    *
    * Scale shape: the both-direction adjacency is hash-partitioned
    * once and materialized; each round shuffles one (id) frontier and
    * one anti-join against the visited set (both SHUFFLE_HASH-pinned
    * over checkpointed lineage — the SCALE.md r12 rule); rounds
    * materialize-and-release ([[Checkpoints]] discipline). */
  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int,
      reliable: Boolean = false): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0 (got $maxHops)")
    def mat(df: DataFrame): DataFrame = Checkpoints.materialize(df, reliable)
    val s = col(srcCol).cast(LongType)
    val d = col(dstCol).cast(LongType)
    val und = edges
      .select(least(s, d).as("u"), greatest(s, d).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
    val adj = mat(und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src")))
    val seed0 = seeds.select(col(seedCol).cast(LongType).as("id"))
      .filter(col("id").isNotNull).distinct()
    require(!seed0.isEmpty, "bfsLevels: the seed set is empty")
    var visited = mat(seed0.withColumn("hop", lit(0L)))
    var frontier = visited
    var hop = 0L
    var done = false
    while (hop < maxHops && !done) {
      hop += 1
      val fh = frontier.hint("shuffle_hash")
      val reached = adj.join(fh, adj("src") === fh("id"))
        .select(col("dst").as("id")).distinct()
      // materializeCount folds the emptiness probe into the round's
      // own materializing action — one job per round, not two
      val (next, nNew) = Checkpoints.materializeCount(reached
        .join(visited.hint("shuffle_hash"), Seq("id"), "left_anti")
        .withColumn("hop", lit(hop)), reliable)
      if (nNew == 0L) { Checkpoints.release(next); done = true }
      else {
        val nv = mat(visited.unionByName(next))
        // nv is a materialized snapshot, so the superseded visited and
        // the previous frontier are both dead weight now (at hop 1 the
        // two are the same frame — release is an idempotent no-op)
        Checkpoints.release(frontier)
        Checkpoints.release(visited)
        visited = nv
        frontier = next
      }
    }
    // the final frontier's blocks are not part of the returned union
    // snapshot — only the caller-owned `visited` keeps its blocks
    if (!(frontier eq visited)) Checkpoints.release(frontier)
    Checkpoints.release(adj)
    visited
  }

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara 2007) made DETERMINISTIC: labels seed as each
    * node's own id, and every round EVERY node simultaneously adopts
    * the label most frequent among its neighbors, ties broken by the
    * SMALLEST label. Classic LPA resolves ties randomly and stops "when
    * labels stop changing" — both reproducibility killers; here the
    * tie-break is total and the round count is FIXED, so the output is
    * a pure function of the edge list (the oracle unrolls the same
    * rounds) and identical across engines, partitionings, and runs.
    * The community label that wins a region is its minimum seed id —
    * the same canonical-representative convention as
    * [[DedupOps.dedupClusters]]' component labels.
    *
    * Input edges are canonicalized exactly as [[triangleCount]] /
    * [[kCore]]: undirected simple graph (self-loops, duplicate and
    * reverse edges dropped — a neighbor votes once). Output: one row
    * per node with ≥ 1 edge — (id, label). Fixed synchronous rounds
    * mean bipartite regions can oscillate with period 2 (the
    * documented LPA caveat — Raghavan et al. §IV); a fixed round count
    * keeps even that deterministic, and `rounds` is the propagation
    * RADIUS: labels travel at most `rounds` hops, which is the real
    * knob (community diameter), not a convergence guess.
    *
    * Scale shape (the [[pageRankCore]] iterative discipline): the
    * both-direction adjacency (16-byte rows) is hash-partitioned ONCE
    * on the per-round join key and materialized, so every round
    * shuffles only the (id, label) side; the vote is one partial+final
    * count on (node, label) followed by one max-of-struct argmax per
    * node — no window, no sort, no per-group row explosion beyond the
    * node's distinct neighbor labels. Joins over checkpointed lineage
    * are pinned SHUFFLE_HASH (stats-erasure broadcasts, the SCALE.md
    * r12 lesson); each round's checkpoint releases the last. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 3, reliable: Boolean = false): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    def mat(df: DataFrame): DataFrame = Checkpoints.materialize(df, reliable)
    val s = col(srcCol).cast(LongType)
    val d = col(dstCol).cast(LongType)
    val und = edges
      .select(least(s, d).as("u"), greatest(s, d).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
    val adj = mat(und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("dst")))
    var labels = mat(adj.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")))
    var round = 0
    while (round < rounds) {
      val lh = labels.hint("shuffle_hash")
      val votes = adj.join(lh, adj("dst") === lh("id"))
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      // argmax by (count, then SMALLEST label): max of a (cnt, −lbl)
      // struct is lexicographic and total — deterministic where
      // max_by would tie-break arbitrarily
      val next = mat(votes.groupBy("src")
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("src").as("id"),
          (-col("m").getField("nl")).as("lbl")))
      Checkpoints.release(labels)
      labels = next
      round += 1
    }
    Checkpoints.release(adj)
    labels
  }

  /** SEMI-SYNCHRONOUS label propagation over a bipartite graph
    * (Cordasco & Gargano 2010's coloring schedule — on a 2-colorable
    * graph, alternating the two sides eliminates synchronous LPA's
    * period-2 oscillation): left nodes seed with their own ids, each
    * round the RIGHT side adopts the argmax label of its left
    * neighbors and then the LEFT side adopts the argmax of the
    * just-updated right side. The co-clustering form for
    * document↔feature graphs (docs ↔ shingles, users ↔ items): left
    * nodes sharing many features converge to one label — vote-weighted
    * community structure, where [[DedupOps.dedupClusters]]' components
    * merge on ANY single shared feature. Same determinism contract as
    * [[labelPropagation]]: total (count DESC, smallest-label) argmax,
    * FIXED rounds (a pure function of the edge list, oracle-unrollable;
    * `rounds` = propagation radius in left-to-left hops).
    *
    * Input: an explicit bipartite edge frame (left id, right id) —
    * the two id spaces are tracked separately, so they may overlap
    * numerically. Duplicate edges vote once. Output: (id, lbl) for
    * every left node with ≥ 1 edge.
    *
    * Scale shape: edges materialized once; each half-round is one
    * partial+final (node, label) count plus one max-of-struct argmax;
    * SHUFFLE_HASH pins on the checkpointed sides; per-round
    * checkpoint-and-release. */
  def labelPropagationBipartite(edges: DataFrame, leftCol: String,
      rightCol: String, rounds: Int = 2, reliable: Boolean = false)
      : DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    def mat(df: DataFrame): DataFrame = Checkpoints.materialize(df, reliable)
    def argmax(votes: DataFrame, idC: String, lblC: String,
        outId: String, outLbl: String): DataFrame =
      votes.groupBy(col(idC), col(lblC))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col(idC))
        .agg(max(struct(col("cnt"), (-col(lblC)).as("nl"))).as("m"))
        .select(col(idC).as(outId),
          (-col("m").getField("nl")).as(outLbl))
    val e = mat(edges
      .select(col(leftCol).cast(LongType).as("l"),
        col(rightCol).cast(LongType).as("r"))
      .filter(col("l").isNotNull && col("r").isNotNull)
      .distinct())
    var lbl = mat(e.select(col("l").as("id")).distinct()
      .withColumn("lbl", col("id")))
    var round = 0
    while (round < rounds) {
      val lh = lbl.hint("shuffle_hash")
      val rlbl = argmax(e.join(lh, e("l") === lh("id"))
        .select(col("r"), col("lbl")), "r", "lbl", "rid", "rlbl")
      val rh = rlbl.hint("shuffle_hash")
      val next = mat(argmax(e.join(rh, e("r") === rh("rid"))
        .select(col("l"), col("rlbl")), "l", "rlbl", "id", "lbl"))
      Checkpoints.release(lbl)
      lbl = next
      round += 1
    }
    Checkpoints.release(e)
    lbl
  }

  /** k-core decomposition (Seidman 1983): the unique maximal subgraph
    * in which every node has degree ≥ k, computed by bulk-synchronous
    * peeling — each round drops every node whose CURRENT degree is
    * below k (and the edges touching it), until a round removes
    * nothing. The graph-cleanup op for corpus link graphs: the k-core
    * is what survives when spam tendrils, orphan chains, and weakly
    * attached satellites are peeled away (a node cannot ride in on one
    * well-connected neighbor — its whole neighborhood must persist).
    * Deterministic: the k-core is unique regardless of peel order, so
    * bulk rounds and the oracle's unrolled rounds agree exactly.
    *
    * Input edges are canonicalized exactly as [[triangleCount]]:
    * undirected simple graph, self-loops and duplicate/reverse edges
    * dropped. Output: one row per surviving node — (id, core_deg),
    * core_deg the node's degree WITHIN the k-core (≥ k by
    * definition). An empty result is a valid answer (no k-core).
    *
    * Scale shape (the [[pageRankCore]] iterative discipline): the
    * both-direction adjacency (16-byte rows) is materialized per round
    * and its predecessor released, so lineage never grows; each round
    * is one partial+final degree aggregate plus two semi-joins pinned
    * SHUFFLE_HASH (checkpointed lineage has no stats — an unpinned
    * plan would broadcast a graph-sized side, the SCALE.md r12
    * lesson). Rounds-to-fixpoint is data-dependent (≤ the longest
    * peel cascade); `maxRounds` is the hard budget and exceeding it
    * is an ERROR, never a silent partial core — a truncated peel
    * still contains sub-k nodes, which violates the operator's whole
    * contract. Convergence is detected by comparing directed-edge
    * counts (peeling only deletes rows); the count IS the round's
    * materializing action ([[Checkpoints.materializeCount]]), so the
    * probe adds no extra job. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 100, reliable: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    def mat(df: DataFrame): DataFrame = Checkpoints.materialize(df, reliable)
    val s = col(srcCol).cast(LongType)
    val d = col(dstCol).cast(LongType)
    val und = edges
      .select(least(s, d).as("u"), greatest(s, d).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
    // materializeCount folds the convergence count into each
    // materializing action — one job per round, not two
    var (adj, nDirected) = Checkpoints.materializeCount(
      und.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(und.select(col("v").as("src"), col("u").as("dst"))),
      reliable)
    var round = 0
    var fixed = nDirected == 0L
    while (round < maxRounds && !fixed) {
      // survivors this round: degree = directed out-rows per src (the
      // both-direction layout makes degree a single partial+final agg)
      val alive = mat(adj.groupBy("src").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select(col("src").as("id")))
      val (next, nNext) = Checkpoints.materializeCount(adj
        .join(alive.hint("shuffle_hash"),
          adj("src") === alive("id"), "left_semi")
        .join(alive.withColumnRenamed("id", "id2").hint("shuffle_hash"),
          col("dst") === col("id2"), "left_semi"), reliable)
      fixed = nNext == nDirected
      Checkpoints.release(alive)
      Checkpoints.release(adj)
      adj = next
      nDirected = nNext
      round += 1
      if (fixed || nDirected == 0L) fixed = true
    }
    require(fixed,
      s"kCore: peel did not reach a fixpoint within maxRounds=" +
        s"$maxRounds rounds — raise the budget (a truncated peel is " +
        "not a k-core: sub-k nodes remain)")
    val core = adj.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("core_deg"))
    // the result must outlive the released checkpoint it reads
    val out = Checkpoints.materialize(core, reliable)
    Checkpoints.release(adj)
    out
  }
}
