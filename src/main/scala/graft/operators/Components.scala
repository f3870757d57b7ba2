package graft.operators

import graft.CacheRegistry.Tracked
import graft.sources.Tables
import org.apache.spark.internal.Logging
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanTransplant.reRoot
import org.apache.spark.sql.expressions.Window

/** Connected components over an edge list — the clustering step that
  * turns pairwise near-duplicate MATCHES (Dedup.minhashPairs etc.) into
  * duplicate GROUPS, and the generic graph kernel behind co-purchase /
  * co-occurrence analysis.
  *
  * Algorithm: min-label propagation with pointer jumping. Each round
  * every node takes the min of its own label, its neighbors' labels,
  * and its label's label (one extra self-join — the "hash-to-min"
  * shortcut). Plain neighbor propagation needs O(diameter) rounds; the
  * label-of-label jump collapses already-discovered chains, giving
  * O(log n) rounds on path-like components — the difference between 6
  * and 60 shuffles on a 100 TB edge set. Each round is two equi-joins +
  * one aggregate (all shuffle on node id, so AQE handles skewed hub
  * nodes); state per round is one (node, lbl) row per node, persisted
  * and explicitly unpersisted so lineage doesn't re-execute the whole
  * history each iteration.
  *
  * The driver-side loop holds only one aggregate per round (the exact
  * decimal label MASS — monotone under min-propagation, so two equal
  * consecutive masses prove a fixpoint), never row data; convergence
  * is data-dependent but bounded
  * by maxIter. Each round's state is freed once the next round
  * materializes; only the FINAL label frame stays cached — it IS the
  * returned data (lineage was severed), so the caller owns its
  * lifetime. Labels converge to the component's minimum node id —
  * deterministic regardless of execution order, which is what makes the
  * result oracle-checkable against a recursive-CTE transitive closure.
  */
object Components extends Logging {

  /** Release the cached blocks behind a `localCheckpoint`'ed frame.
    * A checkpointed Dataset's plan is a [[LogicalRDD]] whose RDD holds
    * the materialized blocks; `Dataset.unpersist` can't reach them
    * (the Dataset-level cache manager never saw them), so without this
    * every iteration of a loop leaks one full copy of its state for
    * the lifetime of the session. Only call once NOTHING downstream
    * can recompute through the frame — checkpointing severed the
    * lineage, so evicted blocks are gone for good. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _              => ()
    }

  /** Resolve components of an undirected edge list (columns `a`, `b`).
    * Returns (node, cluster_id = min node id reachable). Only nodes
    * with at least one edge appear (singletons carry no information
    * and would dominate the output at scale).
    *
    * Lineage discipline: the label frame is localCheckpoint'ed every
    * round. The pointer-jump self-join references the round's frame
    * twice, so WITHOUT truncation the logical plan doubles per
    * iteration — exponential analysis cost long before any data moves
    * (a 20-round run materializes a 2^20-node plan). On a real cluster
    * swap localCheckpoint for a reliable `checkpoint` dir so executor
    * loss can't sever the truncated lineage. */
  /** @param jumps pointer jumps per round. 1 (default) moves the least
    *   data per round and measured identical round counts on the
    *   low-diameter graphs near-dup/co-occurrence clustering produces;
    *   raise to 2 for path-like graphs where halving rounds is worth
    *   two extra label-frame shuffles per round. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
                          jumps: Int = 1): DataFrame = {
    val spark = edges.sparkSession
    // materialize the incoming edge plan ONCE: the symmetrization union
    // references it twice, and Spark computes duplicate subtrees
    // independently (ReuseExchange only kicks in for identical shuffle
    // outputs) — for an expensive edge pipeline that doubles its cost
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val symN = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    // round 0 folded into init: label = min(self, direct neighbors)
    var lab = symN.groupBy(col("src").as("node"))
      .agg(least(col("node"), min(col("dst"))).as("lbl"))
      .localCheckpoint()
    // Size the loop's shuffles to the LABEL frame, not the session
    // default: one (node,lbl) row is ~16 bytes, so ~250k rows/partition
    // keeps partitions a few MB. At bench scale that collapses 32
    // near-empty sort/join tasks per stage to 8; at 10^9 nodes it
    // grows to thousands of partitions. The loop runs on a scoped
    // child session (Tuning.scoped), so the override never reaches the
    // caller's session or a query planned on it concurrently.
    val nNodes = lab.count()
    val parts = math.max(8L, math.min(20000L, nNodes / 250000L + 1)).toInt
    // sym gains one SELF-loop row per node (from the already-computed
    // label keys, not a distinct over edges): with self-edges present,
    // min-over-neighbor-labels already includes the node's own label,
    // which deletes the old lab⋈nbrMin "carry" join from every round.
    // Checkpointed hashed by dst so per-round joins re-shuffle only
    // the (skinny) label frame, never the edges.
    //
    // localCheckpoint, NOT persist: sym's plan EMBEDS the round-0
    // label frame (the self-loop branch), and the pointer jump's
    // broadcast side is a DeduplicateRelations COPY of the sym
    // fragment that Spark's CacheManager does not reliably match
    // (observed: canonically identical fragments with
    // sameResult=false when the copied LogicalRDDs carry captured
    // partitioning) — a cache MISS there recomputes sym from scratch
    // every round and, after round 0 frees the initial label
    // checkpoint, dies with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. An
    // eager checkpoint severs the lineage instead: every plan copy
    // shares the one materialized RDD, so neither double-compute nor
    // the freed-parent read is reachable, cache matching no longer
    // affects correctness, and freeing lab below stays sound.
    val sym = symN.union(lab.select(col("node").as("src"), col("node").as("dst")))
      .repartition(parts, col("dst"))
      .localCheckpoint()
    // Small-graph fast path (the loop-level analogue of what AQE does
    // per-stage, which it can't see across rounds): when the whole
    // label frame fits a broadcast (~64 MB at 16 B/row), hint every
    // per-round join broadcast — label joins become map-side, and a
    // round collapses from ~6 scheduled stages to 2 — and switch AQE
    // off so each round is one classically-scheduled job instead of
    // one job per query stage. Big graphs keep shuffle joins + AQE
    // (runtime skew splitting on hub nodes matters more than
    // scheduling latency there).
    val small = nNodes < 4000000L
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val loop = Tuning.scoped(spark, Tuning.loopConf(parts, small): _*)
    val symL = reRoot(loop, sym)
    lab = reRoot(loop, lab)
    // Convergence by monotone label mass: labels only ever decrease,
    // so sum(lbl) is strictly decreasing until the fixpoint and
    // equality with the previous round means NO label moved. That
    // replaces the old/new comparison join + filter-count with one
    // single-row aggregate (exact DECIMAL sum — overflow-proof at
    // any node count, order-independent).
    var prevMass: java.math.BigDecimal = null
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val nbrMin = symL
        .join(hint(lab.select(col("node").as("dst"), col("lbl").as("nlbl"))), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min(col("nlbl")).as("lbl"))
      // pointer jump: lbl := lbl(lbl) — each jump is one more small
      // self-join inside the same job and multiplies how far a round
      // reaches. Intermediates are NOT checkpointed — recomputing
      // cheap joins inside one job beats an extra materialization
      // job per round; the lazy checkpoint of the final frame still
      // bounds the plan at one round's depth.
      val jumped = (1 to jumps).foldLeft(nbrMin) { (cur, _) =>
        cur.join(hint(cur.select(col("node").as("lbl"), col("lbl").as("ll"))),
            Seq("lbl"), "left")
          .select(col("node"), coalesce(col("ll"), col("lbl")).as("lbl"))
      }.localCheckpoint(false) // materialized by the mass agg: 1 job/round
      val mass = jumped.agg(sum(col("lbl").cast("decimal(38,0)")).as("m"))
        .head().getDecimal(0)
      // the aggregate above materialized this round's checkpoint; the
      // previous round's blocks can never be read again — free them
      // now or the loop retains O(rounds) copies of the label state
      freeCheckpoint(lab)
      lab = jumped
      // scale-insensitive compare; nulls (empty edge set) converge round 1
      done = (mass == null && prevMass == null) ||
        (mass != null && prevMass != null && mass.compareTo(prevMass) == 0)
      prevMass = mass
      iter += 1
    }
    if (!done)
      logWarning(s"connectedComponents exhausted maxIter=$maxIter before " +
        "label mass stabilized — returned labels are NOT converged " +
        "(downstream dedup would under-merge); raise maxIter")
    freeCheckpoint(sym)
    freeCheckpoint(e) // sym (materialized) was its only consumer
    reRoot(spark, lab)
  }

  /** Hierarchy flatten: (node, parent) edges → (node, root, depth,
    * path). Same iterative-join discipline as connectedComponents
    * (localCheckpoint per round, O(log depth) rounds via pointer
    * DOUBLING: each round concatenates every node's resolved prefix
    * with its current ancestor's, so resolved path length doubles),
    * but directed — the result is the dimension-table form every
    * BOM / org-chart / category-tree query wants. Roots are nodes
    * whose parent is null or themselves. */
  def hierarchyFlatten(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    // state: (node, anc, depth, path); anc == -1 marks resolved-to-root
    var cur = edges.select(col("node"),
        when(col("parent").isNull || col("parent") === col("node"), lit(-1L))
          .otherwise(col("parent")).as("anc"),
        lit(0L).as("depth"),
        col("node").cast("string").as("path"))
      .localCheckpoint()
    val parts = math.max(8L, math.min(20000L,
      cur.count() / 250000L + 1)).toInt
    val small = true // path strings stay dimension-sized; see CC for the gate
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    cur = reRoot(Tuning.scoped(spark,
      "spark.sql.shuffle.partitions" -> parts.toString), cur)
    var iter = 0
    var open = 1L
    while (open > 0 && iter < maxIter) {
      val anc = cur.select(col("node").as("anc"), col("anc").as("anc2"),
        col("depth").as("d2"), col("path").as("p2"))
      val stepped = cur.join(hint(anc), Seq("anc"), "left")
        .select(col("node"),
          when(col("anc") === -1L, lit(-1L))
            .otherwise(coalesce(col("anc2"), lit(-1L))).as("anc"),
          when(col("anc") === -1L, col("depth"))
            .otherwise(col("depth") + coalesce(col("d2"), lit(0L)) + 1).as("depth"),
          when(col("anc") === -1L, col("path"))
            .otherwise(concat(coalesce(col("p2"), col("anc").cast("string")),
              lit("/"), col("path"))).as("path"))
        .localCheckpoint(false)
      open = stepped.filter(col("anc") =!= -1L).count()
      freeCheckpoint(cur)
      cur = stepped
      iter += 1
    }
    if (open > 0)
      logWarning(s"hierarchyFlatten exhausted maxIter=$maxIter with $open " +
        "unresolved nodes (cycle or depth > 2^maxIter)")
    reRoot(spark, cur).select(col("node"),
        split(col("path"), "/").getItem(0).cast("long").as("root"),
        col("depth"), col("path"))
      .orderBy(col("node"))
  }

  /** Oracled hierarchy instance: the decimal-digit tree over customer
    * keys (node k's parent is k DIV 10 — dense keys make every
    * ancestor a real node; depth ≤ 5 at any SF). */
  def customerHierarchy(t: Tables): DataFrame =
    hierarchyFlatten(t.customer.select(col("c_custkey").as("node"),
      org.apache.spark.sql.functions.expr("c_custkey DIV 10").as("parent")))

  /** The co-purchase edge list shared by [[copurchaseClusters]] and
    * [[copurchaseTriangles]]: parts are connected when they appear in
    * the same order at least `minCo` times (the repeat threshold prunes
    * the one-off noise that would otherwise glue everything into a
    * single giant component). Edge generation is an equi-join on the
    * order key — per-order fan-out is (lines choose 2), bounded by
    * order size, never a global cross product.
    *
    * Repartition on the join key BEFORE the self-join: the projected
    * two-column frame is small enough to broadcast, and a broadcast
    * join would stream the other side's single-row-group scan through
    * ONE task — the whole pair explosion runs serially. Pre-hashing by
    * l_orderkey forces the streamed side wide; the build side can
    * still broadcast. (On a multi-split cluster table the scan is
    * already parallel and this reshuffle is one pass of two longs/row.)
    *
    * Both oracled instances (`q_components`, `q_triangles`) pin
    * minCo=2 — the oracle SQL hard-codes `HAVING COUNT(*) >= 2`, so a
    * non-default call is a different (un-oracled) query. */
  private def copurchaseEdges(t: Tables, minCo: Int): DataFrame = {
    val l = t.lineitem.select(col("l_orderkey"), col("l_partkey"))
      .repartition(t.spark.sparkContext.defaultParallelism, col("l_orderkey"))
    l.select(col("l_orderkey"), col("l_partkey").as("a"))
      .join(l.select(col("l_orderkey"), col("l_partkey").as("b")), Seq("l_orderkey"))
      .filter(col("b") > col("a"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= minCo)
      .select(col("a"), col("b"))
  }

  /** Co-purchase part clusters over [[copurchaseEdges]] (oracle pins
    * minCo=2). */
  def copurchaseClusters(t: Tables, minCo: Int = 2): DataFrame = {
    val edges = copurchaseEdges(t, minCo)
    val w = Window.partitionBy(col("cluster_id"))
    connectedComponents(edges)
      .select(col("node").as("part_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w).cast("long"))
      .orderBy(col("part_id"))
  }

  /** Fixed-iteration PageRank in exact integer micro units: rank is a
    * BIGINT ppm mass, each round computes
    * `p' = 150000 + (850 · Σ_in (p DIV deg)) DIV 1000` — every
    * operation is bigint floor arithmetic, so after a FIXED number of
    * rounds both engines hold bit-identical ranks (no float damping,
    * no convergence epsilon). Expects a SYMMETRIZED (src, dst) edge
    * list, so deg ≥ 1 everywhere and there are no dangling-mass
    * corrections to mirror.
    *
    * Scale: per round one join of the skinny (node, p) frame against
    * the edge list (shuffle on node id) + one aggregate on dst —
    * exactly a CC round's budget; edges persist hashed once. State is
    * localCheckpoint'ed per round and the previous round's blocks are
    * freed, same lineage discipline as [[connectedComponents]]. */
  def pageRank(edges: DataFrame, iters: Int = 5): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .withColumnRenamed("src", "dnode").persistTracked()
    val nodes = e.select(col("src").as("node")).distinct().persistTracked()
    var p = nodes.select(col("node"), lit(1000000L).as("p")).localCheckpoint()
    // Same loop discipline as connectedComponents: size the per-round
    // shuffles to the rank frame (not the session default), and on
    // small graphs broadcast the node-sized sides + switch AQE off so
    // each round is one classically-scheduled job — per-round
    // SCHEDULING, not data, dominates tiny-graph loops.
    val nNodes = p.count()
    val parts = math.max(8L, math.min(20000L, nNodes / 250000L + 1)).toInt
    val small = nNodes < 4000000L
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val loop = Tuning.scoped(spark, Tuning.loopConf(parts, small): _*)
    val (eL, degL, nodesL) = (reRoot(loop, e), reRoot(loop, deg), reRoot(loop, nodes))
    p = reRoot(loop, p)
    try {
      // Checkpoint every 4th round, not every round: each checkpoint
      // is a driver-scheduled materialization job, and on small graphs
      // per-round JOB LATENCY (not data) is the whole cost. In between,
      // rounds stay lazy — Spark executes the nested plan as one query
      // with one shuffle stage per round. Depth stays bounded (≤4
      // rounds ≈ a dozen operators), so analysis cost never compounds
      // the way an unbounded iterative lineage would.
      var lastCkpt = p
      var sinceCkpt = 0
      for (i <- 1 to iters) {
        val contrib = eL.join(hint(p), col("node") === col("src"))
          .join(hint(degL), col("node") === col("dnode"))
          .select(col("dst").as("node"), expr("p DIV d").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("s"))
        p = nodesL.join(hint(contrib), Seq("node"), "left")
          .select(col("node"),
            (lit(150000L) +
              expr("850 * coalesce(s, 0) DIV 1000")).as("p"))
        sinceCkpt += 1
        if (sinceCkpt >= 4 && i < iters) {
          p = p.localCheckpoint()
          freeCheckpoint(lastCkpt)
          lastCkpt = p
          sinceCkpt = 0
        }
      }
      // Materialize the FINAL frame before releasing the loop state:
      // after this, only the returned frame's blocks stay cached (same
      // contract as connectedComponents — the caller owns its
      // lifetime), never the edge/degree scaffolding.
      if (sinceCkpt > 0) {
        p = p.localCheckpoint()
        freeCheckpoint(lastCkpt)
      }
    } finally {
      deg.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      freeCheckpoint(e)
    }
    reRoot(spark, p)
  }

  /** Oracled PageRank instance: centrality over the verified near-dup
    * pair graph (Dedup.minhash) — the representative-picking signal a
    * cluster-aware sampler uses (rank-weighted instead of min-id).
    * Singleton documents carry no edges and are excluded, as in
    * [[connectedComponents]]. */
  def docPageRank(t: Tables, iters: Int = 5): DataFrame = {
    val pairs = Dedup.minhash(t)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    pageRank(edges, iters)
      .select(col("node").as("doc_id"), col("p").as("pagerank_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Per-node triangle counts over an undirected (a < b) edge list,
    * via degree-ordered edge orientation — the classic trick that makes
    * distributed triangle counting feasible: orient every edge from its
    * lower-(degree, id) endpoint to its higher one, so each triangle is
    * produced EXACTLY ONCE (at its unique doubly-outgoing apex) and the
    * wedge join fans out from low-degree nodes only. A hub of degree d
    * contributes ZERO wedges as an apex unless d is among the smallest
    * of its edges' endpoints, bounding wedge production at O(m^{3/2})
    * regardless of the degree distribution — the difference between a
    * celebrity node exploding into d²/2 candidate wedges and the same
    * node costing nothing. All three joins are equi-joins on node keys
    * (hash-shuffled, AQE skew-split eligible); no state, no iteration.
    *
    * Returns (node, n_tri) for nodes in ≥1 triangle, plus each node's
    * triangle count — every triangle credits all 3 corners. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.persistTracked()
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient u→v by (deg, id) total order; carry the far endpoint's
    // degree so the wedge join can order its two spokes the same way
    val ed = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = ed.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("db")).otherwise(col("da")).as("dv"))
      .persistTracked()
    // wedge (u→v, u→w) with (dv,v) < (dw,w), closed by oriented v→w:
    // the closing edge is necessarily oriented v→w because the total
    // order already ranks v below w
    val spokeLt = (col("e1.dv") < col("e2.dv")) ||
      (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.u") === col("e2.u") && spokeLt)
      .join(o.as("e3"),
        col("e3.u") === col("e1.v") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    // No ORDER BY here: callers (copurchaseTriangles) impose their own
    // ordering on the renamed columns, and a sort below a rename-only
    // select is dead work unless EliminateSorts happens to fire.
    tri.select(col("x").as("node"))
      .unionAll(tri.select(col("y").as("node")))
      .unionAll(tri.select(col("z").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with a
    * DETERMINISTIC tie rule and a FIXED round count — the community-
    * detection step between plain connected components (which glues
    * everything reachable) and full modularity methods: each round
    * every node adopts the most frequent label among its neighbors,
    * ties to the smallest label. Fixed `rounds` (no convergence test)
    * keeps the trajectory engine-exact, so DuckDB replays each round
    * as one CTE — the q_mmr_rerank unrolling device.
    *
    * Scale: per round one equi-join of the skinny (node, lbl) frame
    * against the symmetric edge list + one (node, lbl) count + one
    * per-node window argmax — the connectedComponents round budget;
    * the edge list is hashed once and reused. */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .persistTracked()
    var lbl = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    val w = Window.partitionBy(col("node"))
      .orderBy(col("n").desc, col("lbl"))
    for (_ <- 1 to rounds) {
      lbl = sym
        .join(lbl.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("lbl"))
    }
    val cw = Window.partitionBy(col("lbl"))
    lbl
      .withColumn("community_size", count(lit(1)).over(cw).cast("long"))
      .orderBy(col("node"))
  }

  /** Oracled LPA instance over the co-purchase graph
    * ([[copurchaseEdges]]; oracle pins minCo=2, rounds=3). */
  def copurchaseCommunities(t: Tables, rounds: Int = 3): DataFrame =
    labelPropagation(copurchaseEdges(t, 2), rounds)
      .select(col("node").as("part_id"), col("lbl").as("community"),
        col("community_size"))
      .orderBy(col("part_id"))

  /** Oracled triangle instance: the co-purchase graph
    * ([[copurchaseEdges]]; oracle pins minCo=2) — triangle density is
    * the standard cohesion signal that separates genuine product
    * communities from star-shaped catalog hubs. */
  def copurchaseTriangles(t: Tables, minCo: Int = 2): DataFrame = {
    triangleCounts(copurchaseEdges(t, minCo))
      .select(col("node").as("part_id"), col("n_tri"))
      .orderBy(col("n_tri").desc, col("part_id"))
  }
}
