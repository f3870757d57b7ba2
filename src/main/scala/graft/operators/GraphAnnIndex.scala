package graft.operators

import graft.CacheRegistry.Tracked
import graft.sinks.TableWriter
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STORED graph-ANN index — the serving face of [[GraphAnn]], given
  * the same treatment as the MinHash ([[DedupIndex]]) and
  * hyperplane-LSH ([[EmbedIndex]]) indexes: the NN-descent graph is
  * built ONCE, persisted as bucketed tables, and every later session
  * searches or grows it without recomputing anything corpus-sized.
  *
  * Three tables:
  *  - `<prefix>_gedges` (src, dst): the bounded-degree neighbor graph,
  *    bucketed AND sorted by `src` — each search hop's frontier
  *    expansion joins it on src, so the stored side is read in place
  *    and only the (budget-bounded) frontier keys shuffle.
  *  - `<prefix>_gvectors` (vec_id, e): unit-normalized vectors for
  *    scoring, bucketed by `vec_id` — candidate scoring joins it on
  *    the candidate id, in place.
  *  - `<prefix>_gentry` (vec_id): the shared entry points every search
  *    starts from (the build corpus's smallest ids, the Forgy-seed
  *    convention).
  *
  * Search cost is the [[GraphAnn]] probe budget — ≤ seeds +
  * hops·beam·degree scored nodes per query, independent of corpus
  * size — which is the property that makes the STORED form useful: a
  * 10⁹-vector graph answers a query by reading a few hundred bucketed
  * rows, never by scanning vectors.
  *
  * [[insert]] is the HNSW insertion rule re-expressed as joins: each
  * new vector SEARCHES the stored graph for its neighborhood
  * (O(batch · probe budget), index side never rewritten), its best
  * `degree` hits become its out-edges, and the REVERSE edges are
  * appended too so the graph can navigate TO the new nodes. Reverse
  * edges let stored nodes exceed `degree` over many inserts — the
  * standard trade; [[compactIndex]] is the maintenance pass that
  * re-ranks every node back to its best `degree` out-edges (one
  * window over the edge frame joined to stored vectors) and restores
  * the one-file-per-bucket layout. */
object GraphAnnIndex {

  /** negated dot on unit vectors — min-ascending ≡ max cosine, ties by
    * id (GraphAnn's fp convention). */
  private val better: (Column, Column) => Column = // r19: codegen kernel
    (a, b) => -graft.functions.VectorFunctions.dotProduct(a, b)

  /** (vec_id, e) unit-normalized doubles from a raw embedding frame. */
  private def unitize(vecs: DataFrame): DataFrame =
    Dedup.spread(vecs.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("de"))
      .select(col("vec_id"),
        expr("transform(de, x -> x / sqrt(aggregate(de, 0d, (s, y) -> s + y * y)))")
          .as("e"))

  /** Build the graph over `corpus` (vec_id, embedding) and persist the
    * three index tables. `entrySeeds` smallest ids become the stored
    * entry points. */
  def writeIndex(corpus: DataFrame, prefix: String, buckets: Int = 8,
                 degree: Int = 10, rounds: Int = 4, initSeeds: Int = 3,
                 entrySeeds: Int = 8): Unit = {
    val unit = unitize(corpus).persistTracked()
    val n = unit.count()
    val small = n < 100000L
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val edges = GraphAnn.buildGraph(unit, degree, rounds, initSeeds, n,
      better, hint).select(col("src"), col("dst"))
    TableWriter.writeBucketed(edges, s"${prefix}_gedges", buckets, "src")
    TableWriter.writeBucketed(unit, s"${prefix}_gvectors", buckets, "vec_id")
    val entry = unit.orderBy(col("vec_id")).limit(entrySeeds)
      .select(col("vec_id"))
    TableWriter.writeBucketed(entry, s"${prefix}_gentry", 1, "vec_id")
  }

  // ——— delete propagation (r18): tombstoned vertices ———

  private def dead(prefix: String) =
    StoredIndex.Tombstones(s"${prefix}_gdead", "vec_id")

  /** Propagate a corpus delete into the stored graph (r18, the
    * filtered-DiskANN delete rule): the keys land in a tombstone
    * table (O(batch)); every search still TRAVERSES tombstoned
    * vertices — removing them from the walk would fragment the graph
    * into islands the entry points cannot reach — but excludes them
    * at ADMISSION, so a deleted vector is never returned.
    * [[compactIndex]] materializes: dead vertices and their edges
    * leave the stored tables and the surviving nodes re-rank. */
  def delete(spark: SparkSession, keys: DataFrame, prefix: String): Unit =
    dead(prefix).add(spark, keys)

  /** Beam-search `queries` (vec_id, embedding — ids are the CALLER's
    * labels, must not collide with indexed ids) against the stored
    * graph. Returns (query_id, rank, neighbor_id, cosine), the
    * [[GraphAnn.knnGraphFp]] shape. The stored side joins run against
    * the bucketed layout — no index-side Exchange, only frontier keys
    * move. Tombstoned vertices are traversed but never returned. */
  def search(spark: SparkSession, queries: DataFrame, prefix: String,
             k: Int = 5, beam: Int = 12, hops: Int = 4): DataFrame =
    searchAdmitted(spark, queries, prefix, k, beam, hops)(identity)

  /** FILTERED search (the filtered-DiskANN / vector-store rule):
    * traverse the FULL stored graph — restricting traversal to
    * matching nodes would fragment it into islands the entry points
    * can't reach — and apply the metadata predicate only at
    * ADMISSION, so non-matching nodes still act as stepping stones.
    * `meta` is any (vec_id, …) frame; `pred` a boolean Column over
    * it. Post-filtering trades recall at a fixed budget when the
    * matching class is rare — raise `beam`/`hops` to compensate (the
    * spec measures the boosted budget recovering recall); the
    * IVF-side pre-filter twin (q_knn_filtered) is the oracled
    * complement. Admission is a semi-join against the filtered
    * metadata — budget-sized, never corpus-sized. */
  def searchWhere(spark: SparkSession, queries: DataFrame, prefix: String,
                  meta: DataFrame, pred: Column,
                  k: Int = 5, beam: Int = 12, hops: Int = 4): DataFrame =
    searchAdmitted(spark, queries, prefix, k, beam, hops)(_.join(
      meta.filter(pred).select(col("vec_id").as("dst")), Seq("dst"), "left_semi"))

  /** [[search]] with `admit` applied to the visited set before the
    * tombstones and the top-k. */
  private def searchAdmitted(spark: SparkSession, queries: DataFrame,
                             prefix: String, k: Int, beam: Int, hops: Int)
                            (admit: DataFrame => DataFrame): DataFrame = {
    // identity hint: the stored side must NOT be broadcast — reading
    // it in place through the bucketed layout is the whole point
    val visited = GraphAnn.searchGraph(spark.table(s"${prefix}_gedges"),
      spark.table(s"${prefix}_gvectors"), unitize(queries),
      spark.table(s"${prefix}_gentry"), beam, hops, better, identity)
    GraphAnn.topK(dead(prefix).admit(spark, admit(visited), "dst"),
      k, "cosine", -col("d"))
  }

  // ——— PQ-compressed traversal (r17): DiskANN's memory story ———

  /** L2² between two double arrays, in-row (r19: codegen kernel). */
  private def l2(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.l2SqDouble(a, b)

  /** Per-subspace rows of a (vec_id, e) frame: (vec_id, s, sv). */
  private def subVecs(v: DataFrame, dims: Int, dps: Int): DataFrame =
    v.select(col("vec_id"), col("e"),
      explode(sequence(lit(0), lit(dims / dps - 1))).as("s"))
      .select(col("vec_id"), col("s"),
        expr(s"slice(e, s * $dps + 1, $dps)").as("sv"))

  /** Train per-subspace PQ codebooks over the STORED vectors and
    * persist the compressed sidecar (r17): `<prefix>_gpqcent` — the
    * (s, c, cm) codebook, broadcast-sized always — and
    * `<prefix>_gpqcodes` — (vec_id, e = int code per subspace),
    * bucketed like the vectors so traversal reads it in place. With
    * the defaults a 64-dim float index stores 8 small ints per vector
    * in the traversal table: ~16× fewer vector bytes moved per hop
    * (the DiskANN trade — full vectors stay on disk for the final
    * re-rank only; nCent = 256 is FAISS's canonical PQ8x8 — one byte
    * of code space per subspace). Codebooks: md5-seeded partition
    * means, refined by `iters` Lloyd passes — traversal GUIDANCE
    * only; exactness comes from [[searchPq]]'s re-rank. */
  def writePq(spark: SparkSession, prefix: String, buckets: Int = 8,
              dimsPerSub: Int = 8, nCent: Int = 256, iters: Int = 2): Unit = {
    val v = spark.table(s"${prefix}_gvectors")
    val dims = v.select(size(col("e"))).head().getInt(0)
    require(dims % dimsPerSub == 0,
      s"writePq: $dims dims not divisible by $dimsPerSub")
    val sv = subVecs(v, dims, dimsPerSub).persistTracked()
    // per-(s, c) member MEAN as a distributive aggregate: posexplode
    // to (s, c, dim) cells, avg, regroup — map-side combinable, no
    // collect_list of member vectors (a hot centroid at 10⁹ vectors
    // would otherwise build one row holding millions of subvectors)
    val meanPer = (assigned: DataFrame) => assigned
      .select(col("s"), col("c"), posexplode(col("sv")).as(Seq("i", "x")))
      .groupBy(col("s"), col("c"), col("i"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("s"), col("c"))
      .agg(transform(sort_array(collect_list(struct(col("i"), col("m")))),
        _.getField("m")).as("cm"))
    var cent = meanPer(sv.withColumn("c",
      pmod(conv(substring(md5(concat(col("vec_id").cast("string"),
        lit(":"), col("s").cast("string"))), 1, 8), 16, 10).cast("long"),
        lit(nCent)).cast("int")))
      .persistTracked()
    for (_ <- 1 to iters) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"), col("s"))
        .orderBy(col("d2"), col("c"))
      val next = meanPer(sv.join(broadcast(cent), Seq("s"))
        .select(col("vec_id"), col("s"), col("c"), col("sv"),
          l2(col("sv"), col("cm")).as("d2"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("s"), col("c"), col("sv")))
        .persistTracked()
      cent = next
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("s")).orderBy(col("d2"), col("c"))
    val codes = sv.join(broadcast(cent), Seq("s"))
      .select(col("vec_id"), col("s"), col("c"),
        l2(col("sv"), col("cm")).as("d2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("vec_id"))
      .agg(transform(sort_array(collect_list(struct(col("s"), col("c")))),
        _.getField("c")).as("e"))
    TableWriter.writeBucketed(codes, s"${prefix}_gpqcodes", buckets, "vec_id")
    TableWriter.writeBucketed(
      cent.select(col("s"), col("c"), col("cm")),
      s"${prefix}_gpqcent", 1, "s")
  }

  /** Beam-search against the stored graph scoring candidates by PQ
    * ASYMMETRIC DISTANCE (sum of per-subspace LUT lookups over the
    * candidate's stored code — float vectors never touched during
    * traversal), then EXACT-re-rank the best `rerank` visited nodes
    * per query from the full vector table (budget-sized point reads
    * against the bucketed layout). Output shape = [[search]]. The
    * probe budget — and therefore the corpus-size independence the
    * probe cell measures — is identical to the uncompressed search;
    * only the bytes per scored candidate shrink. */
  def searchPq(spark: SparkSession, queries: DataFrame, prefix: String,
               k: Int = 5, beam: Int = 24, hops: Int = 4,
               rerank: Int = 64): DataFrame = {
    val edges = spark.table(s"${prefix}_gedges")
    val codes = spark.table(s"${prefix}_gpqcodes")
    val cent = spark.table(s"${prefix}_gpqcent")
    val entry = spark.table(s"${prefix}_gentry")
    val nCent = cent.agg(max(col("c"))).head().getInt(0) + 1
    val dims = cent.agg(countDistinct(col("s")) * size(first(col("cm"))))
      .head().getLong(0).toInt
    val dps = cent.select(size(col("cm"))).head().getInt(0)
    val q = unitize(queries).persistTracked()
    // per-query LUT flattened to an array indexed [s · nCent + c] — a
    // (queries × subspaces × nCent) frame, broadcast always. The grid
    // is generated DENSE and missing codebook cells (empty Lloyd
    // clusters) fill with +∞: no stored code references them, but the
    // positional arithmetic below needs every slot present.
    val grid = spark.range(dims / dps).select(col("id").cast("int").as("s"))
      .crossJoin(spark.range(nCent).select(col("id").cast("int").as("c")))
    val cells = subVecs(q, dims, dps)
      .join(broadcast(cent), Seq("s"))
      .select(col("vec_id"), col("s"), col("c"),
        l2(col("sv"), col("cm")).as("ld"))
    val lut = q.select(col("vec_id")).crossJoin(broadcast(grid))
      .join(cells, Seq("vec_id", "s", "c"), "left")
      .select(col("vec_id"), col("s"), col("c"),
        coalesce(col("ld"), lit(Double.MaxValue)).as("ld"))
      .groupBy(col("vec_id"))
      .agg(transform(
        sort_array(collect_list(struct(col("s"), col("c"), col("ld")))),
        _.getField("ld")).as("e"))
    // ADC "better": zip the candidate's codes with their subspace
    // index and sum the LUT lookups (element_at is 1-based)
    val adc: (Column, Column) => Column = (lutArr, codeArr) =>
      aggregate(
        zip_with(codeArr, sequence(lit(0), size(codeArr) - 1),
          (cc, ss) => element_at(lutArr, (ss * nCent + cc + 1).cast("int"))),
        lit(0d), _ + _)
    val visited = GraphAnn.searchGraph(edges, codes, lut, entry, beam, hops,
      adc, identity)
    // exact re-rank: full vectors for only the ADC-best candidates
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d"), col("dst"))
    val cand = dead(prefix).admit(spark, visited.filter(col("dst") =!= col("qid")), "dst")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= rerank)
      .select(col("qid"), col("dst"))
    val v = spark.table(s"${prefix}_gvectors")
    val exact = cand
      .join(v.select(col("vec_id").as("dst"), col("e").as("de")), Seq("dst"))
      .join(broadcast(q.select(col("vec_id").as("qid"), col("e").as("qe"))),
        Seq("qid"))
      .select(col("qid"), col("dst"), better(col("qe"), col("de")).as("d"))
    GraphAnn.topK(exact, k, "cosine", -col("d"))
  }

  /** Fold a batch of new vectors into the stored graph (the HNSW
    * insert): each new vector's stored-graph neighborhood (via
    * [[search]]'s machinery, budget-bounded) becomes its out-edges,
    * reversed edges make it reachable, and its vectors join the
    * scoring table. O(batch · probe budget); the stored tables are
    * appended, never rewritten. Batch ids must be fresh. */
  def insert(spark: SparkSession, batch: DataFrame, prefix: String,
             buckets: Int = 8, degree: Int = 10, beam: Int = 12,
             hops: Int = 4): Unit = {
    val found = search(spark, batch, prefix, k = degree, beam, hops)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      .persistTracked()
    val newEdges = found.unionByName(
      found.select(col("dst").as("src"), col("src").as("dst")))
    TableWriter.appendBucketed(newEdges, s"${prefix}_gedges", buckets, "src")
    TableWriter.appendBucketed(unitize(batch), s"${prefix}_gvectors",
      buckets, "vec_id")
  }

  /** Maintenance: re-rank every node to its best `degree` out-edges
    * (inserts accumulate reverse edges past the bound) and rewrite
    * the tables at one file per bucket (TableWriter.rewriteBucketed),
    * dropping tombstoned vertices. */
  def compactIndex(spark: SparkSession, prefix: String, buckets: Int = 8,
                   degree: Int = 10): Unit = {
    // tombstone MATERIALIZATION (r18): dead vertices leave the vector
    // table and every edge touching one leaves the graph before the
    // degree re-rank — the surviving nodes re-pick their best edges
    // from live neighbors only
    val d = dead(prefix)
    val v = d.admit(spark, spark.table(s"${prefix}_gvectors"))
    val edgesLive = d.admit(spark,
      d.admit(spark, spark.table(s"${prefix}_gedges").distinct(), "src"), "dst")
    val ranked = GraphAnn.bestPerSrc(edgesLive, v, degree, better, identity)
      .select(col("src"), col("dst"))
    // entry points must stay LIVE vertices: drop dead ones and top the
    // set back up from the smallest surviving ids (the writeIndex
    // convention) so searches never seed on a removed vector
    val entry0 = spark.table(s"${prefix}_gentry")
    val nEntry = math.max(1L, entry0.count()).toInt
    // MATERIALIZED on the driver (entry sets are a handful of rows)
    // before the rewrites below drop the tables these plans read from
    val entryPlan = d.ids(spark).fold(entry0) { _ =>
      val kept = d.admit(spark, entry0)
      if (kept.count() >= 1) kept
      else v.select(col("vec_id")).orderBy(col("vec_id")).limit(nEntry)
    }
    val entryLive = spark.createDataFrame(
      java.util.Arrays.asList(entryPlan.collect(): _*), entryPlan.schema)
    TableWriter.rewriteBucketed(ranked, s"${prefix}_gedges", buckets, "src")
    TableWriter.rewriteBucketed(v, s"${prefix}_gvectors", buckets, "vec_id")
    TableWriter.rewriteBucketed(entryLive, s"${prefix}_gentry", 1, "vec_id")
    d.clear(spark)
  }
}
