package graft.operators

import graft.CacheRegistry.Tracked
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanTransplant.reRoot

/** Distributed suffix-array construction by prefix doubling
  * (Manber & Myers 1993; the shuffle-based formulation of Flick &
  * Aluru 2015) — the exact-substring machinery behind suffix-array
  * training-data dedup (Lee et al. 2022): after round k every suffix
  * carries an integer rank ORDER-ISOMORPHIC to its first 2^k
  * characters, so equal ranks ⟺ equal 2^k-prefixes and sorting by
  * the final rank IS the suffix array. substrDedup's fixed-k shingle
  * islands approximate this; the SA is the exact arbitrary-length
  * tool.
  *
  * Suffixes never cross document boundaries: positions are keyed
  * (doc_id, off) and the doubling lookup joins on (doc_id, off + 2^k),
  * so a suffix that runs off its document's end pairs with the −1
  * sentinel (shorter-suffix-sorts-first, and two suffixes group
  * together only when their characters AND lengths agree — exactly
  * substring equality).
  *
  * Scale: round k is three skinny shuffles of (doc_id, off, rank)
  * rows — the doubling self-join (hash on (doc_id, off)), a distinct
  * over (rank, rank2) pairs, and the join-back — plus a RANGE
  * partition over the distinct pairs for dense re-ranking via
  * Curation.globalRowNumber (never a single-partition window).
  * O(log maxLen) rounds; state is localCheckpoint'ed per round, the
  * Components lineage discipline. At 100 TB the corpus crosses the
  * wire as (docId, off, rank) triples — ~20 bytes/char/round — the
  * known cost of exact SA dedup, paid only by the pipelines that need
  * arbitrary-length exact repeats (fixed-length needs stay on the
  * cheaper shingle operators). */
object SuffixArray {

  /** One row per character: (doc_id, off 1-based, rank = char code). */
  private def charRanks(docs: DataFrame): DataFrame =
    Dedup.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), posexplode(split(col("text"), ""))
        .as(Seq("off0", "ch")))
      .filter(length(col("ch")) > 0) // split("") can emit empty edges
      .select(col("doc_id"), (col("off0") + 1).cast("long").as("off"),
        ascii(col("ch")).cast("long").as("rank"))

  /** Prefix-doubling EQUALITY ranks after `rounds` rounds: equal
    * `rank` ⟺ the suffixes at those positions agree on their first
    * 2^rounds characters (comparing end-of-document as a sentinel —
    * two positions group together only when their characters AND
    * lengths agree). `rank` is an OPAQUE equality key (a long, or a
    * two-long struct for the final round) — NOT order-isomorphic;
    * the consumers ([[repeatedSpansDocs]], [[saDedup]]) only ever
    * group by it, and [[suffixArray]] keeps the classic
    * order-isomorphic dense-rank loop.
    *
    * r18 optimization (guide §2.4 — remove shuffles outright), two
    * published prefix-doubling refinements:
    *  1. WORD-WIDTH SEEDING (the k-mer bucket-sort init of practical
    *     SA builders, e.g. Flick & Aluru 2015 §4 pack initial k-mers
    *     into machine words): round 0 ranks the 8-char WINDOW at each
    *     position (dense rank over distinct windows — binary string
    *     order of the truncated window is exactly the sentinel
    *     comparison, shorter-prefix-first), so the loop starts at
    *     step=8 instead of step=1 — three full doubling rounds
    *     (3 shuffles + a range re-rank each) never run.
    *  2. PACKED RE-RANK ELISION: a doubling round only needs ranks
    *     DENSE when a later round must pair them again within long
    *     range; while the current bound m satisfies (m+2)² < 2⁶³ the
    *     (rank, rank₂) pair packs injectively into one long
    *     (rank·(m+2) + rank₂+1) — the distinct + globalRowNumber +
    *     join-back of that round disappears. The FINAL round needs no
    *     rank at all: the (rank, rank₂) struct IS the group key.
    *     Ranks re-densify (classic re-rank) only when the bound would
    *     overflow — at 100 TB (n ≈ 10¹⁴ chars > 3·10⁹) every round
    *     re-densifies and the wire cost reverts to the documented
    *     ~20 bytes/char/round; at any n the results are identical.
    *
    * Registered instances (rounds=4: seed + 1 struct round; rounds=5:
    * seed + 1 packed + 1 struct round) run 2 corpus shuffles + one
    * distinct-window re-rank instead of 4-5 rounds × (3 shuffles + a
    * range re-rank). Oracled end-to-end: q_repeated_spans /
    * q_sa_dedup group raw substrings in DuckDB, so a wrong rank
    * anywhere splits or merges a group. */
  def buildRanks(docs: DataFrame, rounds: Int): DataFrame = {
    val span = 1L << rounds
    val seedLen = math.min(span, 8L).toInt
    withSeedTuning(docs, seedLen) { (r0, n) =>
      var r = r0
      var step = seedLen.toLong
      var bound = n.toDouble // max value a current rank can hold
      while (step < span) {
        val right = r.select(col("doc_id"), (col("off") - step).as("off"),
          col("rank").as("r2"))
        val paired = r.join(right, Seq("doc_id", "off"), "left")
        if (step * 2 >= span) {
          // final round: the pair is the equality key — no re-rank.
          // Checkpointed so multi-consumer plans (saDedup reads the
          // group frame twice) don't recompute the join.
          val out = paired.select(col("doc_id"), col("off"),
            struct(col("rank").as("r1"),
              coalesce(col("r2"), lit(-1L)).as("r2")).as("rank"))
            .localCheckpoint()
          Components.freeCheckpoint(r)
          r = out
        } else if (bound + 2 < 3.0e9) {
          // packed round: injective (rank, r2) → one long; missing r2
          // (suffix runs off the document) packs as 0, present as
          // r2+1 ≥ 1 — the sentinel stays distinct from every rank
          val m = lit(math.round(bound) + 2)
          val out = paired.select(col("doc_id"), col("off"),
            (col("rank") * m + coalesce(col("r2") + lit(1L), lit(0L)))
              .as("rank"))
            .localCheckpoint()
          Components.freeCheckpoint(r)
          r = out
          bound = (bound + 2) * (bound + 2)
        } else {
          r = doubleRoundPaired(r, paired)
          bound = n.toDouble
        }
        step *= 2
      }
      r
    }
  }

  /** Classic dense re-rank of a pre-paired round (the overflow arm of
    * [[buildRanks]]): distinct (rank, r2) pairs → globalRowNumber →
    * join back. Identical to [[doubleRound]] with the pairing hoisted. */
  private def doubleRoundPaired(r: DataFrame, paired0: DataFrame): DataFrame = {
    val paired = paired0.select(col("doc_id"), col("off"), col("rank"),
      coalesce(col("r2"), lit(-1L)).as("r2"))
    val groups = Curation.globalRowNumber(
        paired.select(col("rank"), col("r2")).distinct(),
        col("rank"), col("r2"))
      .withColumnRenamed("_rn", "nrank")
    val out = paired.join(groups, Seq("rank", "r2"))
      .select(col("doc_id"), col("off"), col("nrank").as("rank"))
      .localCheckpoint()
    Components.freeCheckpoint(r)
    out
  }

  /** Seed-at-word-width variant of [[withLoopTuning]]: same child
    * session + shuffle sizing, but round 0 is the dense rank of the
    * `seedLen`-char window at each position instead of single char
    * codes. Binary string order of the truncated window ≡ the −1
    * sentinel comparison (a window shorter than `seedLen` IS the
    * suffix, and a proper prefix sorts before every extension), so
    * window equality ⟺ first min(seedLen, remaining) chars AND
    * length equal — exactly the seed the doubling invariant needs.
    * Passes the corpus char count `n` to the body (the pack bound). */
  private def withSeedTuning(docs: DataFrame, seedLen: Int)(
      body: (DataFrame, Long) => DataFrame): DataFrame = {
    val n = docs.agg(coalesce(sum(length(col("text"))), lit(0L)).cast("long"))
      .head.getLong(0)
    val parts = math.max(8L, math.min(20000L, n / 250000L + 1)).toInt
    val loopSpark = Tuning.scoped(docs.sparkSession,
      Tuning.loopConf(parts, small = n < 4000000L): _*)
    val wins = Dedup.spread(docs.select(col("doc_id"), col("text")))
      .filter(length(col("text")) >= 1) // sequence(1, len) must ascend
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")))).as("i"), col("text"))
      .select(col("doc_id"), col("i").cast("long").as("off"),
        col("text").substr(col("i"), lit(seedLen)).as("w"))
    // r19: re-root the plan instead of createDataFrame(wins.rdd) — the
    // .rdd form decoded + re-encoded every (doc, off, window) row and
    // ran the explode/substr pass under the caller's conf; the
    // transplant moves zero rows and the loop tuning covers the window
    // build too
    val w0 = reRoot(loopSpark, wins)
      .localCheckpoint() // eager — the one materialization of the window table
    val groups = Curation.globalRowNumber(
        w0.select(col("w")).distinct(), col("w"))
      .withColumnRenamed("_rn", "rank")
    val r0 = w0.join(groups, Seq("w"))
      .select(col("doc_id"), col("off"), col("rank"))
      .localCheckpoint()
    Components.freeCheckpoint(w0)
    body(r0, n)
  }

  /** The Components loop discipline for the doubling rounds: size the
    * per-round shuffles to the CHAR table (a (doc,off,rank) row is
    * ~24 bytes — the session default would run 32 near-empty tasks per
    * stage at gate scale), and on small inputs switch AQE off so each
    * round schedules as one classic job (per-round JOB LATENCY, not
    * data, dominates small-corpus doubling).
    *
    * The tuning lives on the caller's [[Tuning.scoped]] child: it
    * shares the SparkContext — and therefore the localCheckpoint block
    * store — but owns its SQLConf, so the loop-sized shuffle partitions
    * and the AQE switch never apply to a plan compiled concurrently on
    * the caller's session (parallel suites, another operator), and a
    * body failure mid-loop has nothing to restore (orphaned round
    * checkpoints are unpersisted by the ContextCleaner when their RDDs
    * are collected). The child is cached per (caller conf, overrides),
    * so repeated calls reuse it; the returned frame stays on it. The
    * callback receives the checkpointed char table re-rooted in the
    * child and the one-round function. */
  private def withLoopTuning(docs: DataFrame)(
      body: (DataFrame, (DataFrame, Long) => DataFrame) => DataFrame)
      : DataFrame = {
    // char count == Σ length(text): one cheap scan sizes the loop
    // WITHOUT materializing the char table first (the tuning must be
    // known before the char table is checkpointed into the child
    // session, and a count on the exploded table would cost a full
    // extra materialization pass)
    val n = docs.agg(coalesce(sum(length(col("text"))), lit(0L)).cast("long"))
      .head.getLong(0)
    val parts = math.max(8L, math.min(20000L, n / 250000L + 1)).toInt
    val loopSpark = Tuning.scoped(docs.sparkSession,
      Tuning.loopConf(parts, small = n < 4000000L): _*)
    val chars = charRanks(docs)
    // r19: plan transplant, not createDataFrame(chars.rdd) — see
    // withSeedTuning
    val r0 = reRoot(loopSpark, chars)
      .localCheckpoint() // eager — the one materialization of the char table
    body(r0, doubleRound)
  }

  /** One doubling round: rank ⊕ rank-at-(off+step) → dense re-rank. */
  private def doubleRound(r: DataFrame, step: Long): DataFrame = {
    val right = r.select(col("doc_id"), (col("off") - step).as("off"),
      col("rank").as("r2"))
    val paired = r.join(right, Seq("doc_id", "off"), "left")
      .select(col("doc_id"), col("off"), col("rank"),
        coalesce(col("r2"), lit(-1L)).as("r2"))
    val groups = Curation.globalRowNumber(
        paired.select(col("rank"), col("r2")).distinct(),
        col("rank"), col("r2"))
      .withColumnRenamed("_rn", "nrank")
    val out = paired.join(groups, Seq("rank", "r2"))
      .select(col("doc_id"), col("off"), col("nrank").as("rank"))
      .localCheckpoint()
    Components.freeCheckpoint(r)
    out
  }

  /** The full (generalized) suffix array: doubling until the rank
    * partition reaches its FIXPOINT — the distinct-rank count is
    * strictly increasing until no 2^k can split any group further
    * (identical suffixes appearing in SEVERAL documents keep one
    * shared dense rank forever, so "all ranks unique" would never
    * terminate; the fixpoint test handles duplicates for free). The
    * final dense rank IS the 1-based suffix-array position, with ties
    * exactly on identical cross-document suffixes. Returns
    * (sa_pos, doc_id, off). */
  def suffixArray(docs: DataFrame): DataFrame =
    withLoopTuning(docs) { (r0, round) =>
      var r = r0
      var step = 1L
      var prevDistinct = -1L
      var distinctRanks = r.select(col("rank")).distinct().count()
      while (distinctRanks > prevDistinct) {
        prevDistinct = distinctRanks
        r = round(r, step)
        distinctRanks = r.select(col("rank")).distinct().count()
        step *= 2
      }
      r.select(col("rank").as("sa_pos"), col("doc_id"), col("off"))
        .orderBy(col("sa_pos"))
    }

  /** Exact repeated spans of (up to) `2^rounds` characters across the
    * corpus, FROM THE RANK TABLE: suffix positions sharing a round-k
    * rank share their first 2^k characters, so rank groups with ≥ 2
    * members are exactly the repeated prefixes — the oracle groups by
    * the raw substring instead, which gates the whole doubling
    * construction (a wrong rank anywhere splits or merges a group).
    * Output: (prefix, n_occ, n_docs) for each repeated span, the
    * repeated-substring report a dedup pass consumes. */
  def repeatedSpans(t: Tables, rounds: Int = 4): DataFrame =
    repeatedSpansDocs(
      // the ORACLED instance runs on a 20% doc slice: exact SA costs
      // ~20 bytes/char/round on the wire by design, and the slice
      // gates the construction identically at a fifth of the bench
      // budget (13.1 s -> ~2.6 s at sf0.1); full-corpus callers use
      // repeatedSpansDocs directly
      t.documents.filter(col("doc_id") % 5 === 0), rounds)

  /** Exact-substring DOCUMENT dedup on the suffix-array ranks — the
    * Lee et al. 2022 application end-to-end: documents sharing any
    * repeated 2^rounds-char span are linked and collapsed to one
    * survivor per cluster (min doc id, the Dedup convention). The
    * registered instance links on 32-char spans (rounds=5) — 16-char
    * spans over the synthetic 20-word vocabulary link everything into
    * one cluster, the span-length sensitivity a real deployment tunes.
    * Hub spans occurring more than `maxOcc` times are boilerplate and
    * skipped — the minhash giant-bucket cap's exact-substring analog,
    * and the reason group linking stays LINEAR: each kept group
    * contributes star edges to its min doc, never pairwise fan-out.
    * Runs on the same 20% slice as [[repeatedSpans]]; fully oracled
    * (substring groups → star edges → recursive-CTE closure). */
  def saDedup(t: Tables, rounds: Int = 5, maxOcc: Long = 20): DataFrame = {
    val docs = t.documents.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
    val ranks = buildRanks(docs, rounds)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("rank"))
    val kept = ranks
      .withColumn("n_occ", count(lit(1)).over(w))
      .filter(col("n_occ") >= 2 && col("n_occ") <= maxOcc)
    val gd = kept.select(col("rank"), col("doc_id")).distinct()
    val gmin = gd.groupBy(col("rank")).agg(min(col("doc_id")).as("a"))
    val edges = gd.join(gmin, Seq("rank"))
      .filter(col("doc_id") =!= col("a"))
      .select(col("a"), col("doc_id").as("b")).distinct()
    val cc = Components.connectedComponents(edges)
      .select(col("node").as("doc_id"), col("lbl"))
    docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"),
        when(coalesce(col("lbl"), col("doc_id")) === col("doc_id"), 1)
          .otherwise(0).as("survivor"))
      .orderBy(col("doc_id"))
  }

  /** [[repeatedSpans]] over an explicit (doc_id, text) frame. */
  def repeatedSpansDocs(documents: DataFrame, rounds: Int = 4): DataFrame = {
    val docs = documents.select(col("doc_id"), col("text"))
    val ranks = buildRanks(docs, rounds)
    val span = 1 << rounds
    val groups = ranks.groupBy(col("rank"))
      .agg(count(lit(1)).cast("long").as("n_occ"),
        countDistinct(col("doc_id")).cast("long").as("n_docs"),
        min(struct(col("doc_id"), col("off"))).as("rep"))
      .filter(col("n_occ") >= 2)
    groups
      .join(docs.withColumnRenamed("doc_id", "rdoc"),
        col("rep.doc_id") === col("rdoc"))
      .select(
        substring(col("text"), col("rep.off").cast("int"), lit(span)).as("prefix"),
        col("n_occ"), col("n_docs"))
      .orderBy(col("prefix"))
  }
}
