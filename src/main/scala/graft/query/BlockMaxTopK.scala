package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.{InvertedIndex, PostingBlocks}
import graft.score.ScoreModel

/** Block-max WAND-style top-k over compressed posting blocks
  * (north_star: "posting-list intersection with block-max WAND top-k
  * pruning over broadcast term statistics").
  *
  * Blocks share GLOBAL doc-id ranges across terms, so a sound per-range
  * score upper bound exists without decoding anything:
  *
  *   UB(range) = Σ_queryTerm max_expansion modelBound(block metadata)
  *
  * where `modelBound` is the scorer's [[ScoreModel.blockUpperBound]] (BM25:
  * tfn(maxTf, minFl)·idf·eboost; zero-to-one: entscore/qlen; a model with no
  * sound metadata bound falls back to exhaustive) — the metadata-only
  * mirror of the merge rule (max within a query term's expansions, sum
  * across query terms, which also dominates zero-to-one's max-over-fields).
  *
  * Three-phase, all distributed, one tiny driver action for the threshold:
  *  1. θ-probe: exact-score the highest-UB ranges — a static floor of
  *     `probeBlocks`, ADAPTIVELY extended until the block `cnt` metadata
  *     guarantees ≥ k candidate docs (per range, max-over-terms cnt lower-
  *     bounds its distinct matched docs; ranges are disjoint, so the sum
  *     lower-bounds coverage). The k-th best score found is a valid
  *     pruning threshold θ (those k docs are real, so nothing scoring < θ
  *     can reach the top k). Soundness for ANY model (including
  *     non-additive ones) rests on global ranges: a doc lives in exactly
  *     one range, and the probe takes ALL expanded terms' blocks for its
  *     ranges, so every probed doc is scored over its COMPLETE posting
  *     set — probe scores are true scores, never partial ones.
  *  2. prune: keep ranges with UB ≥ θ — at 10^12 docs this is the
  *     difference between decoding every posting of a hot term and
  *     decoding the few ranges that can still matter. COST-BASED EXIT:
  *     when the bound turns out not to prune (survivors ≥ `bailRatio` of
  *     the ranges — uniform-variance disjunctions, or a θ the probe could
  *     not seed), the block path would only add its overhead to an
  *     exhaustive-sized decode (measured 1.6–2.3×, BENCH.md), so the query
  *     bails to the exhaustive plan, which computes identical scores.
  *  3. exact: decode surviving blocks, score with the SAME expressions as
  *     the exhaustive path, global top-k. When the block table carries the
  *     `rg` hive column ([[graft.index.IndexCatalog]] format v3) the probe
  *     and survivor decodes add an `rg IN (…)` predicate — partition
  *     pruning, not just row-group stats, on the doc-id-range axis.
  *
  * TOMBSTONES (lazy deletion) keep pruning ALIVE here, unlike the round-3
  * engine which fell back to exhaustive between a delete and the next
  * vacuum. The bound stays sound because each ingredient moves the safe
  * way:
  *  - per-expansion df is the LIVE df (the same resolution the exhaustive
  *    path uses, [[QueryEngine.liveDfs]]) — the UB and the exact scoring
  *    then use the same live idf;
  *  - field stats are the live ones ([[InvertedIndex.fieldStats]]);
  *  - block metadata (max_tf, min_fl, cnt) covers a SUPERSET of the live
  *    entries, and the tf-norm is increasing in tf and decreasing in fl,
  *    so the stored pair still dominates every live entry (cnt may
  *    overcount coverage under tombstones — θ then stays -inf and the
  *    exhaustive bail covers it; never unsound);
  *  - probe and final candidates — decoded blocks, which hold tombstoned
  *    entries until a vacuum — drop tombstoned docs before scoring (the
  *    reference skips removed pointers inside the query walk,
  *    reference src/query.rs:65), so θ is a true live score and no
  *    deleted doc can surface.
  * Parity under tombstones is fuzz-pinned by WandParityProps.
  *
  * Falls back to the exhaustive path when the expansion set exceeds the
  * collect cap, a boost is negative (tfn⁺·boost then UNDERestimates the
  * most-negative contribution), the model has no metadata bound, or the
  * cost-based exit fires. Parity with the exhaustive path is asserted in
  * BlockMaxSpec.
  */
object BlockMaxTopK {

  /** Everything phases 1–2 need, shared by [[query]] and [[pruningStats]]
    * so the diagnostic can never drift from the executed plan: the
    * resolved (live-df) expansion set and the per-range upper bounds.
    */
  private final case class WandPrep(
      raw: IndexedSeq[String],
      expDf: DataFrame,
      /** Scan predicate for the block table: `term IN (expanded terms)`,
        * plus `bucket IN (their buckets)` when the block table carries its
        * hive partition column ([[graft.index.IndexCatalog.readBlocks]]) —
        * that makes every block scan (metadata, probe, final decode)
        * PARTITION-PRUNED to the query's buckets.
        */
      blockPred: Column,
      /** The highest-UB prefix of the (block_id, ub, cover) table, ordered
        * (ub desc, block_id asc), collected by ONE job. When `complete`
        * it is the WHOLE table (one row per range the expanded terms
        * touch — tiny for any selective query) and the θ filter and
        * survivor set are driver-side arithmetic; when the table
        * overflows [[MaxCollectedRanges]] the prefix still seeds the
        * probe (the top ranges by UB are by definition in it) and only
        * the survivor filter re-runs the aggregation — the same two
        * passes the non-collected design paid, never three. `cover` is
        * the range's guaranteed-distinct-doc floor for the adaptive probe.
        */
      topRanges: Array[(Long, Double, Long)],
      complete: Boolean,
      rangeUb: DataFrame,
      /** The resolved expansion terms and their dictionary buckets — kept
        * so a cost-based bail can jump straight to the exhaustive scoring
        * tail without re-resolving expansions (one dictionary job, plus
        * the live-df recount job under tombstones, saved per bail).
        */
      eterms: Seq[String],
      ebuckets: Seq[Int])

  /** Collect cap for the per-range UB table (24 bytes/row ⇒ ≤ 6 MiB of
    * driver heap). A hot term over 10^12 docs exceeds it (244M ranges);
    * the DataFrame fallback handles that regime distributed.
    */
  val MaxCollectedRanges = 262144

  /** Hard cap on the adaptively-extended probe prefix: past this the probe
    * is doing a meaningful fraction of the query's work itself; the
    * cost-based exhaustive bail handles the no-pruning outcome instead.
    */
  val MaxAdaptiveProbe = 1024

  /** Phases 0–2 of the WAND plan (tokenize → expand → live-df → range
    * UBs). None ⇒ the caller must take the exhaustive path.
    */
  private def prepare(idx: InvertedIndex,
      blocks: Dataset[PostingBlocks.Block], queryString: String,
      model: ScoreModel, fb: Seq[Double], maxCollectedExpansions: Int,
      tokenizer: String => IndexedSeq[String], maxEdits: Int): Option[WandPrep] = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    if (fb.exists(_ < 0)) return None

    val raw = tokenizer(queryString)
    val qterms = raw.zipWithIndex.collect { case (t, i) if t.nonEmpty => (i, t) }
    if (qterms.isEmpty) return None

    // resolve expansions against the dictionary; need them collected to
    // carry per-term UB factors into the block metadata scan. SHARED
    // with the exhaustive collected path (QueryEngine.resolveExpansionsCollected
    // / resolveFuzzyCollected — same collect cap, same tombstone live df
    // (QueryEngine.liveDfs), same df>0 drop) so the two plans cannot drift in
    // expansion/df semantics. Fuzzy expansions (maxEdits > 0) carry their
    // `edist` column into expDf; the models' expansionColumns then compute
    // the edit-distance boost, and the block bound (idf·eboost — or
    // entscore — times metadata norms) is sound unchanged.
    val (expDf, expTerms, ebuckets) =
      if (maxEdits > 0)
        QueryEngine.resolveFuzzyCollected(idx, qterms, maxEdits,
          maxCollectedExpansions) match {
          case None => return None        // over cap → exhaustive fallback
          case Some((rows, _)) if rows.isEmpty => return None // nothing live
          case Some((rows, buckets)) =>
            (rows.toDF("qti", "qterm", "exp_term", "df", "edist"),
              rows.map(r => r._3), buckets)
        }
      else
        QueryEngine.resolveExpansionsCollected(idx, qterms, maxCollectedExpansions) match {
          case None => return None        // over cap → exhaustive fallback
          case Some((rows, _)) if rows.isEmpty => return None // nothing live
          case Some((rows, buckets)) =>
            (rows.toDF("qti", "qterm", "exp_term", "df"),
              rows.map(r => r._3), buckets)
        }

    val stats = idx.fieldStats() // live stats
    // per-model precalc + block bound via the SAME column expressions as
    // the scorer (bit-equal); a model without a sound metadata bound
    // answers None → exhaustive path (scorer-generic, like the reference
    // query loop)
    val expWithCols = model.expansionColumns(expDf, stats)
    val ubCol = model.blockUpperBound(stats, fb, raw.length, idx.numFields) match {
      case Some(c) => c
      case None => return None
    }
    val eterms = expTerms.distinct
    val blockPred = {
      val tp = col("term").isin(eterms: _*)
      if (blocks.columns.contains("bucket") && ebuckets.nonEmpty &&
          ebuckets.forall(_ >= 0))
        col("bucket").isin(ebuckets: _*) && tp
      else tp
    }

    // ---- block metadata → per-range upper bounds + coverage floors ----
    // (max_tf/min_fl cover a superset of live entries — still an upper
    // bound under tombstones, see scaladoc)
    val meta = QueryEngine.joinExpansions(blocks.toDF().filter(blockPred)
      .select(col("term"), col("block_id"), col("max_tf"), col("min_fl"),
        col("cnt")), expWithCols)
      .select(col("block_id"), col("qti"), ubCol.as("ub"), col("cnt"))
    val rangeUb = meta
      .groupBy(col("block_id"), col("qti"))
      .agg(max(col("ub")).as("mub"), max(col("cnt")).as("mc"))
      .groupBy(col("block_id"))
      .agg(sum(col("mub")).as("ub"), max(col("mc")).as("cover"))
    val ubRows = rangeUb.orderBy(col("ub").desc, col("block_id").asc)
      .limit(MaxCollectedRanges + 1).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2).toLong))
    Some(WandPrep(raw, expDf, blockPred, ubRows,
      complete = ubRows.length <= MaxCollectedRanges, rangeUb,
      eterms, ebuckets))
  }

  /** The probe prefix: at least `probeBlocks` highest-UB ranges, extended
    * while the guaranteed doc coverage is below k (see scaladoc phase 1),
    * capped at [[MaxAdaptiveProbe]].
    */
  private def probeIdsFor(p: WandPrep, k: Int, probeBlocks: Int): Seq[Long] = {
    var cover = 0L; var n = 0
    val cap = math.min(p.topRanges.length.toLong,
      math.max(probeBlocks.toLong, MaxAdaptiveProbe.toLong)).toInt
    while (n < p.topRanges.length && (n < probeBlocks || (cover < k && n < cap))) {
      cover += p.topRanges(n)._3; n += 1
    }
    p.topRanges.take(n).map(_._1).toSeq
  }

  /** `rg IN (…)` partition-pruning predicate for a block-id set, when the
    * table carries the format-v3 range-group hive column and the caller
    * told us the grouping factor (0 = unknown → no-op predicate).
    */
  private def rgPredicate(blocks: Dataset[PostingBlocks.Block],
      ids: Seq[Long], rangesPerGroup: Long): Column =
    if (rangesPerGroup > 0 && blocks.columns.contains("rg"))
      col("rg").isin(ids.map(i => (i / rangesPerGroup).toInt).distinct: _*)
    else lit(true)

  /** Phase 1: exact-score the probe ranges; the k-th best TRUE score found
    * is the pruning threshold θ.
    */
  private def thetaProbe(idx: InvertedIndex,
      blocks: Dataset[PostingBlocks.Block], p: WandPrep, model: ScoreModel,
      fb: Seq[Double], k: Int, blockSize: Long, probeIds: Seq[Long],
      rangesPerGroup: Long, docFilter: Option[DataFrame] = None): Double = {
    val probeCand = idx.withoutTombstoned(PostingBlocks.toPostings(
      blocks.toDF().filter(p.blockPred &&
        rgPredicate(blocks, probeIds, rangesPerGroup) &&
        col("block_id").isin(probeIds: _*)),
      idx.numFields, blockSize))
    // docFilter applies INSIDE scoreCandidates: under filtered search θ is
    // the k-th best score among ALLOWED docs — a true attainable score, so
    // pruning stays sound (block UBs over all docs dominate any subset)
    val probed = QueryEngine.scoreCandidates(
      idx, probeCand, p.expDf, model, fb, p.raw.length, k, docFilter).collect()
    if (probed.length >= k) probed(k - 1).getDouble(1) else Double.NegativeInfinity
  }

  /** @param blocks   block table from [[PostingBlocks.fromPostings]]
    * @param k        top-k size (> 0)
    * @param probeBlocks  minimum number of highest-UB ranges exact-scored
    *                     to seed θ (adaptively extended for large k)
    * @param rangesPerGroup  the block table's rg grouping factor
    *                        ([[graft.index.IndexCatalog.readBlocks]] third
    *                        element); 0 when unknown/unpartitioned
    * @param bailRatio  survivors/ranges at or above which the block path
    *                   is abandoned for the exhaustive plan (identical
    *                   scores, none of the block overhead)
    * @param docFilter  allowed-`doc_id` set for FILTERED search (see
    *                   [[QueryEngine.scoreCandidates]]): the θ-probe,
    *                   survivor decode, and every fallback all score only
    *                   allowed docs; corpus-level stats keep per-doc scores
    *                   identical to the unfiltered query's
    */
  def query(idx: InvertedIndex, blocks: Dataset[PostingBlocks.Block],
      queryString: String, model: ScoreModel, boosts: Seq[Double] = Nil, k: Int = 10,
      blockSize: Long = PostingBlocks.DefaultBlockSize, probeBlocks: Int = 8,
      maxCollectedExpansions: Int = 4096, rangesPerGroup: Long = 0,
      bailRatio: Double = 0.9,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw,
      maxEdits: Int = 0, docFilter: Option[DataFrame] = None): DataFrame = {
    require(k > 0, "block-max path is top-k only")
    val fb = if (boosts.isEmpty) Seq.fill(idx.numFields)(1.0) else boosts
    prepare(idx, blocks, queryString, model, fb, maxCollectedExpansions,
      tokenizer, maxEdits) match {
      case None =>
        QueryEngine.query(idx, queryString, model, fb, k, tokenizer = tokenizer,
          maxEdits = maxEdits, docFilter = docFilter)
      case Some(p) =>
        // a DERIVED docFilter (conjunctiveFilter, phraseFilter — each its
        // own pruned scan + aggregation) feeds at least two actions here:
        // the θ-probe collect and the final top-k job. Persist it so the
        // filter pipeline runs once; the pin is released by Spark's
        // ContextCleaner when the result frame is dropped (this is a
        // query-scoped intermediate, not a pipeline-scoped CacheScope cut)
        val docFilterP = docFilter.map(
          _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val probeIds = probeIdsFor(p, k, probeBlocks)
        val theta = thetaProbe(idx, blocks, p, model, fb, k, blockSize,
          probeIds, rangesPerGroup, docFilterP)
        // cost-based exit (see scaladoc phase 2): an unseedable θ prunes
        // nothing anywhere; a survivor set ≈ all ranges (checkable when
        // the UB table is driver-complete) prunes too little to repay the
        // block path's decode overhead. The bail reuses prepare's resolved
        // expansions and jumps straight to the shared scoring tail — the
        // SAME plan QueryEngine.query's collected path builds
        // (WandParityProps), without re-resolving expansions.
        def exhaustive() = QueryEngine.scoreCandidates(idx,
          idx.livePostings.filter(
            QueryEngine.candidatePredicate(idx, p.eterms, p.ebuckets)),
          p.expDf, model, fb, p.raw.length, k, docFilterP)
        if (theta.isNegInfinity) exhaustive()
        else if (p.complete) {
          val surv = p.topRanges.collect { case (id, ub, _) if ub >= theta => id }.toSeq
          if (surv.length >= bailRatio * p.topRanges.length) exhaustive()
          else {
            // survivors as a literal predicate (Catalyst turns a large IN
            // into an InSet hash lookup): rg partition pruning plus
            // row-group pruning on block_id, no extra join, no
            // metadata-agg recompute
            val survBlocks = blocks.toDF().filter(p.blockPred &&
              rgPredicate(blocks, surv, rangesPerGroup) &&
              col("block_id").isin(surv: _*))
            val cand = idx.withoutTombstoned(
              PostingBlocks.toPostings(survBlocks, idx.numFields, blockSize))
            QueryEngine.scoreCandidates(idx, cand, p.expDf, model, fb,
              p.raw.length, k, docFilterP)
          }
        } else {
          val survivors = p.rangeUb.filter(col("ub") >= theta).select("block_id")
          // NO broadcast hint: with a weak θ nearly all ranges survive and
          // a forced broadcast of the survivor set could exceed driver
          // memory in exactly the over-cap regime this branch serves — let
          // AQE pick broadcast vs shuffle from the actual size
          val survBlocks = blocks.toDF().filter(p.blockPred)
            .join(survivors, Seq("block_id"), "left_semi")
          val cand = idx.withoutTombstoned(
            PostingBlocks.toPostings(survBlocks, idx.numFields, blockSize))
          QueryEngine.scoreCandidates(idx, cand, p.expDf, model, fb,
            p.raw.length, k, docFilterP)
        }
    }
  }

  /** NOISE-FREE pruning diagnostics: runs phases 1–2 of [[query]] — through
    * the SAME [[prepare]]/[[probeIdsFor]]/[[thetaProbe]] code, so it can
    * never report the behavior of a different plan — and returns
    * `(totalRanges, survivingRanges, theta)`: the algorithmic effect of a
    * bound change, independent of host timing noise (this VM swings 5×).
    * None when the query would fall back to the exhaustive path BEFORE the
    * probe; the cost-based post-probe bail is visible as
    * survivors ≈ ranges (the caller applies its own bailRatio reading).
    */
  def pruningStats(idx: InvertedIndex, blocks: Dataset[PostingBlocks.Block],
      queryString: String, model: ScoreModel, boosts: Seq[Double] = Nil,
      k: Int = 10, blockSize: Long = PostingBlocks.DefaultBlockSize,
      probeBlocks: Int = 8, maxCollectedExpansions: Int = 4096,
      rangesPerGroup: Long = 0,
      tokenizer: String => IndexedSeq[String] = Analyzer.tokenizeRaw,
      maxEdits: Int = 0): Option[(Long, Long, Double)] = {
    val fb = if (boosts.isEmpty) Seq.fill(idx.numFields)(1.0) else boosts
    prepare(idx, blocks, queryString, model, fb, maxCollectedExpansions,
      tokenizer, maxEdits).map { p =>
      val theta = thetaProbe(idx, blocks, p, model, fb, k, blockSize,
        probeIdsFor(p, k, probeBlocks), rangesPerGroup)
      if (p.complete)
        (p.topRanges.length.toLong, p.topRanges.count(_._2 >= theta).toLong, theta)
      else {
        val cached = p.rangeUb.cache()
        try {
          (cached.count(), cached.filter(col("ub") >= theta).count(), theta)
        } finally { cached.unpersist(); () }
      }
    }
  }
}
